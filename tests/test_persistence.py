"""Persistent materialized state across process restarts (VERDICT missing #2).

The reference keeps module_<cid>.db + state.db files per stream
(leaf-server/src/streams.rs:101-150); here the equivalent is a versioned
parquet snapshot + fold cursor. Reopening a stream must restore tables from
the snapshot WITHOUT re-folding the log (assert zero fold calls), while full
replay stays available as the recovery path.
"""

import pytest

from leaf_spark.stream import Stream
from leaf_spark.types import LeafQuery

from .fixtures import CHAT, COUNTER, bump, marker, msg


def _no_fold(*a, **k):
    raise AssertionError("fold ran during snapshot-based reopen")


class TestSnapshotReopen:
    def test_reopen_without_refolding(self, spark, tmp_root, monkeypatch):
        s = Stream(spark, tmp_root, "did:plc:persist")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1), msg("b", "m2", 2)])
        s.add_state_events([marker("a", 1)])
        s.persist_state()
        expect = s.query(None, LeafQuery("messages"))

        s2 = Stream(spark, tmp_root, "did:plc:persist")
        monkeypatch.setattr(Stream, "_fold_df", _no_fold)
        s2.provide_module(CHAT)  # must load the snapshot, fold nothing
        assert s2.query(None, LeafQuery("messages")) == expect
        # state.* tables persist too (reference state.db is a durable file)
        assert s2.query("a", LeafQuery("my_unread"))[0]["unread"] == 1

    def test_reopen_replays_only_tail(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:persist2")
        s.provide_module(COUNTER)
        s.add_events([bump("u", "x", 1), bump("u", "x", 10)])
        s.persist_state()
        # events past the snapshot cursor…
        s.add_events([bump("u", "x", 100)])

        s2 = Stream(spark, tmp_root, "did:plc:persist2")
        folded = []
        orig = Stream._fold_df

        def counting(self, events, *a, **k):
            folded.append([r["idx"] for r in events.select("idx").collect()])
            return orig(self, events, *a, **k)

        import unittest.mock as mock

        with mock.patch.object(Stream, "_fold_df", counting):
            s2.provide_module(COUNTER)
        # only idx 3 (the tail) refolds — not 1 and 2
        assert folded == [[3]]
        assert s2.query(None, LeafQuery("counters")) == [
            {"name": "x", "value": 111}
        ]

    def test_column_defaults_survive_reopen(self, spark, tmp_root):
        """r12 fix: a snapshot-restored stream skips init_sql, so DDL
        DEFAULT expressions must come back from the manifest — before
        the fix the post-restart fold inserted NULL where SQLite applies
        the default (the reference keeps defaults in the .db schema)."""
        from leaf_spark.module import BasicModuleDef, QueryDef
        from leaf_spark import drisl
        from leaf_spark.types import IncomingEvent

        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists notes (id integer primary "
                "key, body text not null, tag text default 'untagged')"
            ),
            materializer=(
                "insert into notes (body) "
                "select drisl_extract(payload, '.body') from event"
            ),
            queries=(
                QueryDef("notes", "select id, body, tag from notes order by id"),
            ),
        )

        def note(body):
            return IncomingEvent("did:plc:defaults", drisl.encode({"body": body}))

        s = Stream(spark, tmp_root, "did:plc:defaults")
        s.provide_module(mod)
        s.add_events([note("one")])
        s.persist_state()
        s2 = Stream(spark, tmp_root, "did:plc:defaults")
        s2.provide_module(mod)  # snapshot restore, init_sql skipped
        s2.add_events([note("two")])
        assert s2.query(None, LeafQuery("notes")) == [
            {"id": 1, "body": "one", "tag": "untagged"},
            {"id": 2, "body": "two", "tag": "untagged"},
        ]

    def test_auto_snapshot_interval(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:persist3", snapshot_every=2)
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1), msg("a", "m2", 2)])  # hits interval
        import os

        assert os.path.exists(s._snapshot_manifest_path())

        s2 = Stream(spark, tmp_root, "did:plc:persist3")
        s2.provide_module(CHAT)
        assert len(s2.query(None, LeafQuery("messages"))) == 2

    def test_module_swap_invalidates_snapshot(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:persist4")
        s.provide_module(COUNTER)
        s.add_events([bump("u", "x", 1)])
        s.persist_state()
        s.update_module(COUNTER)  # swap resets cursor + drops snapshot
        import os

        assert not os.path.exists(s._snapshot_manifest_path())
        assert s.query(None, LeafQuery("counters")) == [{"name": "x", "value": 1}]

    def test_full_replay_still_works_without_snapshot(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:persist5")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1)])
        # no persist_state() → reopen falls back to full replay
        s2 = Stream(spark, tmp_root, "did:plc:persist5")
        s2.provide_module(CHAT)
        assert len(s2.query(None, LeafQuery("messages"))) == 1

    def test_clear_state_is_durable(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:persist6")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1), msg("a", "m2", 2)])
        s.add_state_events([marker("a", 2)])
        s.persist_state()
        s.clear_state()
        s2 = Stream(spark, tmp_root, "did:plc:persist6")
        s2.provide_module(CHAT)
        # the marker must NOT come back from the snapshot
        assert s2.query("a", LeafQuery("my_unread"))[0]["unread"] == 2


class TestCrashedPersistLeftovers:
    def test_stale_parts_from_crashed_attempt_are_cleared(
        self, spark, tmp_root
    ):
        """A persist that crashes AFTER writing table parts but BEFORE
        the manifest rename never advances seq — the next persist reuses
        the same v<seq> dir and must not merge the crashed attempt's
        files with its own (advice r9: the pyarrow fast path lacked the
        Spark writer's mode('overwrite') clearing)."""
        import os
        import shutil

        s = Stream(spark, tmp_root, "did:plc:crashp")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1), msg("b", "m2", 2)])
        s.persist_state()  # seq 1

        # simulate the crashed attempt: v000002/messages already holds a
        # part file (copy of v1's data) with a non-colliding name
        base = s._snapshot_base()
        stale_dir = os.path.join(base, "v000002", "messages")
        os.makedirs(stale_dir, exist_ok=True)
        src_dir = os.path.join(base, "v000001", "messages")
        part = next(
            f for f in os.listdir(src_dir) if f.endswith(".parquet")
        )
        shutil.copy(
            os.path.join(src_dir, part),
            os.path.join(stale_dir, "part-stale.parquet"),
        )

        s.add_events([msg("a", "m3", 3), msg("b", "m4", 4)])
        s.persist_state()  # seq 2 — reuses v000002

        s2 = Stream(spark, tmp_root, "did:plc:crashp")
        s2.provide_module(CHAT)  # snapshot restore, no refold
        rows = s2.query(None, LeafQuery("messages"))
        assert [r["content"] for r in rows] == ["m1", "m2", "m3", "m4"]


class TestSnapshotVersionSkip:
    """r9: persist_state writes O(delta) snapshots. Three per-table
    regimes per persist:

    - untouched → the new manifest references the prior snapshot's
      files verbatim; the table is NOT re-registered, so its store
      version (and any localexec mirror keyed on it) stays stable;
    - pure driver-local appends since the last persist → only the delta
      rows are written as a new chain dir (manifest ``paths`` list),
      capped at _SNAPSHOT_CHAIN_CAP before a full-rewrite compaction;
    - anything else (upsert/update/delete/trigger writes) → full
      rewrite (the safe direction).

    The snapshot is one of two readers of the store's version-keyed
    append chain (the localexec mirror is the other): a rejected batch
    bridges the chain with a no-op entry, so it leaves both regimes
    above intact.

    GC keeps every chain dir the current manifest references and
    removes superseded ones at per-table granularity."""

    def test_untouched_skipped_append_chained(self, spark, tmp_root):
        import json
        import os

        s = Stream(spark, tmp_root, "did:plc:snapskip")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()  # seq 1: all tables written fresh
        with open(s._snapshot_manifest_path()) as f:
            m1 = json.load(f)
        assert m1["tables"]["bans"]["paths"] == ["v000001/bans"]
        assert m1["tables"]["messages"]["paths"] == ["v000001/messages"]
        bans_ver = s.store.table_version("bans")

        s.add_events([msg("a", "m2", 2)])  # pure append to messages
        s.persist_state()  # seq 2
        with open(s._snapshot_manifest_path()) as f:
            m2 = json.load(f)
        # messages chained a delta dir; bans untouched → same files
        assert m2["tables"]["messages"]["paths"] == [
            "v000001/messages",
            "v000002/messages",
        ]
        assert m2["tables"]["bans"]["paths"] == ["v000001/bans"]
        base = s._snapshot_base()
        assert os.path.isdir(os.path.join(base, "v000001", "messages"))
        # bans was not re-registered: version (and thus any mirror keyed
        # on it) is stable across the persist
        assert s.store.table_version("bans") == bans_ver
        # the delta dir holds ONLY the delta row
        import pyarrow.parquet as _pq

        d2 = os.path.join(base, "v000002", "messages")
        n = sum(
            _pq.ParquetFile(os.path.join(d2, f)).metadata.num_rows
            for f in os.listdir(d2)
            if f.endswith(".parquet")
        )
        assert n == 1
        # live table reads the chain correctly
        assert [r["content"] for r in s.query(None, LeafQuery("messages"))] == [
            "m1",
            "m2",
        ]

    def test_chain_caps_then_compacts(self, spark, tmp_root):
        import json

        s = Stream(spark, tmp_root, "did:plc:snapchain")
        s.provide_module(CHAT)
        cap = Stream._SNAPSHOT_CHAIN_CAP
        for i in range(cap + 2):
            s.add_events([msg("a", f"m{i}", i + 1)])
            s.persist_state()
            with open(s._snapshot_manifest_path()) as f:
                m = json.load(f)
            assert len(m["tables"]["messages"]["paths"]) <= cap
        # after the cap the chain was compacted to a single full dir
        # and grows again from there
        expect = [f"m{i}" for i in range(cap + 2)]
        assert [
            r["content"] for r in s.query(None, LeafQuery("messages"))
        ] == expect
        s2 = Stream(spark, tmp_root, "did:plc:snapchain")
        s2.provide_module(CHAT)  # restore from the chained snapshot
        assert [
            r["content"] for r in s2.query(None, LeafQuery("messages"))
        ] == expect

    def test_restore_reads_chained_paths_without_refold(
        self, spark, tmp_root
    ):
        s = Stream(spark, tmp_root, "did:plc:snapskip2")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()
        s.add_events([msg("b", "m2", 2)])
        s.persist_state()  # messages = chain of 2, bans referenced from v1
        expect = s.query(None, LeafQuery("messages"))

        import unittest.mock as mock

        with mock.patch.object(Stream, "_fold_df", _no_fold):
            s2 = Stream(spark, tmp_root, "did:plc:snapskip2")
            s2.provide_module(CHAT)  # restore only, no refold
            assert s2.query(None, LeafQuery("messages")) == expect

    def test_upsert_table_fully_rewrites(self, spark, tmp_root):
        """state.read_markers folds via ON CONFLICT DO UPDATE — never
        provably append-only, so every persist rewrites it fully."""
        import json

        s = Stream(spark, tmp_root, "did:plc:snapups")
        s.provide_module(CHAT)
        s.add_events(
            [msg("a", "m1", 1), msg("a", "m2", 2), msg("a", "m3", 3)]
        )
        s.add_state_events([marker("a", 1)])
        s.persist_state()
        s.add_state_events([marker("a", 2)])
        s.persist_state()
        with open(s._snapshot_manifest_path()) as f:
            m = json.load(f)
        assert m["tables"]["state_read_markers"]["paths"] == [
            "v000002/state_read_markers"
        ]
        s2 = Stream(spark, tmp_root, "did:plc:snapups")
        s2.provide_module(CHAT)
        # marker last_read=2 restored → only m3 unread (a stale marker
        # of 1 would read 2 unread)
        assert s2.query("a", LeafQuery("my_unread"))[0]["unread"] == 1

    def test_rollback_poisons_chain(self, spark, tmp_root):
        """A rejected batch restores the pre-batch tables; deltas staged
        during the failed fold must not leak into the next snapshot, and
        the accepted delta before it still chains."""
        import json
        import os

        import pyarrow.parquet as _pq

        s = Stream(spark, tmp_root, "did:plc:snaprb")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()
        s.add_events([msg("a", "m2", 2)])
        from leaf_spark import drisl
        from leaf_spark.types import IncomingEvent

        with pytest.raises(Exception):
            # second event missing .content → authorizer throw → rollback
            s.add_events(
                [msg("a", "m3", 3), IncomingEvent("a", drisl.encode({"x": 1}))]
            )
        s.persist_state()
        with open(s._snapshot_manifest_path()) as f:
            m = json.load(f)
        # the restore bridged the chain: only the accepted m2 is chained
        assert m["tables"]["messages"]["paths"] == [
            "v000001/messages",
            "v000002/messages",
        ]
        d2 = os.path.join(s._snapshot_base(), "v000002", "messages")
        assert [
            v
            for f in sorted(os.listdir(d2))
            if f.endswith(".parquet")
            for v in _pq.read_table(os.path.join(d2, f)).column("content").to_pylist()
        ] == ["m2"]
        s2 = Stream(spark, tmp_root, "did:plc:snaprb")
        s2.provide_module(CHAT)
        assert [
            r["content"] for r in s2.query(None, LeafQuery("messages"))
        ] == ["m1", "m2"]

    def test_rollback_leaves_untouched_table_in_place(self, spark, tmp_root):
        """A rejected batch between two persists re-registers every table
        on restore, but only with no-op chain entries: ``bans``, which no
        accepted batch touched, keeps its v1 files and is not re-registered
        by the second persist."""
        import json

        from leaf_spark import drisl
        from leaf_spark.types import IncomingEvent

        s = Stream(spark, tmp_root, "did:plc:snaprb2")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()
        with pytest.raises(Exception):
            s.add_events(
                [msg("a", "m2", 2), IncomingEvent("a", drisl.encode({"x": 1}))]
            )
        s.add_events([msg("a", "m3", 3)])
        bans_ver = s.store.table_version("bans")
        s.persist_state()
        with open(s._snapshot_manifest_path()) as f:
            m = json.load(f)
        assert m["tables"]["bans"]["paths"] == ["v000001/bans"]
        assert s.store.table_version("bans") == bans_ver
        assert m["tables"]["messages"]["paths"] == [
            "v000001/messages",
            "v000002/messages",
        ]

    def test_drop_recreate_does_not_resurrect(self, spark, tmp_root):
        """DROP TABLE + CREATE TABLE (same schema) + INSERT between
        persists must NOT chain the insert delta onto the DROPPED
        table's snapshot files (advice r10 high: create() restarts the
        append chain at the new table, so the snapshot reader, still at
        the dropped table's version, finds no path and the first persist
        after a recreate fully rewrites)."""
        import json

        from leaf_spark import drisl
        from leaf_spark.module import BasicModuleDef, QueryDef
        from leaf_spark.types import IncomingEvent

        rebuild = BasicModuleDef(
            init_sql="create table if not exists roster (user text primary key);",
            materializer=(
                "drop table if exists roster; "
                "create table roster (user text primary key); "
                "insert into roster (user) select user from event;"
            ),
            queries=(
                QueryDef("roster", "select user from roster order by user"),
            ),
        )
        s = Stream(spark, tmp_root, "did:plc:snapdrop")
        s.provide_module(rebuild)
        s.add_events([IncomingEvent("alice", drisl.encode({}))])
        s.persist_state()  # seq 1: roster = [alice]
        s.add_events([IncomingEvent("bob", drisl.encode({}))])
        # fold dropped + recreated roster; it now holds only [bob]
        s.persist_state()  # seq 2
        with open(s._snapshot_manifest_path()) as f:
            m = json.load(f)
        # recreate poisoned the chain → single fresh dir, no chain onto
        # the dropped table's v1 files
        assert m["tables"]["roster"]["paths"] == ["v000002/roster"]
        assert [r["user"] for r in s.query(None, LeafQuery("roster"))] == [
            "bob"
        ]
        s2 = Stream(spark, tmp_root, "did:plc:snapdrop")
        s2.provide_module(rebuild)  # snapshot restore
        # pre-fix the restored snapshot resurrected alice
        assert [r["user"] for r in s2.query(None, LeafQuery("roster"))] == [
            "bob"
        ]

    def test_chain_restore_preserves_insertion_order(self, spark, tmp_root):
        """Chained snapshots must restore in INSERTION order (advice r10
        medium): a single multi-dir parquet read packs files by SIZE, so
        a small base + large delta would scan delta-first and reorder
        rowid-like semantics (scalar subqueries, LIMIT without ORDER BY).
        The chain is now read per-dir and unioned in path order."""
        import json

        s = Stream(spark, tmp_root, "did:plc:snaporder")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m0", 1)])
        s.persist_state()  # base: 1 tiny row
        s.add_events([msg("a", f"m{i}", i + 1) for i in range(1, 61)])
        s.persist_state()  # delta dir much larger than the base
        with open(s._snapshot_manifest_path()) as f:
            m = json.load(f)
        assert len(m["tables"]["messages"]["paths"]) == 2  # chained
        expect = [f"m{i}" for i in range(61)]
        # live table (re-registered as a read of the chain) keeps order
        rows = s.store.tables["messages"].collect()
        assert [r["content"] for r in rows] == expect

        s2 = Stream(spark, tmp_root, "did:plc:snaporder")
        s2.provide_module(CHAT)  # restore from the chain
        rows2 = s2.store.tables["messages"].collect()
        assert [r["content"] for r in rows2] == expect
        # the order-sensitive idiom the reorder would break: a scalar
        # subquery answers with the FIRST row in scan order
        first = s2.store.tables["messages"].limit(1).collect()
        assert first[0]["content"] == "m0"

    def test_mirror_survives_persist(self, spark, tmp_root):
        """The localexec mirror of an untouched authorizer table must
        stay valid across a persist (pre-r9, the blanket re-registration
        invalidated every mirror each snapshot)."""
        s = Stream(spark, tmp_root, "did:plc:snapskip4")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()  # first persist writes (and re-registers) all
        s.add_events([msg("a", "m2", 2)])  # stages bans mirror @ cur ver
        if "bans" not in s._mirror_versions:
            import pytest as _pytest

            _pytest.skip("local authorize path not engaged")
        ver = s._mirror_versions["bans"]
        assert s.store.table_version("bans") == ver
        s.persist_state()  # bans untouched → skipped, NOT re-registered
        s.add_events([msg("a", "m3", 3)])
        assert s._mirror_versions["bans"] == ver
        assert s.store.table_version("bans") == ver


class TestCrashInjection:
    """r10 (VERDICT r9 #7): simulated power-cuts at each boundary of the
    incremental-snapshot persist — after the chain-dir write, between
    the manifest tmp write and its rename, mid-compaction, and mid
    table-file write. The log append is the durability point (it
    happened at commit time), so EVERY injection must restore to the
    full fold of the committed events after reopen."""

    def _expect(self, n):
        return [f"m{i}" for i in range(1, n + 1)]

    def _mk(self, spark, tmp_root, did):
        s = Stream(spark, tmp_root, did)
        s.provide_module(CHAT)
        return s

    def _contents(self, s):
        return [
            r["content"]
            for r in s.query(None, LeafQuery("messages", limit=1000))
        ]

    def test_crash_before_any_manifest_write(self, spark, tmp_root):
        """Chain/table dirs written, no manifest tmp yet (json.dump
        raises): reopen uses the PREVIOUS manifest + tail replay."""
        import unittest.mock as mock

        s = self._mk(spark, tmp_root, "did:plc:cr1")
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()  # seq 1 (good)
        s.add_events([msg("a", "m2", 2)])
        with mock.patch(
            "leaf_spark.stream.json.dump",
            side_effect=OSError("power cut"),
        ):
            with pytest.raises(OSError):
                s.persist_state()  # seq-2 dirs written, manifest old
        s2 = self._mk(spark, tmp_root, "did:plc:cr1")
        assert self._contents(s2) == self._expect(2)
        # and the next persist from the restored stream succeeds
        s2.add_events([msg("a", "m3", 3)])
        s2.persist_state()
        s3 = self._mk(spark, tmp_root, "did:plc:cr1")
        assert self._contents(s3) == self._expect(3)

    def test_crash_between_tmp_and_rename(self, spark, tmp_root):
        """Manifest tmp fully written but the atomic rename never ran:
        the old manifest must stay authoritative and the stray .tmp
        must never be read."""
        import os
        import unittest.mock as mock

        s = self._mk(spark, tmp_root, "did:plc:cr2")
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()
        s.add_events([msg("a", "m2", 2)])
        real_replace = os.replace

        def cut(src, dst, *a, **k):
            if str(dst).endswith("manifest.json"):
                raise OSError("power cut at rename")
            return real_replace(src, dst, *a, **k)

        with mock.patch("leaf_spark.stream.os.replace", side_effect=cut):
            with pytest.raises(OSError):
                s.persist_state()
        base = s._snapshot_base()
        assert os.path.exists(
            os.path.join(base, "manifest.json.tmp")
        )  # the orphan is present…
        s2 = self._mk(spark, tmp_root, "did:plc:cr2")
        assert self._contents(s2) == self._expect(2)  # …and ignored
        s2.persist_state()  # overwrites the orphan tmp cleanly
        s3 = self._mk(spark, tmp_root, "did:plc:cr2")
        assert self._contents(s3) == self._expect(2)

    def test_crash_mid_compaction(self, spark, tmp_root):
        """Drive the chain to _SNAPSHOT_CHAIN_CAP so the next persist
        compacts (full rewrite), cut power before its manifest publish:
        reopen must restore from the still-authoritative chain."""
        import unittest.mock as mock

        s = self._mk(spark, tmp_root, "did:plc:cr3")
        cap = Stream._SNAPSHOT_CHAIN_CAP
        n = 0
        for i in range(cap):
            n += 1
            s.add_events([msg("a", f"m{n}", n)])
            s.persist_state()
        import json as _json

        with open(s._snapshot_manifest_path()) as f:
            m = _json.load(f)
        assert len(m["tables"]["messages"]["paths"]) == cap
        n += 1
        s.add_events([msg("a", f"m{n}", n)])  # next persist compacts
        with mock.patch(
            "leaf_spark.stream.json.dump",
            side_effect=OSError("power cut"),
        ):
            with pytest.raises(OSError):
                s.persist_state()
        s2 = self._mk(spark, tmp_root, "did:plc:cr3")
        assert self._contents(s2) == self._expect(n)
        # recovery persist compacts for real; chain shrinks to 1 dir
        s2.persist_state()
        with open(s2._snapshot_manifest_path()) as f:
            m2 = _json.load(f)
        assert len(m2["tables"]["messages"]["paths"]) == 1
        s3 = self._mk(spark, tmp_root, "did:plc:cr3")
        assert self._contents(s3) == self._expect(n)

    def test_crash_mid_table_write(self, spark, tmp_root):
        """The pyarrow table write itself dies half-way (file possibly
        partial): manifest never advances, restore uses the previous
        snapshot, and the retry clears the debris."""
        import unittest.mock as mock

        import pyarrow.parquet as _pq

        s = self._mk(spark, tmp_root, "did:plc:cr4")
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()
        s.add_events([msg("a", "m2", 2)])
        real_write = _pq.write_table
        calls = {"n": 0}

        def cut(tbl, path, *a, **k):
            calls["n"] += 1
            real_write(tbl, path, *a, **k)  # bytes hit disk…
            raise OSError("power cut after write, before rename")

        with mock.patch(
            "leaf_spark.stream.pq.write_table", side_effect=cut
        ):
            # _write_snapshot_table swallows per-table errors (returns
            # False → Spark writer fallback), so the persist SUCCEEDS;
            # what must hold is correctness of what it published
            s.persist_state()
        assert calls["n"] >= 1
        s2 = self._mk(spark, tmp_root, "did:plc:cr4")
        assert self._contents(s2) == self._expect(2)

    def test_crashed_persist_then_persist_again(self, spark, tmp_root):
        """The process survives a persist that died before its manifest
        publish and persists again: the snapshot must still hold every
        row the published manifest's cursor covers (the failed attempt
        must not count as a snapshot the chain reads from)."""
        import unittest.mock as mock

        s = self._mk(spark, tmp_root, "did:plc:cr6")
        s.add_events([msg("a", "m1", 1)])
        s.persist_state()
        s.add_events([msg("a", "m2", 2)])
        with mock.patch(
            "leaf_spark.stream.json.dump", side_effect=OSError("power cut")
        ):
            with pytest.raises(OSError):
                s.persist_state()
        s.add_events([msg("a", "m3", 3)])
        s.persist_state()
        s2 = self._mk(spark, tmp_root, "did:plc:cr6")
        assert self._contents(s2) == self._expect(3)

    def test_crash_storm_random_points(self, spark, tmp_root):
        """Randomized mini-soak: commits interleaved with persists that
        die at a random boundary; after every cut, a fresh reopen must
        equal the committed fold."""
        import random as _random
        import unittest.mock as mock

        rng = _random.Random(20260816)
        s = self._mk(spark, tmp_root, "did:plc:cr5")
        n = 0
        for step in range(6):
            n += 1
            s.add_events([msg("a", f"m{n}", n)])
            point = rng.choice(["dump", "replace", "none"])
            if point == "none":
                s.persist_state()
            else:
                target = (
                    "leaf_spark.stream.json.dump"
                    if point == "dump"
                    else "leaf_spark.stream.os.replace"
                )
                with mock.patch(
                    target, side_effect=OSError("cut")
                ):
                    with pytest.raises(OSError):
                        s.persist_state()
                # process died: reopen from disk
                s = self._mk(spark, tmp_root, "did:plc:cr5")
            assert self._contents(s) == self._expect(n), step
