"""Driver-side sqlite fast path (localexec.py) — the single-event commit
floor fix (VERDICT r7 "Next round #2"). The local path must be
value-identical to the Spark path it bypasses, refuse anything it cannot
prove event-only, and fall back (never error out) when mis-gated."""

import dataclasses
import unittest.mock as mock

import pytest

from leaf_spark import drisl, localexec
from leaf_spark.localexec import LocalAbort, LocalEval, eligible
from leaf_spark.module import BasicModuleDef, QueryDef
from leaf_spark.stream import BatchRejected, Stream
from leaf_spark.types import IncomingEvent, LeafQuery

from .fixtures import CHAT


def ev(user: str, **payload) -> IncomingEvent:
    return IncomingEvent(user, drisl.encode(payload))


class TestEligibility:
    KNOWN = {"messages", "bans", "state_read_markers"}

    def test_event_only_select_is_eligible(self):
        assert eligible(
            "select idx, user, drisl_extract(payload, '.c') from event",
            self.KNOWN, allow_abort=False,
        )

    def test_managed_table_reference_rejected(self):
        assert not eligible(
            "select 1 from event where exists"
            " (select 1 from bans where user = event.user)",
            self.KNOWN, allow_abort=False,
        )

    def test_raw_events_log_rejected(self):
        assert not eligible(
            "select count(*) from events", self.KNOWN, allow_abort=False
        )

    def test_state_qualifier_rejected(self):
        assert not eligible(
            "select 1 from event where user in (select user from state.m)",
            self.KNOWN, allow_abort=False,
        )

    def test_unknown_function_rejected(self):
        assert not eligible(
            "select my_mystery_fn(user) from event",
            self.KNOWN, allow_abort=False,
        )

    def test_nondeterministic_and_ordering_divergent_fns_rejected(self):
        for fn in ("random()", "group_concat(user)", "json_group_array(user)"):
            assert not eligible(
                f"select {fn} from event", self.KNOWN, allow_abort=False
            ), fn

    def test_abort_fns_gated_by_flag(self):
        s = "select iif(user = 'x', throw('no'), 1) from event"
        assert eligible(s, self.KNOWN, allow_abort=True)
        assert not eligible(s, self.KNOWN, allow_abort=False)

    def test_returning_rejected(self):
        assert not eligible(
            "select user from event returning user",
            self.KNOWN, allow_abort=False,
        )

    def test_known_table_set_regates_a_statement(self):
        """The memoized gates key on the known-table set: the same text
        gates differently once a CREATE or DROP changes it."""
        from leaf_spark.localexec import table_refs

        stmt = "select k from extra order by k"
        for known, want in (
            (frozenset(self.KNOWN), False),  # unknown table: Spark
            (frozenset(self.KNOWN | {"extra"}), True),  # created
            (frozenset(self.KNOWN), False),  # dropped again
        ):
            refs = table_refs(stmt, known)
            assert refs == ({"extra"} if want else set())
            assert eligible(stmt, known, allow_abort=False, mirrorable=refs) is want

    def test_memoized_results_cannot_leak_mutations(self):
        from leaf_spark.localexec import flatten_namespaces, table_refs
        from leaf_spark.module import statements
        from leaf_spark.sqlcompat import lex, tokenize

        stmt = "select user from state.m join bans on bans.user = m.user"
        toks, lows = lex(stmt)
        assert isinstance(toks, tuple) and isinstance(lows, tuple)
        fresh = tokenize(stmt)  # the uncached tokenizer returns a new list
        fresh.clear()
        assert list(lex(stmt)[0]) == tokenize(stmt) and lex(stmt)[1] == lows
        known = frozenset(self.KNOWN)
        refs = table_refs(stmt, known)
        with pytest.raises(AttributeError):
            refs.add("messages")  # a frozenset
        mine = set(refs)
        mine.add("messages")
        assert table_refs(stmt, known) == {"bans"}
        flat = flatten_namespaces(stmt)
        assert flat.startswith("select user from state_m join")
        script = "select 1; -- note\nselect 2;"
        parts = statements(script)
        with pytest.raises(TypeError):
            parts[0] = "drop table bans"  # a tuple
        copy = list(parts)
        copy.append("drop table bans")
        assert statements(script) == ("select 1", "select 2")


class TestLocalEvalParity:
    """The sqlite evaluation must produce the same values the Spark
    translation produces for the same statement over the same rows —
    drisl conversions shared by construction, the rest spot-checked."""

    def test_drisl_convs_match_spark_udfs(self, spark):
        drisl.register_udfs(spark)
        le = LocalEval()
        rows = [
            (1, "u1", drisl.encode({"s": "txt", "i": 7, "f": 1.5,
                                    "b": True, "x": None})),
            (2, "u2", drisl.encode({"i": "not-an-int"})),
        ]
        sel = (
            "select drisl_extract(payload, '.s') as a,"
            " drisl_extract_int(payload, '.i') as b,"
            " drisl_extract_real(payload, '.f') as c,"
            " drisl_extract(payload, '.b') as d,"
            " drisl_exists(payload, '.x') as e,"
            " drisl_exists(payload, '.missing') as f"
            " from event"
        )
        names, local = le.run_select(sel, rows)
        import pyspark.sql.types as T

        schema = T.StructType([
            T.StructField("idx", T.LongType()),
            T.StructField("user", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ])
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["idx", "user", "payload"])
        spark.createDataFrame(pdf, schema).createOrReplaceTempView("event")
        got = [tuple(r) for r in spark.sql(sel).collect()]
        spark.catalog.dropTempView("event")
        assert [tuple(r) for r in local] == got
        le.close()

    def test_scalar_fn_surface_matches_spark(self, spark):
        le = LocalEval()
        rows = [(1, "Alice", drisl.encode({}))]
        sel = (
            "select upper(user) as a, length(user) as b,"
            " substr(user, 2, 3) as c, coalesce(nullif(user,'Alice'),'x') as d,"
            " abs(-3) as e, round(2.567, 1) as f, user || '!' as g,"
            " iif(length(user) > 3, 'long', 'short') as h"
            " from event"
        )
        _, local = le.run_select(sel, rows)
        from leaf_spark.sqlcompat import translate

        import pandas as pd
        import pyspark.sql.types as T

        schema = T.StructType([
            T.StructField("idx", T.LongType()),
            T.StructField("user", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ])
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["idx", "user", "payload"]), schema
        ).createOrReplaceTempView("event")
        got = [tuple(r) for r in spark.sql(translate(sel)).collect()]
        spark.catalog.dropTempView("event")

        # Spark types float literals as DECIMAL while SQLite (reference
        # AND local path) uses REAL — the differential suite normalizes
        # the same way (test_sqlite_differential._norm); values must
        # agree, the Decimal/float wrapper may differ
        def norm(v):
            from decimal import Decimal

            return float(v) if isinstance(v, Decimal) else v

        assert [tuple(norm(v) for v in r) for r in local] == [
            tuple(norm(v) for v in r) for r in got
        ]
        le.close()

    def test_abort_raises_localabort_with_message(self):
        le = LocalEval()
        with pytest.raises(LocalAbort, match="Unauthorized: banned u9"):
            le.authorize(
                ["select iif((select user from event) = 'u9',"
                 " unauthorized('banned', (select user from event)), 1)"],
                [("u1", b""), ("u9", b"")],
            )
        with pytest.raises(LocalAbort, match="nope"):
            le.authorize(
                ["select throw('nope')"], [("u1", b"")]
            )
        le.close()

    def test_iif_short_circuits_abort(self):
        """sqlite implements iif via CASE — the abort branch must not fire
        when the condition keeps it dead (same laziness as Spark's CASE
        WHEN raise_error)."""
        le = LocalEval()
        le.authorize(
            ["select iif(1 = 0, throw('dead branch'), 1)"], [("u", b"")]
        )  # no raise
        le.close()

    def test_authorize_event_table_has_no_idx(self):
        """authorize-context event carries ONLY (user, payload) — an idx
        reference must surface as LocalEvalError (caller then falls back
        to Spark, which enforces the same arity)."""
        le = LocalEval()
        with pytest.raises(localexec.LocalEvalError):
            le.authorize(["select idx from event"], [("u", b"")])
        le.close()


class TestStreamIntegration:
    def _mk(self, spark, tmp_path, mod, did):
        s = Stream(spark, str(tmp_path), did)
        s.provide_module(mod)
        return s

    def test_chat_commit_uses_local_paths_and_matches_spark(
        self, spark, tmp_path, monkeypatch
    ):
        """Same CHAT commits with the local path ON vs forced OFF must
        materialize identical rows (the fast path is an optimization,
        never a semantics change)."""
        msgs = [
            ev("a", content="hello", sentAt=100),
            ev("b", content="yo", sentAt=101),
        ]
        s1 = self._mk(spark, tmp_path / "on", CHAT, "did:plc:lon")
        for m in msgs:
            s1.add_events([m])
        on_rows = s1.query(None, LeafQuery("messages"))

        monkeypatch.setattr(localexec, "eligible",
                            lambda *a, **k: False)
        s2 = self._mk(spark, tmp_path / "off", CHAT, "did:plc:loff")
        calls, counting = TestPy4jBudget._counter()
        with counting:
            for m in msgs:
                c0 = calls[0]
                s2.add_events([m])
                # the patched gate is consulted on every commit (the
                # memoized analysis sits behind it): the Spark path runs
                assert calls[0] - c0 > 10
        off_rows = s2.query(None, LeafQuery("messages"))
        assert on_rows == off_rows

    def test_local_abort_rejects_batch_atomically(self, spark, tmp_path):
        s = self._mk(spark, tmp_path, CHAT, "did:plc:labort")
        s.add_events([ev("a", content="ok")])
        with pytest.raises(BatchRejected, match="missing content"):
            s.add_events([ev("a", content="fine"), ev("a", nope=1)])
        assert s.state.latest_idx == 1
        assert len(s.query(None, LeafQuery("messages"))) == 1

    def test_upsert_materializer_localized(self, spark, tmp_path):
        """ON CONFLICT upsert with the injected __ord__ column must keep
        last-event-wins through the localized source."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists kv"
                " (k text primary key, v integer not null)"
            ),
            materializer=(
                "insert into kv (k, v) select"
                " drisl_extract(payload, '.k'),"
                " drisl_extract_int(payload, '.v') from event where true"
                " on conflict(k) do update set v = excluded.v;"
            ),
            queries=(QueryDef("kv", "select k, v from kv order by k"),),
        )
        s = self._mk(spark, tmp_path, mod, "did:plc:lups")
        s.add_events([ev("u", k="a", v=1), ev("u", k="b", v=2),
                      ev("u", k="a", v=3)])
        assert s.query(None, LeafQuery("kv")) == [
            {"k": "a", "v": 3}, {"k": "b", "v": 2},
        ]

    def test_replay_path_skips_localization(self, spark, tmp_path):
        """catch_up folds from the parquet log (no driver rows) — reopen
        must replay correctly with local_rows=None."""
        s = self._mk(spark, tmp_path, CHAT, "did:plc:lreplay")
        s.add_events([ev("a", content="one", sentAt=1)])
        s.add_events([ev("b", content="two", sentAt=2)])
        s2 = Stream(spark, str(tmp_path), "did:plc:lreplay")
        s2.provide_module(CHAT)
        s2.catch_up()
        assert [r["content"] for r in s2.query(None, LeafQuery("messages"))] \
            == ["one", "two"]

    def test_empty_table_plan_is_jvm_local(self, spark):
        """Never-mutated tables (the bans shape) must not be Python-RDD
        backed — their evaluation is on the per-commit authorize path."""
        from leaf_spark.dml import DmlExecutor, TableStore

        store = TableStore(spark, "t_emptyjvm_")
        DmlExecutor(store).execute(
            "create table bans2 (user text primary key)"
        )
        plan = store.tables["bans2"]._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Scan ExistingRDD" not in plan
        assert store.tables["bans2"].count() == 0


class TestInferSchema:
    def test_basic_types(self):
        import pyspark.sql.types as T

        sch = localexec.infer_spark_schema(
            ["a", "b", "c", "d", "e"],
            [(1, 1.5, "x", b"\x00", None), (None, 2, "y", None, None)],
        )
        assert [f.dataType for f in sch.fields] == [
            T.LongType(), T.DoubleType(), T.StringType(), T.BinaryType(),
            T.StringType(),
        ]

    def test_mixed_incompatible_returns_none(self):
        assert localexec.infer_spark_schema(["a"], [(1,), ("x",)]) is None


class TestFuzzParity:
    """Hypothesis sweep: for random event payloads, every statement in a
    pool of eligible fold-source shapes must produce identical values on
    the local sqlite path and the translate()+Spark path. One Spark call
    per example (rows batched), so the sweep stays fast."""

    STATEMENTS = [
        "select idx, user, drisl_extract(payload, '.k') as v from event",
        "select drisl_extract_int(payload, '.n') as n,"
        " drisl_extract_real(payload, '.f') as f from event",
        "select coalesce(drisl_extract_int(payload, '.n'), -1) as n,"
        " length(user) as lu from event",
        "select count(*) as c, sum(drisl_extract_int(payload, '.n')) as s"
        " from event",
        "select upper(drisl_extract(payload, '.k')) as u from event"
        " where drisl_exists(payload, '.k')",
        "select iif(drisl_extract_int(payload, '.n') > 0, 'pos', 'neg')"
        " as sgn, idx % 3 as m from event",
        "select user || ':' || coalesce(drisl_extract(payload, '.k'), '-')"
        " as tag from event order by idx",
    ]

    def _spark_rows(self, spark, sel, rows):
        """The production Spark path: DmlExecutor.execute (translate +
        the FILTER_NOT_BOOLEAN truthiness retry), exactly what a
        non-localized fold/authorize statement runs through."""
        import pandas as pd
        import pyspark.sql.types as T

        from leaf_spark.dml import DmlExecutor, TableStore

        schema = T.StructType([
            T.StructField("idx", T.LongType()),
            T.StructField("user", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ])
        pdf = pd.DataFrame(rows, columns=["idx", "user", "payload"])
        spark.createDataFrame(pdf, schema).createOrReplaceTempView("event")
        try:
            ex = DmlExecutor(TableStore(spark, "t_lxfuzz_"))
            return [tuple(r) for r in ex.execute(sel).collect()]
        finally:
            spark.catalog.dropTempView("event")

    def test_fuzz_local_matches_spark(self, spark):
        from decimal import Decimal

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        drisl.register_udfs(spark)
        le = LocalEval()
        payload = st.fixed_dictionaries(
            {},
            optional={
                "k": st.text(
                    st.characters(codec="utf-8",
                                  blacklist_categories=("Cs",)),
                    max_size=12,
                ),
                "n": st.integers(-2**40, 2**40),
                "f": st.floats(allow_nan=False, allow_infinity=False,
                               width=32),
            },
        )

        def norm(v):
            if isinstance(v, Decimal):
                return float(v)
            return v

        @settings(
            max_examples=8, deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(st.lists(payload, min_size=1, max_size=5))
        def run(payloads):
            rows = [
                (i + 1, f"u{i % 2}", drisl.encode(p))
                for i, p in enumerate(payloads)
            ]
            for sel in self.STATEMENTS:
                _, local = le.run_select(sel, rows)
                got = self._spark_rows(spark, sel, rows)
                assert [
                    tuple(norm(v) for v in r) for r in local
                ] == [tuple(norm(v) for v in r) for r in got], sel

        run()
        le.close()


class TestTableMirror:
    """Small managed tables mirror into the local evaluator so
    table-referencing authorizer statements skip the per-commit Spark
    job. The mirror is keyed on the TableStore registration version —
    staleness is the failure mode these tests pin."""

    BANS_MOD = None  # built lazily to reuse fixtures.CHAT

    def _stream(self, spark, tmp_path):
        s = Stream(spark, str(tmp_path), "did:plc:mirror")
        s.provide_module(CHAT)
        return s

    def test_ban_enforced_on_next_commit(self, spark, tmp_path):
        """The fold mutates bans -> version bump -> the next commit's
        authorize must see the fresh mirror, not a stale empty one."""
        from leaf_spark.dml import DmlExecutor

        s = self._stream(spark, tmp_path)
        s.add_events([ev("alice", content="hi")])
        # ban alice through the store (CHAT has no ban materializer —
        # mutate directly, which re-registers and bumps the version)
        DmlExecutor(s.store).execute("insert into bans values ('alice')")
        with pytest.raises(BatchRejected, match="banned"):
            s.add_events([ev("alice", content="should fail")])
        # and an unbanned user still passes
        s.add_events([ev("bob", content="fine")])
        assert [r["sender"] for r in s.query(None, LeafQuery("messages"))] \
            == ["alice", "bob"]

    def test_rollback_restores_mirror_view(self, spark, tmp_path):
        """A rejected batch restores the pre-batch bans table; the mirror
        must follow (restore re-registers -> version bump)."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists msgs (idx integer primary key,"
                " sender text not null); "
                "create table if not exists bans (user text primary key);"
            ),
            authorizer=(
                "select iif(exists(select 1 from bans where user = "
                "(select user from event)), unauthorized('banned'), 1);"
            ),
            materializer=(
                "insert into msgs (idx, sender) select idx, user from event"
                " where not drisl_exists(payload, '.ban'); "
                "insert into bans (user) select"
                " drisl_extract(payload, '.ban') from event where"
                " drisl_exists(payload, '.ban')"
                " on conflict(user) do nothing; "
                # .boom forces a NOT NULL violation AFTER bans mutated —
                # the whole batch (including the ban) must roll back
                "insert into msgs (idx, sender) select idx, null from event"
                " where drisl_exists(payload, '.boom');"
            ),
            queries=(
                QueryDef("bans", "select user from bans order by user"),
                QueryDef("msgs", "select idx, sender from msgs order by idx"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:mirror2")
        s.provide_module(mod)
        s.add_events([ev("alice", content="ok")])
        # authorize sees the pre-batch bans (empty) -> mirror staged;
        # the fold bans bob, then the .boom statement fails -> rollback
        with pytest.raises(Exception, match="NOT NULL"):
            s.add_events([ev("carol", ban="bob"), ev("carol", boom=1)])
        # whatever failed, bans must NOT contain bob after rollback
        assert s.query(None, LeafQuery("bans")) == []
        # and bob can still commit (stale mirror would also reject here
        # only if it wrongly kept the rolled-back ban)
        s.add_events([ev("bob", content="alive")])
        assert {r["sender"] for r in s.query(None, LeafQuery("msgs"))} \
            >= {"alice", "bob"}

    def test_oversized_table_keeps_spark_path(self, spark, tmp_path):
        from leaf_spark.dml import DmlExecutor

        s = self._stream(spark, tmp_path)
        s.add_events([ev("alice", content="hi")])
        ex = DmlExecutor(s.store)
        vals = ", ".join(f"('u{i}')" for i in range(300))
        ex.execute(f"insert into bans values {vals}")
        assert not s._mirror_tables({"bans"})
        with pytest.raises(BatchRejected, match="banned"):
            s.add_events([ev("u7", content="nope")])
        s.add_events([ev("fresh", content="yes")])

    def test_dropped_table_mirror_purged_on_module_swap(
        self, spark, tmp_path
    ):
        """After a module swap drops a mirrored table, a statement still
        referencing it must NOT be answered by the lingering mirror —
        absence falls back to Spark, which errors like the reference."""
        s = self._stream(spark, tmp_path)
        s.add_events([ev("alice", content="hi")])  # mirrors bans
        assert "bans" in s._mirror_versions
        # simulate the swap's table drop
        s.store.drop("bans", if_exists=False)
        # the REAL flow: a statement referencing the dropped table has
        # empty known-refs, passes eligibility, and must NOT find the
        # stale mirror — _authorize purges before every local evaluation
        s._purge_stale_mirrors()
        assert "bans" not in s._mirror_versions
        with pytest.raises(localexec.LocalEvalError):
            s._local_eval.authorize(
                ["select 1 from bans"], [("alice", b"")]
            )
        # end-to-end: the broken module's authorizer now fails loudly on
        # BOTH paths instead of silently using rolled-back mirror data
        with pytest.raises(Exception):
            s.add_events([ev("alice", content="after drop")])


class TestReadPath:
    """r10: named queries (and therefore subscription re-queries, which
    go through Stream.query) are served from the driver-side sqlite
    mirrors when every statement is a SELECT over mirror-eligible
    tables — the reference's in-process query shape (lib.rs:842-862).
    The local answer must be value-identical to the Spark path, and
    every gate miss must fall back to Spark."""

    def _chat(self, spark, tmp_path):
        from .fixtures import msg, marker

        s = Stream(spark, str(tmp_path), "did:plc:readpath")
        s.provide_module(CHAT)
        s.add_events([msg("a", f"m{i}", i) for i in range(1, 6)])
        s.add_state_events([marker("a", 2)])
        return s

    def _spark_rows(self, s, user, q):
        """Force the Spark path for a parity reference."""
        import unittest.mock as mock

        with mock.patch.object(
            Stream, "_local_query", lambda self, sql, args: None
        ):
            return s.query(user, q)

    def test_all_chat_queries_parity_and_local(self, spark, tmp_path):
        from leaf_spark.types import SqlValue

        s = self._chat(spark, tmp_path)
        cases = [
            ("a", LeafQuery("messages")),
            ("a", LeafQuery("messages", start=3, limit=2)),
            ("a", LeafQuery("message_stats")),
            ("a", LeafQuery("my_unread")),  # state.-qualified table
            (
                "a",
                LeafQuery(
                    "messages_by_sender",
                    {"sender": SqlValue("text", "a")},
                ),
            ),
            (None, LeafQuery("my_unread")),  # null $requesting_user
        ]
        import unittest.mock as mock

        for user, q in cases:
            expect = self._spark_rows(s, user, q)
            # engagement proof: the local path must answer WITHOUT Spark
            with mock.patch.object(
                Stream,
                "query_df",
                side_effect=AssertionError("spark path used"),
            ):
                got = s.query(user, q)
            assert got == expect, q.name

    def test_mirror_tracks_commits(self, spark, tmp_path):
        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        before = s.query("a", LeafQuery("messages"))
        s.add_events([msg("b", "m6", 6)])
        after = s.query("a", LeafQuery("messages"))
        assert len(after) == len(before) + 1
        assert after[-1]["content"] == "m6"
        assert after == self._spark_rows(s, "a", LeafQuery("messages"))

    def test_tied_rows_same_multiset(self, spark, tmp_path):
        """The read-path contract: the same multiset of rows, in the same
        order wherever ORDER BY is total. ``message_stats`` orders by
        count only, so two senders tied at one message each may come
        back in either order — but only among themselves."""
        from .fixtures import msg

        s = self._chat(spark, tmp_path)  # "a" holds 5 messages
        s.add_events([msg("b", "b1", 6), msg("c", "c1", 7)])
        q = LeafQuery("message_stats")
        local, sparkr = s.query("a", q), self._spark_rows(s, "a", q)

        def key(r):
            return tuple(sorted(r.items()))

        assert sorted(map(key, local)) == sorted(map(key, sparkr))
        assert [r["n"] for r in local] == [r["n"] for r in sparkr] == [5, 1, 1]
        assert local[0] == sparkr[0]

    def test_append_grown_mirror_keeps_serving(self, spark, tmp_path):
        """r11: a mirror staged under _MIRROR_CAP keeps serving while the
        table grows by provable pure appends — each commit advances the
        sqlite mirror by inserting only the delta rows (no Spark job,
        TableStore.deltas_since), up to _MIRROR_CAP_APPEND."""
        import unittest.mock as mock

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        cap = Stream._MIRROR_CAP
        s.add_events([msg("bulk", f"x{i}", 100 + i) for i in range(cap)])
        q = LeafQuery("message_stats", limit=1000)
        expect = self._spark_rows(s, "a", q)
        with mock.patch.object(
            Stream, "query_df", side_effect=AssertionError("spark path used")
        ):
            got = s.query("a", q)
        assert got == expect
        assert s._mirror_rows["messages"] > cap

    def test_oversized_initial_staging_falls_back(self, spark, tmp_path):
        """A table already over _MIRROR_CAP with NO staged mirror (fresh
        process / poisoned chain) stays on the Spark path — the raised
        append cap only applies to mirrors grown incrementally."""
        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        s.add_events(
            [msg("bulk", f"x{i}", 100 + i) for i in range(Stream._MIRROR_CAP)]
        )
        # simulate a fresh driver: no staged mirror, no append history
        s._mirror_versions.pop("messages", None)
        s._mirror_rows.pop("messages", None)
        s._mirror_failed.pop("messages", None)
        s.store._mirror_chain["messages"] = None
        s._local_eval.drop_table("messages")
        assert s._local_query(
            s.module.query_def("message_stats").sql,
            {"start": 1, "limit": 1000, "requesting_user": "a"},
        ) is None
        q = LeafQuery("message_stats", limit=1000)
        assert s.query("a", q) == self._spark_rows(s, "a", q)

    def test_append_cap_drops_mirror(self, spark, tmp_path):
        """Growth past _MIRROR_CAP_APPEND drops the mirror (negative-cached
        by version) and the query falls back to Spark with identical rows."""
        import unittest.mock as mock

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        with mock.patch.object(Stream, "_MIRROR_CAP_APPEND", 300):
            s.add_events([msg("bulk", f"x{i}", 100 + i) for i in range(300)])
            q = LeafQuery("message_stats", limit=1000)
            assert s._local_query(
                s.module.query_def("message_stats").sql,
                {"start": 1, "limit": 1000, "requesting_user": "a"},
            ) is None
            assert "messages" not in s._mirror_versions
            assert s.query("a", q) == self._spark_rows(s, "a", q)

    def test_non_append_mutation_drops_grown_mirror(self, spark, tmp_path):
        """Any non-append registration poisons the chain; a grown mirror
        (> _MIRROR_CAP rows) cannot restage and falls back to Spark."""
        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        s.add_events(
            [msg("bulk", f"x{i}", 100 + i) for i in range(Stream._MIRROR_CAP)]
        )
        s.query("a", LeafQuery("messages", limit=1000))  # stages the mirror
        assert s._mirror_rows["messages"] > Stream._MIRROR_CAP
        # a content-changing re-registration outside the append protocol
        s.store.mutated("messages", s.store.tables["messages"])
        assert s._local_query(
            s.module.query_def("message_stats").sql,
            {"start": 1, "limit": 1000, "requesting_user": "a"},
        ) is None
        q = LeafQuery("message_stats", limit=1000)
        assert s.query("a", q) == self._spark_rows(s, "a", q)

    def test_grown_mirror_survives_persist_and_checkpoint(self, spark, tmp_path):
        """persist_state and checkpoint_all re-register the SAME content
        (snapshot re-point / localCheckpoint): the chain records no-op
        entries, so the grown mirror advances without restaging."""
        import unittest.mock as mock

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        s.add_events(
            [msg("bulk", f"x{i}", 100 + i) for i in range(Stream._MIRROR_CAP)]
        )
        q = LeafQuery("message_stats", limit=1000)
        expect = self._spark_rows(s, "a", q)
        s.persist_state()
        s.store.checkpoint_all()
        with mock.patch.object(
            Stream, "query_df", side_effect=AssertionError("spark path used")
        ):
            got = s.query("a", q)
        assert got == expect

    @pytest.mark.slow
    def test_mirror_serves_ten_thousand_row_table(self, spark, tmp_path):
        """The VERDICT r10 ask: chat-message-sized live state (10k rows)
        served from the mirror, value-identical to Spark."""
        import unittest.mock as mock

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        at = 100
        for _ in range(5):
            s.add_events([msg("bulk", f"x{at + i}", at + i) for i in range(2000)])
            at += 2000
        q = LeafQuery("message_stats", limit=1000)
        expect = self._spark_rows(s, "a", q)
        assert expect[0]["n"] >= 10_000
        with mock.patch.object(
            Stream, "query_df", side_effect=AssertionError("spark path used")
        ):
            got = s.query("a", q)
        assert got == expect
        assert s._mirror_rows["messages"] >= 10_000

    def test_events_log_reference_not_served_locally(self, spark, tmp_path):
        s = self._chat(spark, tmp_path)
        assert s._local_query(
            "select count(*) as n from events",
            {"start": 1, "limit": 10, "requesting_user": None},
        ) is None

    def test_leftover_event_staging_never_answers(self, spark, tmp_path):
        """The LocalEval connection may hold a staged ``event`` table
        from the last authorize; a query referencing event must be
        refused by the gate, not answered by that leftover."""
        s = self._chat(spark, tmp_path)
        # the last add_events staged an event table on this connection
        assert s._local_query(
            "select user from event",
            {"start": 1, "limit": 10, "requesting_user": None},
        ) is None

    def test_unaliased_expressions_fall_back(self, spark, tmp_path):
        """SQLite names 'count(*)' what Spark names 'count(1)' — column
        names must match across paths, so unaliased expressions are
        refused."""
        s = self._chat(spark, tmp_path)
        assert s._local_query(
            "select count(*) from messages",
            {"start": 1, "limit": 10, "requesting_user": None},
        ) is None

    def test_boolean_results_normalized_to_int(self, spark, tmp_path):
        """Both paths return SQLite's 1/0 for boolean expressions (the
        wire codec maps bool→integer; the Python API now matches)."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists t (idx integer primary key)"
            ),
            materializer="insert into t (idx) select idx from event;",
            queries=(
                QueryDef(
                    "flags",
                    "select idx, idx > 1 as big from t order by idx",
                ),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:boolnorm")
        s.provide_module(mod)
        s.add_events([ev("u", v=1), ev("u", v=2)])
        local = s.query(None, LeafQuery("flags"))
        sparkr = self._spark_rows(s, None, LeafQuery("flags"))
        assert local == sparkr
        assert [r["big"] for r in local] == [0, 1]

    def test_view_reference_falls_back(self, spark, tmp_path):
        """Views are not DataFrames in the store — mirror staging must
        refuse them and the Spark path must answer."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists t (idx integer primary key); "
                "create view big as select idx from t where idx > 1;"
            ),
            materializer="insert into t (idx) select idx from event;",
            queries=(
                QueryDef("big", "select idx from big order by idx"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:viewread")
        s.provide_module(mod)
        s.add_events([ev("u", v=1), ev("u", v=2)])
        assert s._local_query(
            "select idx from big order by idx",
            {"start": 1, "limit": 10, "requesting_user": None},
        ) is None
        assert [r["idx"] for r in s.query(None, LeafQuery("big"))] == [2]

    def test_subscription_requeries_use_local_path(self, spark, tmp_path):
        """Subscription re-queries go through Stream.query and must hit
        the mirror path for mirror-eligible modules."""
        import unittest.mock as mock

        from .fixtures import msg

        import queue as queue_mod

        s = self._chat(spark, tmp_path)
        from leaf_spark.streaming.subscribe import SubscriptionWorker

        w = SubscriptionWorker(s)
        try:
            sub = w.subscribe_events(
                "a", LeafQuery("messages", start=1, limit=100)
            )
            deadline = 50
            got = 0
            while got == 0 and deadline:
                try:
                    got += len(sub.channel.get(timeout=0.1).rows)
                except Exception:
                    pass
                deadline -= 1
            assert got == 5, "no backfill delivered"
            with mock.patch.object(
                Stream,
                "query_df",
                side_effect=AssertionError("spark path used"),
            ):
                s.add_events([msg("b", "live1", 99)])
                deadline = 50
                while deadline:
                    try:
                        resp = sub.channel.get(timeout=0.1)
                        if resp.error:
                            raise AssertionError(resp.error)
                        got += len(resp.rows)
                        if got > 5:
                            break
                    except queue_mod.Empty:
                        pass
                    deadline -= 1
            assert got == 6
        finally:
            w.close()


class TestReadPathHardening:
    """r10 review findings on the read path: authorizer enforcement,
    quoted-identifier event capture, decode-cache lifetime."""

    def _chat(self, spark, tmp_path):
        from .fixtures import msg

        s = Stream(spark, str(tmp_path), "did:plc:rph")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m1", 1)])
        return s

    def test_enforced_authorizer_gates_local_reads(self, spark, tmp_path):
        """With enforce=True, a query using a function outside the
        query allowlist must raise on BOTH paths — the local path must
        not answer what the Spark path would refuse."""
        from leaf_spark.sqlcompat import AuthorizationError

        s = self._chat(spark, tmp_path)
        s.sql_authorizer.enforce = True
        try:
            allowed = s.query("a", LeafQuery("messages"))
            assert allowed  # allowlisted query still answers
            with pytest.raises(AuthorizationError):
                s._local_query(
                    "select hex(randomblob(4)) as h from messages",
                    {"start": 1, "limit": 10, "requesting_user": None},
                )
        finally:
            s.sql_authorizer.enforce = False

    def test_quoted_event_identifier_never_answers(self, spark, tmp_path):
        """A quoted '"event"' reference slips past the bare-word gate
        (quoted tokens fail _is_word) — the leftover authorize staging
        must still never answer: run_readonly drops it, sqlite errors,
        and the read falls back to Spark."""
        s = self._chat(spark, tmp_path)
        # the add_events above staged an `event` table on the local con
        got = s._local_query(
            'select m.content from messages m, "event" e',
            {"start": 1, "limit": 10, "requesting_user": None},
        )
        assert got is None  # fallback, not stale staging

    def test_decode_cache_resets_per_batch(self, spark, tmp_path):
        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        first = dict(s._local_eval._dcache)
        s.add_events([msg("b", "m2", 2)])
        after = s._local_eval._dcache
        # the first batch's payloads were evicted at second-batch start
        assert all(k not in after for k in first), "cache not reset"


class TestMirrorChainLongevity:
    """r12 (VERDICT r11 #7): the append chain FOLDS past _MIRROR_CHAIN_CAP
    instead of dropping history — a long run of commits between reads must
    never force a restage (which a >_MIRROR_CAP mirror cannot do at all)."""

    def _chat(self, spark, tmp_path):
        from .fixtures import msg

        s = Stream(spark, str(tmp_path), "did:plc:chainfold")
        s.provide_module(CHAT)
        s.add_events([msg("a", "seed", 1)])
        return s

    def _spark_rows(self, s, user, q):
        import unittest.mock as mock

        with mock.patch.object(
            Stream, "_local_query", lambda self, sql, args: None
        ):
            return s.query(user, q)

    def test_100_commit_append_stream_never_leaves_mirror(
        self, spark, tmp_path
    ):
        import unittest.mock as mock

        from leaf_spark.dml import TableStore

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        q = LeafQuery("message_stats", limit=1000)
        s.query("a", q)  # stage the mirror at 1 row
        assert "messages" in s._mirror_versions
        cap = TableStore._MIRROR_CHAIN_CAP
        n = 100
        assert n > cap  # the scenario the old truncation broke
        # Spark-path appends (the mirror fold would keep the mirror
        # current) with NO reads in between: the chain must fold
        with mock.patch.object(Stream, "_mirror_fold", return_value=False):
            for i in range(n):
                s.add_events([msg("bulk", f"x{i}", 100 + i)])
        chain = s.store._mirror_chain["messages"]
        assert chain is not None and len(chain) <= cap
        # contiguous coverage survived the folds
        deltas = s.store.deltas_since(
            "messages", s._mirror_versions["messages"]
        )
        assert deltas is not None
        expect = self._spark_rows(s, "a", q)
        with mock.patch.object(
            Stream, "query_df", side_effect=AssertionError("spark path used")
        ):
            got = s.query("a", q)
        assert got == expect
        assert s._mirror_rows["messages"] == n + 1
        # consumed history is pruned; the NEXT commit+read stays local too
        assert s.store._mirror_chain["messages"] == []
        s.add_events([msg("bulk", "tail", 999)])
        with mock.patch.object(
            Stream, "query_df", side_effect=AssertionError("spark path used")
        ):
            got2 = s.query("a", q)
        assert got2 == self._spark_rows(s, "a", q)
        assert s._mirror_rows["messages"] == n + 2

    def test_interleaved_reads_prune_the_chain(self, spark, tmp_path):
        from leaf_spark.dml import TableStore

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        q = LeafQuery("message_stats", limit=1000)
        s.query("a", q)
        for i in range(3 * TableStore._MIRROR_CHAIN_CAP):
            s.add_events([msg("bulk", f"y{i}", 100 + i)])
            s.query("a", q)  # sync every commit → chain never accumulates
            chain = s.store._mirror_chain["messages"]
            assert chain is not None and len(chain) <= 2
        assert s._mirror_rows["messages"] == 3 * TableStore._MIRROR_CHAIN_CAP + 1

    def test_fold_span_bound_poisons_pathological_chains(
        self, spark, tmp_path
    ):
        import unittest.mock as mock

        from leaf_spark.dml import TableStore

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        s.query("a", LeafQuery("messages", limit=10))
        # Spark-path appends: the mirror fold would keep the mirror current
        with mock.patch.object(
            TableStore, "_MIRROR_FOLD_SPAN", 8
        ), mock.patch.object(Stream, "_mirror_fold", return_value=False):
            for i in range(TableStore._MIRROR_CHAIN_CAP + 10):
                s.add_events([msg("bulk", f"z{i}", 100 + i)])
        # beyond the bound the chain poisons (restage fallback, not wrong
        # answers) and queries still serve with identical rows via Spark
        assert s.store._mirror_chain["messages"] is None
        q = LeafQuery("message_stats", limit=1000)
        assert s.query("a", q) == self._spark_rows(s, "a", q)

    def test_fold_respects_reader_positions(self):
        """Spark-free (no-op entries): folds never merge across a reader,
        and a fold past _MIRROR_FOLD_SPAN cuts the chain at the next
        reader — only the readers below it lose their path — or poisons
        it when no reader is above."""
        import unittest.mock as mock

        from leaf_spark.dml import TableStore

        def folded(readers, span=TableStore._MIRROR_FOLD_SPAN):
            st = TableStore(spark=None, view_prefix="p_")
            st._table_versions["t"] = 200
            st.chain_readers = lambda name: readers
            with mock.patch.object(TableStore, "_MIRROR_FOLD_SPAN", span):
                st._mirror_chain["t"] = st._fold_chain(
                    "t", [(v, v + 1, None) for v in range(200)]
                )
            return st

        st = folded([0, 10])
        assert len(st._mirror_chain["t"]) <= TableStore._MIRROR_CHAIN_CAP
        assert st.deltas_since("t", 0) == [] and st.deltas_since("t", 10) == []
        st = folded([0, 150], span=8)
        assert st.deltas_since("t", 0) is None
        assert st.deltas_since("t", 150) == []
        assert folded([0], span=8)._mirror_chain["t"] is None
        # entries below every reader are pruned; no reader keeps nothing
        assert folded([150])._mirror_chain["t"][0][0] == 150
        assert folded([])._mirror_chain["t"] == []

    def test_fold_keeps_both_readers(self, spark, tmp_path):
        """The snapshot reads the chain from the persist, the mirror from
        one commit later. A no-read burst past _MIRROR_CHAIN_CAP must fold
        around both positions: the next query advances the mirror by the
        deltas (no restage, no Spark) and the next persist still writes
        only the delta rows as a chained dir."""
        import json
        import os
        import unittest.mock as mock

        import pyarrow.parquet as pq

        from leaf_spark.dml import TableStore

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        s.persist_state()
        s.add_events([msg("bulk", "one", 2)])
        q = LeafQuery("message_stats", limit=1000)
        s.query("a", q)  # the mirror stages one commit past the snapshot
        assert s._mirror_versions["messages"] > s._snap_table_versions["messages"]
        n = TableStore._MIRROR_CHAIN_CAP + 6
        # Spark-path appends (the mirror fold would keep the mirror
        # current) with NO reads and NO persist in between
        with mock.patch.object(Stream, "_mirror_fold", return_value=False):
            for i in range(n):
                s.add_events([msg("bulk", f"w{i}", 100 + i)])
        chain = s.store._mirror_chain["messages"]
        assert chain is not None and len(chain) <= TableStore._MIRROR_CHAIN_CAP
        expect = self._spark_rows(s, "a", q)
        with mock.patch.object(
            Stream, "query_df", side_effect=AssertionError("spark path used")
        ), mock.patch.object(
            LocalEval, "stage_table", side_effect=AssertionError("restaged")
        ):
            got = s.query("a", q)
        assert got == expect
        assert s._mirror_rows["messages"] == n + 2
        s.persist_state()
        with open(s._snapshot_manifest_path()) as f:
            m = json.load(f)
        assert m["tables"]["messages"]["paths"] == [
            "v000001/messages",
            "v000002/messages",
        ]
        d2 = os.path.join(s._snapshot_base(), "v000002", "messages")
        assert sum(
            pq.ParquetFile(os.path.join(d2, f)).metadata.num_rows
            for f in os.listdir(d2)
            if f.endswith(".parquet")
        ) == n + 1

    @staticmethod
    def _jobs(spark, fn) -> int:
        """Spark jobs ``fn`` ran on this thread (one job group around it;
        the listener bus is drained before the status tracker is read)."""
        import uuid

        sc = spark.sparkContext
        group = f"literal-append-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_literal_append_commits_run_no_job(self, spark, tmp_path):
        """A commit whose fold only appends rows runs no job: the mirror
        fold hands the rows to the store, where they wait until Spark
        reads the table. One read rebuilds the table as one literal
        segment on its base; the _LITERAL_SEGMENT_CAP + 1-th segment
        marks the table dirty, and the next commit runs exactly the one
        checkpoint job that cuts the union."""
        from leaf_spark.dml import TableStore

        from .fixtures import msg

        s = self._chat(spark, tmp_path)  # the seed commit
        cap = 32
        jobs = [
            self._jobs(spark, lambda i=i: s.add_events([msg("b", f"f{i}", i)]))
            for i in range(cap)
        ]
        assert jobs == [0] * cap
        assert TableStore._LITERAL_SEGMENT_CAP == cap
        assert "messages" not in s.store._segments
        assert len(s.store._pending["messages"][1]) == cap + 1
        q = LeafQuery("messages", limit=1000)
        rows = s.query("a", q)
        assert rows == self._spark_rows(s, "a", q)
        assert len(rows) == cap + 1
        assert s.store._segments["messages"] == 1  # the one rebuild
        assert "messages" not in s.store._pending
        s.store._segments["messages"] = cap  # as after 32 rebuilds
        s.add_events([msg("b", "more", 100)])
        self._spark_rows(s, "a", q)  # the 33rd rebuild: dirty
        assert self._jobs(spark, lambda: s.add_events([msg("b", "cut", 101)])) == 1
        assert "messages" not in s.store._segments
        rows = s.query("a", q)
        assert rows == self._spark_rows(s, "a", q)
        assert len(rows) == cap + 3

    @pytest.mark.parametrize("bulk", [1, Stream._MIRROR_CAP + 1])
    def test_rejected_batch_keeps_mirror_chain(self, spark, tmp_path, bulk):
        """A rolled-back batch restores the pre-batch chain plus one no-op
        entry: the next query advances the mirror by the accepted delta
        alone — no restage, no Spark. Past _MIRROR_CAP rows a restage
        is impossible, so a lost chain would pin every later query on
        the Spark path."""
        import unittest.mock as mock

        from .fixtures import msg

        s = self._chat(spark, tmp_path)
        q = LeafQuery("message_stats", limit=1000)
        s.add_events([msg("b", f"x{i}", 100 + i) for i in range(bulk)])
        s.query("a", q)
        staged = s._mirror_rows["messages"]
        assert staged == bulk + 1
        with pytest.raises(Exception, match="missing content"):
            s.add_events(
                [msg("b", "lost", 500), IncomingEvent("b", drisl.encode({"x": 1}))]
            )
        s.add_events([msg("b", "after", 501)])
        expect = self._spark_rows(s, "a", q)
        with mock.patch.object(
            Stream, "query_df", side_effect=AssertionError("spark path used")
        ), mock.patch.object(
            LocalEval, "stage_table", side_effect=AssertionError("restaged")
        ):
            got = s.query("a", q)
        assert got == expect
        assert s._mirror_rows["messages"] == staged + 1

    def test_failed_fold_append_never_reaches_mirror(self, spark, tmp_path):
        """A fold that appended to one table and then failed on the next
        statement: the restored chain must not carry the rolled-back
        delta, or the next advance would insert rows the table lost."""
        import unittest.mock as mock

        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists log "
                "(idx integer primary key, v integer); "
                "create table if not exists strict "
                "(idx integer primary key, w integer not null);"
            ),
            materializer=(
                "insert into log (idx, v) "
                "select idx, drisl_extract_int(payload, '.v') from event; "
                "insert into strict (idx, w) "
                "select idx, drisl_extract_int(payload, '.w') from event;"
            ),
            queries=(QueryDef("log", "select idx, v from log order by idx"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:foldfail")
        s.provide_module(mod)
        s.add_events([ev("u", v=1, w=1)])
        q = LeafQuery("log")
        s.query(None, q)  # stages the mirror
        with pytest.raises(Exception, match="NOT NULL"):
            s.add_events([ev("u", v=2)])
        s.add_events([ev("u", v=3, w=3)])
        with mock.patch.object(
            Stream, "query_df", side_effect=AssertionError("spark path used")
        ):
            got = s.query(None, q)
        assert [r["v"] for r in got] == [1, 3]


class TestMirrorFold:
    """Small tables fold in the sqlite mirror (Stream._mirror_fold): a
    read-marker commit runs no Spark job, a fold the engines disagree on
    by raising leaves mirror and Spark rows at their pre-batch contents,
    and a batch past _MIRROR_CAP takes the Spark path."""

    _jobs = staticmethod(TestMirrorChainLongevity._jobs)

    @staticmethod
    def _rows(s, name):
        spark_rows = sorted(tuple(r) for r in s.store.tables[name].collect())
        mirror = sorted(
            s._local_eval._con.execute(f'select * from "{name}"').fetchall()
        )
        return spark_rows, mirror

    def test_chat_read_marker_runs_no_job(self, spark, tmp_path):
        from .fixtures import marker, msg

        s = Stream(spark, str(tmp_path), "did:plc:mfold")
        s.provide_module(CHAT)
        s.add_events([msg("a", f"m{i}", i) for i in range(4)])
        jobs = [
            self._jobs(
                spark, lambda i=i: s.add_state_events([marker(f"u{i % 3}", i)])
            )
            for i in range(6)
        ]
        assert jobs == [0] * 6
        name = "state_read_markers"
        assert s._mirror_versions[name] == s.store.table_version(name)
        spark_rows, mirror = self._rows(s, name)
        assert spark_rows == mirror == [("u0", 3), ("u1", 4), ("u2", 5)]
        assert s.query("u1", LeafQuery("my_unread")) == [{"unread": 0}]

    def test_not_null_violation_rejects_and_keeps_rows(self, spark, tmp_path):
        """An event without .v upserts NULL into a NOT NULL column: sqlite
        raises, the SAVEPOINT rolls back, and the Spark path raises its
        own error for the whole batch. Both copies keep the pre-batch
        rows, and the mirror stays usable — the next batch folds there
        again, with no job."""
        mod = BasicModuleDef(
            state_init_sql=(
                "create table if not exists state.t "
                "(user text primary key, v integer not null);"
            ),
            state_materializer=(
                "insert into state.t (user, v) select user, "
                "drisl_extract_int(payload, '.v') from event where true "
                "on conflict(user) do update set v = excluded.v;"
            ),
            queries=(QueryDef("t", "select user, v from state.t order by user"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:mfoldnn")
        s.provide_module(mod)
        s.add_state_events([ev("a", v=1), ev("b", v=2)])
        before = [("a", 1), ("b", 2)]
        assert self._rows(s, "state_t") == (before, before)
        with pytest.raises(Exception, match="NOT NULL constraint failed"):
            s.add_state_events([ev("a", v=5), ev("c")])
        assert self._rows(s, "state_t") == (before, before)
        assert self._jobs(spark, lambda: s.add_state_events([ev("c", v=3)])) == 0
        after = [*before, ("c", 3)]
        assert self._rows(s, "state_t") == (after, after)

    def test_batch_past_cap_takes_spark_path(self, spark, tmp_path):
        from .fixtures import marker

        s = Stream(spark, str(tmp_path), "did:plc:mfoldcap")
        s.provide_module(CHAT)
        name = "state_read_markers"
        first = [marker(f"u{i}", i) for i in range(200)]
        assert self._jobs(spark, lambda: s.add_state_events(first)) == 0
        crossing = [marker(f"u{i}", i + 1000) for i in range(150, 260)]
        assert self._jobs(spark, lambda: s.add_state_events(crossing)) > 0
        want = {f"u{i}": i for i in range(150)}
        want.update({f"u{i}": i + 1000 for i in range(150, 260)})
        assert len(want) > Stream._MIRROR_CAP
        got = dict(tuple(r) for r in s.store.tables[name].collect())
        assert got == want
        assert s._mirror_versions.get(name) != s.store.table_version(name)
        assert s.query("u255", LeafQuery("my_unread")) == [{"unread": 0}]

    def test_reopen_and_clear_return_to_the_mirror(self, spark, tmp_path):
        """After a reopen from the snapshot the state table's mirror is
        staged once (one take job) and the fold returns to the mirror;
        after clear_state the recreated table bootstraps from its empty
        base with no job at all."""
        from .fixtures import marker, msg

        s = Stream(spark, str(tmp_path), "did:plc:mfoldre")
        s.provide_module(CHAT)
        s.add_events([msg("a", "m", 1)])  # a fold cursor, so reopen loads
        s.add_state_events([marker("a", 1)])
        s.persist_state()
        s2 = Stream(spark, str(tmp_path), "did:plc:mfoldre")
        s2.provide_module(CHAT)
        assert self._jobs(spark, lambda: s2.add_state_events([marker("a", 2)])) == 1
        assert self._jobs(spark, lambda: s2.add_state_events([marker("b", 3)])) == 0
        s2.clear_state()
        assert self._jobs(spark, lambda: s2.add_state_events([marker("c", 4)])) == 0
        spark_rows, mirror = self._rows(s2, "state_read_markers")
        assert spark_rows == mirror == [("c", 4)]


class TestPy4jBudget:
    """A commit that the mirror folds makes (almost) no JVM call: the
    rows reach Spark only when a Spark statement reads the table. Round
    trips are counted on the calling thread with a wrapper on
    ``ClientServerConnection.send_command`` (py4j releases garbage
    collected objects from its own thread)."""

    @staticmethod
    def _counter():
        import threading

        from py4j.clientserver import ClientServerConnection

        calls = [0]
        send = ClientServerConnection.send_command
        owner = threading.get_ident()

        def counting(self, command):
            if threading.get_ident() == owner:
                calls[0] += 1
            return send(self, command)

        return calls, mock.patch.object(
            ClientServerConnection, "send_command", counting
        )

    def test_warm_commits_stay_off_the_jvm(self, spark, tmp_path):
        from leaf_spark.dml import DmlExecutor

        from .fixtures import marker, msg

        s = Stream(spark, str(tmp_path), "did:plc:py4j")
        s.provide_module(CHAT)
        s.add_events([msg("a", "warm", 1)])
        s.add_state_events([marker("a", 1)])
        q = LeafQuery("messages", limit=1000)
        calls, counting = self._counter()
        with counting:
            used = []
            for i in range(40):
                c0 = calls[0]
                s.add_events([msg(f"u{i % 3}", f"m{i}", 10 + i)])
                c1 = calls[0]
                s.add_state_events([marker(f"u{i % 3}", 10 + i)])
                used.append((c1 - c0, calls[0] - c1))
            versions = dict(s.store._table_versions)
            c0 = calls[0]
            with pytest.raises(BatchRejected, match="missing content"):
                s.add_events([ev("a", x=1)])
            rejected = calls[0] - c0
        assert max(c for c, _ in used) <= 5, used
        assert max(m for _, m in used) <= 5, used
        assert rejected == 0
        assert s.store._table_versions == versions
        mirror = s.query("a", q)
        assert len(mirror) == 41
        # the Spark view is rebuilt on its first read, same rows in order
        assert [r.asDict() for r in s.query_df("a", q, {
            "start": 1, "limit": 1000, "requesting_user": "a"
        }).collect()] == mirror
        # a statement the mirror does not fold reads the rebuilt table
        DmlExecutor(s.store).execute(
            "insert into messages (idx, sender, content, sent_at) "
            "select max(idx) + 1, 'z', 'spark', 0 from messages"
        )
        mirror = s.query("a", q)
        assert mirror[-1]["content"] == "spark" and len(mirror) == 42
        assert [tuple(r) for r in s.store.tables["messages"].collect()] == [
            tuple(r.values()) for r in mirror
        ]
        markers = LeafQuery("my_unread")
        unread = {u: s.query(u, markers) for u in ("u0", "u1", "u2")}
        s.persist_state()
        s2 = Stream(spark, str(tmp_path), "did:plc:py4j")
        s2.provide_module(CHAT)
        assert s2.query("a", q) == mirror
        assert {u: s2.query(u, markers) for u in unread} == unread

    @staticmethod
    def _tokenizer_passes():
        """Count tokenizer passes (each starts with a match at offset 0)
        through a stand-in for ``sqlcompat._TOKEN_RE``."""
        from leaf_spark import sqlcompat

        passes = [0]
        pattern = sqlcompat._TOKEN_RE

        class Counting:
            def match(self, sql, pos=0):
                if pos == 0:
                    passes[0] += 1
                return pattern.match(sql, pos)

        return passes, mock.patch.object(sqlcompat, "_TOKEN_RE", Counting())

    def test_warm_ops_run_no_tokenizer_pass(self, spark, tmp_path):
        """Module statements are analysed once per (text, table set): a
        warm commit, read marker and named query re-tokenize nothing
        (each group of the five re-ran 21 passes before the memo)."""
        from leaf_spark.sqlcompat import lex, tokenize

        from .fixtures import marker, msg

        s = Stream(spark, str(tmp_path), "did:plc:tokens")
        s.provide_module(CHAT)
        queries = [
            LeafQuery("messages", limit=50),
            LeafQuery("message_stats"),
            LeafQuery("my_unread"),
        ]

        def group(i: int) -> list[int]:
            ops = [
                lambda: s.add_events([msg(f"u{i % 3}", f"m{i}", i)]),
                lambda: s.add_state_events([marker(f"u{i % 3}", i)]),
                *(lambda q=q: s.query("u1", q) for q in queries),
            ]
            used = []
            for op in ops:
                p0 = passes[0]
                op()
                used.append(passes[0] - p0)
            return used

        passes, counting = self._tokenizer_passes()
        with counting:
            group(0)  # warm-up: the first sight of each statement
            used = [group(i) for i in range(1, 4)]
            # the counter sees real passes: an uncached call and a miss
            p0 = passes[0]
            tokenize("select 1")
            unseen = f"select '{tmp_path}'"
            lex(unseen)
            lex(unseen)
            assert passes[0] - p0 == 2
        assert used == [[0] * 5] * 3, used
        assert len(s.query("u1", queries[0])) == 4


class TestAnalysisMemo:
    """The memoized statement analysis must re-gate whenever its inputs
    change; a stale answer keyed on the text alone would serve a read
    from a table the mirror does not hold, or skip one it does."""

    ARGS = {"start": 1, "limit": 10, "requesting_user": None}
    SQL = "select k from extra order by k"

    def test_create_drop_and_update_module_regate(self, spark, tmp_path):
        s = Stream(spark, str(tmp_path), "did:plc:regate")
        s.provide_module(CHAT)
        assert s._local_query(self.SQL, self.ARGS) is None  # unknown: Spark
        s._run_script("create table extra (k text primary key)", "materialize")
        assert s._local_query(self.SQL, self.ARGS) == []  # now the mirror's
        s._run_script("drop table extra", "materialize")
        assert s._local_query(self.SQL, self.ARGS) is None
        s.update_module(dataclasses.replace(
            CHAT,
            init_sql=CHAT.init_sql
            + " create table if not exists extra (k text primary key);",
        ))
        assert s._local_query(self.SQL, self.ARGS) == []
