"""Regression tests for the round-1 advisor findings (ADVICE.md):

1. high   — the fold planner must not run INSERT…SELECT FROM event
            statements whose subqueries read managed tables (intra-batch
            dedup idiom) as plain set-wise steps: they compile or fall back
            to the per-event sequential fold (basic.rs:76-105 semantics).
2. medium — add_state_events: deterministic fold order for multi-event
            batches + rollback on mid-fold failure (lib.rs:721-773).
3. medium — add_events rollback drops batch-created tables/views (snapshot
            order bug made drop a no-op).
4. low    — the staged ``event`` view exposes the reference's column set:
            (idx, user, payload) for materialize, (user, payload) for
            authorize — SELECT * arity parity.
5. low    — ON CONFLICT upserts treat NULL conflict keys as SQLite does:
            never conflict, always insert.
"""

import pytest

from leaf_spark import drisl
from leaf_spark.dml import DmlExecutor, TableStore
from leaf_spark.fold import execute as fold_exec
from leaf_spark.fold import plan as fold_plan
from leaf_spark.module import BasicModuleDef, QueryDef, split_statements
from leaf_spark.stream import Stream
from leaf_spark.types import IncomingEvent, LeafQuery

from .fixtures import CHAT, marker


def ev(user: str, **payload) -> IncomingEvent:
    return IncomingEvent(user, drisl.encode(payload))


DEDUP = BasicModuleDef(
    init_sql=(
        "create table if not exists seen (key text not null, idx integer not null)"
    ),
    materializer=(
        "insert into seen (key, idx) "
        "select drisl_extract(payload, '.key'), idx from event "
        "where not exists (select 1 from seen "
        "where key = drisl_extract(payload, '.key'));"
    ),
    queries=(QueryDef("seen", "select key, idx from seen order by idx"),),
)


class TestBatchSafeTableRefs:
    def test_dedup_idiom_not_batch_safe(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:dedupmod")
        s.provide_module(DEDUP)
        plan = fold_plan.plan(split_statements(DEDUP.materializer), s.store)
        assert [st.kind for st in plan] == ["compiled"]

    def test_intra_batch_duplicates_suppressed(self, spark, tmp_root):
        """All three events arrive in ONE batch; the second 'a' must see the
        first 'a' already materialized (sequential fold semantics)."""
        s = Stream(spark, tmp_root, "did:plc:dedupmod2")
        s.provide_module(DEDUP)
        s.add_events([ev("u", key="a"), ev("u", key="a"), ev("u", key="b")])
        rows = s.query(None, LeafQuery("seen"))
        assert rows == [{"key": "a", "idx": 1}, {"key": "b", "idx": 3}]

    def test_state_qualified_ref_not_batch_safe(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:dedupmod3")
        s.provide_module(CHAT)  # registers state_read_markers
        sql = (
            "insert into messages (idx, sender, content, sent_at) "
            "select idx, user, 'x', 0 from event where user in "
            "(select user from state.read_markers)"
        )
        assert fold_plan.plan([sql], s.store) is None

    def test_plain_insert_still_batch_safe(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:dedupmod4")
        s.provide_module(CHAT)
        plan = fold_plan.plan(split_statements(CHAT.materializer), s.store)
        assert {st.kind for st in plan} == {"plain"}


class TestStateEventBatches:
    def test_multi_event_batch_last_wins_deterministically(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:statebatch")
        s.provide_module(CHAT)
        # same user twice in one batch: the LATER event must win the upsert
        s.add_state_events([marker("u", 5), marker("u", 9)])
        df = s.store.tables["state_read_markers"]
        assert [r.asDict() for r in df.collect()] == [{"user": "u", "last_read": 9}]

    def test_mid_fold_failure_rolls_back(self, spark, tmp_root):
        mod = BasicModuleDef(
            init_sql="create table if not exists log (idx integer primary key)",
            materializer="insert into log (idx) select idx from event;",
            state_init_sql=(
                "create table if not exists state.m (user text primary key, v integer)"
            ),
            state_materializer=(
                "insert into state.m (user, v) select user, "
                "drisl_extract_int(payload, '.v') from event where true "
                "on conflict(user) do update set v = excluded.v; "
                "insert into no_such_table (x) select idx from event;"
            ),
            queries=(QueryDef("log", "select idx from log"),),
        )
        s = Stream(spark, tmp_root, "did:plc:staterb")
        s.provide_module(mod)
        with pytest.raises(Exception, match="no_such_table"):
            s.add_state_events([ev("u", v=1)])
        # first statement's effect must be rolled back
        assert s.store.tables["state_m"].count() == 0


class TestRollbackRestoresCreatedObjects:
    def test_store_restore_drops_new_tables_and_views(self, spark):
        import pyspark.sql.types as T

        store = TableStore(spark, "t_rbtest_")
        ex = DmlExecutor(store)
        ex.execute("create table base (a integer)")
        snap = store.snapshot()
        ex.execute("create table extra (b integer)")
        ex.execute("create view vextra as select a from base")
        store.restore(snap)
        assert set(store.defs) == {"base"}
        assert store.views == {}
        # temp views for the rolled-back objects are gone
        assert not spark.catalog.tableExists("t_rbtest_extra")
        assert spark.catalog.tableExists("t_rbtest_base")
        assert isinstance(store.defs["base"].schema, T.StructType)


class TestEventViewArity:
    def test_select_star_materializer_sees_three_columns(self, spark, tmp_root):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists raw "
                "(idx integer primary key, user text, payload blob)"
            ),
            materializer="insert into raw select * from event;",
            queries=(QueryDef("raw", "select idx, user from raw order by idx"),),
        )
        s = Stream(spark, tmp_root, "did:plc:arity")
        s.provide_module(mod)
        s.add_events([ev("u1", v=1), ev("u2", v=2)])
        rows = s.query(None, LeafQuery("raw"))
        assert rows == [{"idx": 1, "user": "u1"}, {"idx": 2, "user": "u2"}]


class TestGroupConcatDeterminism:
    def test_stable_across_partitionings(self, spark):
        """translate()'d group_concat must give identical output no matter
        how the input is partitioned (VERDICT wrong #2)."""
        from leaf_spark.sqlcompat import translate

        sql = translate("select group_concat(v) as gc from t")
        assert "sort_array" in sql
        df = spark.createDataFrame([(i,) for i in range(50)], "v int")
        outs = set()
        for n in (1, 8):
            df.repartition(n).createOrReplaceTempView("t")
            outs.add(spark.sql(sql).collect()[0]["gc"])
        assert len(outs) == 1

    def test_json_group_array_sorted(self):
        from leaf_spark.sqlcompat import translate

        assert "sort_array" in translate("select json_group_array(v) from t")


class TestBackupStaysDistributed:
    def test_no_driver_materialization_in_state_snapshot(self):
        """The state snapshot/restore path must not collect tables onto the
        driver (VERDICT wrong #3)."""
        import inspect

        from leaf_spark import backup

        for fn in (backup._snapshot_state, backup._restore_state):
            src = inspect.getsource(fn)
            assert "toPandas" not in src and "collect()" not in src


class TestUpsertNullKeys:
    @pytest.fixture()
    def store(self, spark):
        st = TableStore(spark, "t_nullkey_")
        DmlExecutor(st).execute(
            "create table t (k text primary key, v integer)"
        )
        return st

    def _rows(self, store):
        return sorted(
            (r.asDict() for r in store.tables["t"].collect()),
            key=lambda r: (r["k"] is None, r["k"], r["v"]),
        )

    def test_null_keys_always_insert(self, store):
        ex = DmlExecutor(store)
        ex.execute(
            "insert into t (k, v) values (null, 1) "
            "on conflict(k) do update set v = excluded.v"
        )
        ex.execute(
            "insert into t (k, v) values (null, 2) "
            "on conflict(k) do update set v = excluded.v"
        )
        # SQLite: NULL keys never conflict → two distinct rows
        assert self._rows(store) == [{"k": None, "v": 1}, {"k": None, "v": 2}]

    def test_null_key_rows_dont_merge_with_existing_nulls(self, store):
        ex = DmlExecutor(store)
        ex.execute("insert into t (k, v) values (null, 1)")
        ex.execute(
            "insert into t (k, v) values ('a', 10), (null, 2) "
            "on conflict(k) do nothing"
        )
        assert self._rows(store) == [
            {"k": "a", "v": 10},
            {"k": None, "v": 1},
            {"k": None, "v": 2},
        ]

    def test_non_null_keys_still_merge(self, store):
        ex = DmlExecutor(store)
        ex.execute("insert into t (k, v) values ('a', 1)")
        ex.execute(
            "insert into t (k, v) values ('a', 2), (null, 3) "
            "on conflict(k) do update set v = excluded.v"
        )
        assert self._rows(store) == [{"k": "a", "v": 2}, {"k": None, "v": 3}]


class TestSqliteConflictClauses:
    """INSERT OR REPLACE / OR IGNORE / REPLACE INTO emulated as PK upserts."""

    @pytest.fixture()
    def kv(self, spark):
        st = TableStore(spark, "t_orrep_")
        DmlExecutor(st).execute(
            "create table kv (k text primary key, v integer)"
        )
        return st

    def _rows(self, store):
        return sorted(
            (r.asDict() for r in store.tables["kv"].collect()), key=lambda r: r["k"]
        )

    def test_insert_or_replace(self, kv):
        ex = DmlExecutor(kv)
        ex.execute("insert into kv values ('a', 1)")
        ex.execute("insert or replace into kv values ('a', 2), ('b', 3)")
        assert self._rows(kv) == [{"k": "a", "v": 2}, {"k": "b", "v": 3}]

    def test_replace_into(self, kv):
        ex = DmlExecutor(kv)
        ex.execute("insert into kv values ('a', 1)")
        ex.execute("replace into kv values ('a', 9)")
        assert self._rows(kv) == [{"k": "a", "v": 9}]

    def test_insert_or_ignore(self, kv):
        ex = DmlExecutor(kv)
        ex.execute("insert into kv values ('a', 1)")
        ex.execute("insert or ignore into kv values ('a', 2), ('c', 3)")
        assert self._rows(kv) == [{"k": "a", "v": 1}, {"k": "c", "v": 3}]

    def test_multi_tuple_last_wins(self, kv):
        ex = DmlExecutor(kv)
        ex.execute("insert or replace into kv values ('x', 1), ('x', 2), ('x', 3)")
        assert self._rows(kv) == [{"k": "x", "v": 3}]


class TestAlterTable:
    @pytest.fixture()
    def store(self, spark):
        st = TableStore(spark, "t_alter_")
        ex = DmlExecutor(st)
        ex.execute("create table t (id integer primary key, name text)")
        ex.execute("insert into t values (1, 'a'), (2, 'b')")
        return st

    def _rows(self, store, table="t"):
        return sorted(
            (r.asDict() for r in store.tables[table].collect()),
            key=lambda r: r["id"],
        )

    def test_add_column_with_default(self, store):
        ex = DmlExecutor(store)
        ex.execute("alter table t add column score integer default 7")
        assert self._rows(store) == [
            {"id": 1, "name": "a", "score": 7},
            {"id": 2, "name": "b", "score": 7},
        ]
        ex.execute("insert into t values (3, 'c', 9)")
        assert self._rows(store)[-1]["score"] == 9

    def test_add_column_null_default(self, store):
        ex = DmlExecutor(store)
        ex.execute("alter table t add column extra text")
        assert all(r["extra"] is None for r in self._rows(store))

    def test_rename_column(self, store):
        ex = DmlExecutor(store)
        ex.execute("alter table t rename column name to title")
        assert self._rows(store) == [
            {"id": 1, "title": "a"},
            {"id": 2, "title": "b"},
        ]

    def test_drop_column(self, store):
        ex = DmlExecutor(store)
        ex.execute("alter table t drop column name")
        assert self._rows(store) == [{"id": 1}, {"id": 2}]
        from leaf_spark.sqlcompat import SqlTranslationError

        with pytest.raises(SqlTranslationError, match="primary-key"):
            ex.execute("alter table t drop column id")

    def test_rename_table(self, store):
        ex = DmlExecutor(store)
        ex.execute("alter table t rename to t2")
        assert "t" not in store.defs and "t2" in store.defs
        assert self._rows(store, "t2") == [
            {"id": 1, "name": "a"},
            {"id": 2, "name": "b"},
        ]
        # queries resolve the new name
        assert ex.execute("select count(*) as n from t2").collect()[0]["n"] == 2


class TestRound3Advice:
    """Round-3 advisor findings: table-cache staleness, view clobbering, and
    NULL-text semantics in incremental dedup."""

    def _write_docs(self, spark, path, texts):
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    def test_table_cache_invalidates_on_rewrite(self, spark, tmp_path):
        from leaf_spark.session import load_tables

        sf_dir = str(tmp_path / "sf")
        self._write_docs(spark, f"{sf_dir}/documents.parquet", ["old-a", "old-b"])
        t1 = load_tables(spark, sf_dir, names=("documents",))
        assert {r["text"] for r in t1["documents"].collect()} == {"old-a", "old-b"}

        self._write_docs(
            spark, f"{sf_dir}/documents.parquet", ["new-a", "new-b", "new-c"]
        )
        t2 = load_tables(spark, sf_dir, names=("documents",))
        assert {r["text"] for r in t2["documents"].collect()} == {
            "new-a",
            "new-b",
            "new-c",
        }

    def test_views_rebound_after_clobber(self, spark, tmp_path):
        from leaf_spark.session import load_tables

        sf_dir = str(tmp_path / "sf")
        self._write_docs(spark, f"{sf_dir}/documents.parquet", ["mine"])
        load_tables(spark, sf_dir, names=("documents",))
        # something else steals the view name
        spark.range(3).createOrReplaceTempView("documents")
        load_tables(spark, sf_dir, names=("documents",))
        assert [r["text"] for r in spark.table("documents").collect()] == ["mine"]

    def test_incremental_dedup_null_text_passthrough(self, spark):
        from leaf_spark.operators.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [(1, "seen"), (2, None)], "doc_id bigint, text string"
        )
        batch = spark.createDataFrame(
            [(10, "seen"), (11, None), (12, None), (13, "fresh")],
            "doc_id bigint, text string",
        )
        kept = sorted(
            r["doc_id"] for r in incremental_dedup(batch, corpus).collect()
        )
        # NULL = NULL is never true: corpus NULL suppresses nothing and the
        # two batch NULLs don't suppress each other; "seen" is suppressed
        assert kept == [11, 12, 13]


class TestRound4Advice:
    """Round-4 advisor findings: mtime-granularity boundary of the table
    cache, case-insensitive view inference, and per-view dir recording."""

    def _write_docs(self, spark, path, texts):
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    def test_same_size_rewrite_invalidates_via_mtime(self, spark, tmp_path):
        """Content change with IDENTICAL byte size: the fingerprint's
        mtime_ns component catches it (any real rewrite moves mtime)."""
        from leaf_spark.session import load_tables

        sf_dir = str(tmp_path / "sf")
        self._write_docs(spark, f"{sf_dir}/documents.parquet", ["aaaa"])
        t1 = load_tables(spark, sf_dir, names=("documents",))
        assert [r["text"] for r in t1["documents"].collect()] == ["aaaa"]

        self._write_docs(spark, f"{sf_dir}/documents.parquet", ["bbbb"])
        t2 = load_tables(spark, sf_dir, names=("documents",))
        assert [r["text"] for r in t2["documents"].collect()] == ["bbbb"]

    def test_mtime_restoration_is_the_documented_blind_spot(
        self, spark, tmp_path
    ):
        """DOCUMENTED boundary: if an adversary rewrites every file with
        identical sizes AND restores every mtime_ns via utime, the stat
        fingerprint cannot see the change — that is the accepted limit of
        a stat-based (content-hash-free) cache key. This test pins the
        behavior so a future fingerprint change that closes (or widens)
        the boundary shows up explicitly."""
        import os

        from leaf_spark.session import load_tables

        sf_dir = str(tmp_path / "sf")
        p = f"{sf_dir}/documents.parquet"
        self._write_docs(spark, p, ["aaaa"])
        stats = {
            fn: os.stat(os.path.join(p, fn)) for fn in os.listdir(p)
        }
        load_tables(spark, sf_dir, names=("documents",))

        self._write_docs(spark, p, ["cccc"])
        same_shape = True
        for fn in os.listdir(p):
            full = os.path.join(p, fn)
            old = stats.get(fn)
            if old is None or os.stat(full).st_size != old.st_size:
                same_shape = False  # layout differs → fingerprint sees it
            else:
                os.utime(full, ns=(old.st_atime_ns, old.st_mtime_ns))
        t = load_tables(spark, sf_dir, names=("documents",))
        if same_shape:
            # blind spot: stale content served (stat-identical rewrite)
            assert [r["text"] for r in t["documents"].collect()] == ["aaaa"]

    def test_sql_case_inference_is_case_insensitive(self, spark, tmp_path):
        """FROM EVENTS (uppercase) must register the events view — a
        lexical inference miss would silently reuse whatever 'events'
        view an earlier query left behind, possibly at another sf_dir."""
        from leaf_spark.queries import sql_case, _REGISTRY

        sf001 = "/root/testdata/sf0.001"
        try:
            sql_case(
                "zz_test_upper", "SELECT count(*) AS n FROM EVENTS", "unused"
            )
            spark.catalog.dropTempView("events")
            n = _REGISTRY["zz_test_upper"].spark_fn(spark, sf001).collect()[0]["n"]
            assert n > 0
        finally:
            _REGISTRY.pop("zz_test_upper", None)

    def test_load_tables_records_per_view_dir(self, spark, tmp_path):
        from leaf_spark.session import load_tables

        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        self._write_docs(spark, f"{a}/documents.parquet", ["in-a"])
        self._write_docs(spark, f"{b}/documents.parquet", ["in-b"])
        load_tables(spark, a, names=("documents",))
        assert spark._leaf_view_dirs["documents"] == a
        load_tables(spark, b, names=("documents",))
        assert spark._leaf_view_dirs["documents"] == b
        assert [r["text"] for r in spark.table("documents").collect()] == ["in-b"]


class TestRound5Advice:
    """Round-5 advisor findings (ADVICE.md r5): deadline-bounded websocket
    upgrade drain, loud-failure prefix sums, publish-before-unlink log
    compaction, and encode_png row_filters validation."""

    def test_prefix_sum_rejects_non_numeric_order_col(self, spark):
        from leaf_spark.operators.sampling import distributed_prefix_sum

        df = spark.createDataFrame(
            [("a", 1), ("b", 2)], "k string, v int"
        )
        with pytest.raises(ValueError, match="must be a numeric column"):
            distributed_prefix_sum(df, "k", "v", 100, "cum")

    def test_prefix_sum_raises_on_null_order_value(self, spark):
        """A NULL order value previously vanished from the inner __rid__
        equi-join (silently partial sums); it must now raise at execution."""
        from pyspark.errors.exceptions.base import PySparkException

        from leaf_spark.operators.sampling import distributed_prefix_sum

        df = spark.createDataFrame(
            [(1, 10), (None, 20), (3, 30)], "ord int, v int"
        )
        out = distributed_prefix_sum(df, "ord", "v", 100, "cum")
        with pytest.raises(PySparkException, match="non-null numeric order"):
            out.collect()

    def test_prefix_sum_still_exact_on_clean_input(self, spark):
        from leaf_spark.operators.sampling import distributed_prefix_sum

        rows = [(i, i % 7 + 1) for i in range(200)]
        df = spark.createDataFrame(rows, "ord int, v int")
        got = {
            r["ord"]: r["cum"]
            for r in distributed_prefix_sum(
                df, "ord", "v", 16, "cum", inclusive=True
            ).collect()
        }
        run = 0
        for i, v in rows:
            run += v
            assert got[i] == run

    def test_compaction_publishes_before_unlink(self, spark, tmp_root):
        """At every point during compact_log, a concurrent _log_files
        listing must cover the full committed idx range exactly once —
        the merged file is renamed into place BEFORE sources are
        unlinked, and the overlap-dedup prefers it during the window."""
        import os

        from leaf_spark.stream import Stream

        s = Stream(spark, tmp_root, "did:plc:compactorder")
        s.provide_module(CHAT)
        for i in range(4):
            s.add_events([ev("u", content=f"m{i}")])

        orig_replace = os.replace
        snapshots = []

        def spying_replace(src, dst):
            orig_replace(src, dst)
            if "part-" in str(dst):  # the tmp -> final publish
                snapshots.append(
                    [(a, b) for a, b, _ in s._log_files()]
                )

        os.replace = spying_replace
        try:
            assert s.compact_log(min_group=2) >= 1
        finally:
            os.replace = orig_replace

        # at the instant after publish (sources still on disk), the
        # listing already resolved to exactly-once coverage
        for snap in snapshots:
            seen = []
            for a, b in snap:
                seen.extend(range(a, b + 1))
            assert sorted(seen) == list(range(1, 5)), snap
        # and the final state reads back every event exactly once
        assert [e.idx for e in s.raw_get_events()] == [1, 2, 3, 4]

    def test_encode_png_rejects_wrong_filter_length(self):
        from leaf_spark.operators.multimodal import encode_png

        with pytest.raises(ValueError, match="row_filters length"):
            encode_png(2, 2, bytes(4), 1, row_filters=[0])
        with pytest.raises(ValueError, match="row_filters length"):
            encode_png(2, 2, bytes(4), 1, row_filters=[0, 1, 2])
        # correct length still works
        assert encode_png(2, 2, bytes(4), 1, row_filters=[0, 2])

    def test_size_conf_parses_fractional_values(self, spark):
        """ADVICE r6 asked the parser to accept fractional byte-sizes like
        '0.5g'. Empirically Spark ITSELF rejects fractional values for its
        typed byte confs at set-time (INVALID_CONF_VALUE.TYPE_MISMATCH on
        spark.sql.files.maxPartitionBytes), so the divergence scenario
        cannot arise through a live session — the extended parser is kept
        as defensive robustness and exercised here via an untyped key."""
        from leaf_spark.operators.dedup import _size_conf_bytes

        key = "leaf.test.bytesize"
        for raw, want in [
            ("0.5g", 512 * 1024 * 1024),
            ("1.5m", 1536 * 1024),
            ("128MB", 128 * 1024 * 1024),
            ("4194304b", 4194304),
            ("7", 7),
        ]:
            spark.conf.set(key, raw)
            assert _size_conf_bytes(spark, key, 1) == want, raw
        spark.conf.set(key, "not-a-size")
        assert _size_conf_bytes(spark, key, 42) == 42
        spark.conf.unset(key)
        # and Spark really does reject the fractional form for its own conf
        import pytest as _pytest
        from pyspark.errors.exceptions.captured import IllegalArgumentException

        with _pytest.raises(IllegalArgumentException):
            spark.conf.set("spark.sql.files.maxPartitionBytes", "0.5g")

    def test_scan_estimate_none_for_derived_inputs(self, spark, tmp_path):
        """df.inputFiles() is non-empty for any lineage containing file
        scans, so the estimate must gate on the optimized plan being
        narrow-over-scan — a post-aggregate/join DataFrame's partitioning
        comes from the shuffle, and spread() must leave it alone
        (ADVICE r6)."""
        from pyspark.sql import functions as F

        from leaf_spark.operators.dedup import (
            _estimated_scan_partitions,
            _is_narrow_over_scan,
            spread,
        )

        p = str(tmp_path / "docs.parquet")
        spark.range(100).withColumnRenamed("id", "doc_id").write.parquet(p)
        scan = spark.read.parquet(p)
        assert _is_narrow_over_scan(scan)
        assert _estimated_scan_partitions(scan) is not None
        # narrow ops preserve scan partitioning → still estimable
        narrow = scan.filter("doc_id > 3").select("doc_id")
        assert _is_narrow_over_scan(narrow)
        # derived shapes: partitioning comes from the shuffle, not files
        agg = scan.groupBy((F.col("doc_id") % 5).alias("k")).count()
        joined = scan.join(scan.withColumnRenamed("doc_id", "d2"),
                           F.col("doc_id") == F.col("d2"))
        repart = scan.repartition(3)
        for df in (agg, joined, repart):
            assert not _is_narrow_over_scan(df)
            assert _estimated_scan_partitions(df) is None
            # spread() is a no-op on them (identical plan object back)
            assert spread(df) is df

    def test_q199_dow_nonnegative_for_pre1970(self, spark):
        """Sign-of-dividend %: epoch day -5 (1969-12-27, a Saturday) must
        land in ISO dow 6, not bucket -1 (ADVICE r6)."""
        from datetime import datetime, timezone

        from leaf_spark.queries_eval import _Q199_D, _Q199_FINAL, _EPOCHDAY_SPARK

        rows = [
            # 1969-12-27 (Sat, iso 6) twice; 1970-01-01 (Thu, iso 4) once
            (1, datetime(1969, 12, 27, 10, 0, tzinfo=timezone.utc)),
            (2, datetime(1969, 12, 27, 11, 0, tzinfo=timezone.utc)),
            (3, datetime(1970, 1, 1, 9, 0, tzinfo=timezone.utc)),
        ]
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp"
        ).createOrReplaceTempView("events")
        sql = _Q199_FINAL.replace(
            "{D}", "(" + _Q199_D.replace("{EPOCHDAY}", _EPOCHDAY_SPARK) + ")"
        )
        got = {r["dow"]: r["n_events"] for r in spark.sql(sql).collect()}
        assert got == {4: 1, 6: 2}
        spark.catalog.dropTempView("events")

    def test_upgrade_drain_has_deadline(self):
        """The websocket-upgrade drain loop must carry a finite deadline so
        a wedged push thread cannot hang the transport forever (source
        contract check — the live-socket path is exercised in
        test_socketio.py)."""
        import inspect

        from leaf_spark import socketio

        src = inspect.getsource(socketio)
        assert "drain_deadline" in src
        idx = src.index("drain_deadline")
        loop = src[idx : idx + 400]
        assert "time.monotonic() < drain_deadline" in loop


class TestRound7Advice:
    """Round-7 advisor findings (ADVICE.md r7): the epoch-day floor fix
    floored only the Spark side while every DuckDB oracle still used the
    TRUNCATING `//` (DuckDB 1.0: -7 // 2 = -3), silently diverging for
    pre-1970 partial-day timestamps; plus the _size_conf_bytes float
    round-trip and the _is_narrow_over_scan prefix-match lows."""

    _PRE1970 = [
        # (event_id, ts) — partial days on BOTH sides of the epoch, one
        # exact midnight (trunc == floor there), one leap-year day
        (1, "1969-12-27 10:00:00"),  # Sat, epoch day -5 (trunc says -4)
        (2, "1969-12-27 11:00:00"),
        (3, "1969-12-31 23:00:00"),  # Wed, epoch day -1 (trunc says 0!)
        (4, "1969-12-28 00:00:00"),  # Sun midnight exact: day -4 both ways
        (5, "1968-02-29 06:30:00"),  # leap day, deep-negative partial
        (6, "1970-01-01 09:00:00"),  # Thu, epoch day 0
        (7, "2024-03-05 17:45:00"),  # modern control row
    ]

    def _events_fixture(self, spark, tmp_path):
        """Write the straddle-1970 events to parquet once; register the
        Spark view and return a DuckDB connection reading the SAME bytes
        (identical storage rules out codec skew in the comparison)."""
        import duckdb

        p = str(tmp_path / "events.parquet")
        df = spark.createDataFrame(
            [(i, t) for i, t in self._PRE1970],
            "event_id bigint, ts_s string",
        ).selectExpr("event_id", "cast(ts_s as timestamp) as ts")
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p).createOrReplaceTempView("events")
        con = duckdb.connect()
        con.execute(
            f"create view events as select * from read_parquet('{p}/*.parquet')"
        )
        return con, p

    def test_epochday_floors_identically_on_both_engines(
        self, spark, tmp_path
    ):
        """Every module's (_EPOCHDAY_SPARK, _EPOCHDAY_DUCK) pair must
        produce the SAME day for every row — and that day must be the
        floor (1969-12-27 10:00 is day -5; 1969-12-31 23:00 is day -1,
        where bare truncation says day 0, i.e. the wrong YEAR)."""
        from leaf_spark import (
            queries_eval,
            queries_ranking,
            queries_stats,
        )

        con, _ = self._events_fixture(spark, tmp_path)
        expected = [-5, -5, -1, -4, -672, 0, 19787]
        for mod in (queries_eval, queries_ranking, queries_stats):
            s_sql = (
                f"select {mod._EPOCHDAY_SPARK} as d from events"
                " order by event_id"
            )
            d_sql = (
                f"select {mod._EPOCHDAY_DUCK} as d from events"
                " order by event_id"
            )
            got_s = [r["d"] for r in spark.sql(s_sql).collect()]
            got_d = [r[0] for r in con.execute(d_sql).fetchall()]
            assert got_s == got_d == expected, mod.__name__
        spark.catalog.dropTempView("events")

    def test_q199_pre1970_cross_engine_rowsets_match(self, spark, tmp_path):
        """ADVICE r7 medium: the q199 regression test validated only the
        Spark path. Run the FULL q199 statement on both engines over the
        pre-1970 fixture and assert the complete row sets match — and
        that Saturday rows land in ISO dow 6 (the truncating oracle put
        1969-12-27 in dow 7)."""
        from leaf_spark.queries_eval import _q199_sql

        con, _ = self._events_fixture(spark, tmp_path)
        s_rows = [
            (r["dow"], r["n_days"], r["n_events"], r["idx_num"],
             r["idx_den"], r["seasonality"])
            for r in spark.sql(_q199_sql("spark")).collect()
        ]
        d_rows = [tuple(r) for r in con.execute(_q199_sql("duckdb")).fetchall()]
        assert s_rows == d_rows
        by_dow = {r[0]: r[2] for r in s_rows}
        # Sat 1969-12-27 ×2 → dow 6 (the truncating oracle said dow 7);
        # Wed -1 → 3; Sun -4 → 7; Thu (1968-02-29 and epoch day 0) → 4;
        # Tue 2024-03-05 → 2.
        assert by_dow == {2: 1, 3: 1, 4: 2, 6: 2, 7: 1}
        spark.catalog.dropTempView("events")

    def test_q170_pre1970_cross_engine_rowsets_match(self, spark, tmp_path):
        """q170's inline epoch-day (queries_quality) shares the fix; its
        class histogram must agree across engines on pre-1970 rows."""
        from leaf_spark.queries import all_cases

        con, p = self._events_fixture(spark, tmp_path)
        # q170 also reads user_id/event_type/value — extend the view on
        # both engines straight from the shared parquet bytes
        ext = (
            "select event_id, ts, event_id % 3 as user_id,"
            " case when event_id % 2 = 0 then 'a' else 'b' end as"
            " event_type, cast(event_id * 60 as double) as value"
            " from {src}"
        )
        spark.sql(ext.format(src="events")).createOrReplaceTempView("events")
        con.execute("drop view events")
        con.execute(
            "create view events as "
            + ext.format(src=f"read_parquet('{p}/*.parquet')")
        )
        from leaf_spark.queries_eval import _EPOCHDAY_DUCK, _EPOCHDAY_SPARK
        from leaf_spark.queries_quality import _Q170_BODY

        case = all_cases()["q170_k_anonymity"]
        # the registered oracle must be the floored form (not a stale
        # truncating copy) — and both sides must agree on the fixture
        assert case.oracle == _Q170_BODY.replace("{EPOCHDAY}", _EPOCHDAY_DUCK)
        s_sql = _Q170_BODY.replace("{EPOCHDAY}", _EPOCHDAY_SPARK)
        s_rows = sorted(tuple(r) for r in spark.sql(s_sql).collect())
        d_rows = sorted(tuple(r) for r in con.execute(case.oracle).fetchall())
        assert s_rows == d_rows
        spark.catalog.dropTempView("events")

    def test_size_conf_integer_path_is_exact_above_2_53(self, spark):
        """ADVICE r7 low: routing plain integers through float loses
        exactness above 2^53 bytes; the integer fast-path must be exact
        (float round-trip collapses 2^53+1 to 2^53)."""
        from leaf_spark.operators.dedup import _size_conf_bytes

        key = "leaf.test.bigbytesize"
        exact = 2**53 + 1
        for raw, want in [
            (str(exact), exact),
            (f"{exact}b", exact),
            (str(2**60 + 7), 2**60 + 7),
            # fractional values still take the (inherently lossy) float path
            ("0.5g", 512 * 1024 * 1024),
        ]:
            spark.conf.set(key, raw)
            assert _size_conf_bytes(spark, key, 1) == want, raw
        spark.conf.unset(key)

    def test_narrow_scan_rejects_prefix_named_nodes(self):
        """ADVICE r7 low: 'Viewport'/'RelationV2Sketch' must NOT match the
        allowlist by prefix — an unknown node conservatively returns
        False (spread() then skips the file-size shortcut; the wrong
        direction would repartition a shuffled input)."""
        from leaf_spark.operators.dedup import _is_narrow_over_scan

        class _FakePlan:
            def __init__(self, tree):
                self._t = tree

            def treeString(self):
                return self._t

        class _FakeQE:
            def __init__(self, tree):
                self._p = _FakePlan(tree)

            def optimizedPlan(self):
                return self._p

        class _FakeJdf:
            def __init__(self, tree):
                self._qe = _FakeQE(tree)

            def queryExecution(self):
                return self._qe

        class _FakeDf:
            def __init__(self, tree):
                self._jdf = _FakeJdf(tree)

        ok = "Project [a]\n+- Filter (a > 1)\n   +- Relation [a,b] parquet"
        assert _is_narrow_over_scan(_FakeDf(ok))
        for bad in (
            "Viewport [x]\n+- Relation [a] parquet",
            "RelationHandle [x]\n+- Relation [a] parquet",
            "ProjectSet [explode(a)]\n+- Relation [a] parquet",
            "Aggregate [k] [k, count(1)]\n+- Relation [a] parquet",
        ):
            assert not _is_narrow_over_scan(_FakeDf(bad)), bad


class TestRound11Advice:
    """Round-11 advisor findings (low): the preassigned-id exemption must
    key on the EXACT internal ``__poolsrc__``/``__localsrc__`` view name
    (prefix included), not a bare suffix — and ``_assign_local_rowids``
    must signal Spark-path fallback (None) when its independent parse
    cannot resolve the insert target."""

    def test_user_table_named_like_poolsrc_still_auto_assigns(self, spark):
        from leaf_spark.dml import DmlExecutor, TableStore

        store = TableStore(spark, "advq11a_")
        ex = DmlExecutor(store)
        ex.execute("create table src__poolsrc__ (v integer)")
        ex.execute("insert into src__poolsrc__ values (10), (20)")
        ex.execute("create table tgt (id integer primary key, v integer)")
        # source reads a USER table whose name merely ends in __poolsrc__ —
        # the suffix-keyed exemption (pre-fix) skipped auto-assignment here
        # and stored NULL primary keys where SQLite assigns max+1
        ex.execute(
            "insert into tgt (id, v) select null, v from src__poolsrc__"
        )
        rows = sorted(
            (r["id"], r["v"]) for r in store.tables["tgt"].collect()
        )
        assert rows == [(1, 10), (2, 20)]

    def test_user_table_named_like_localsrc_still_auto_assigns(self, spark):
        from leaf_spark.dml import DmlExecutor, TableStore

        store = TableStore(spark, "advq11b_")
        ex = DmlExecutor(store)
        ex.execute("create table t__localsrc__ (v integer)")
        ex.execute("insert into t__localsrc__ values (7)")
        ex.execute("create table tgt (id integer primary key, v integer)")
        ex.execute("insert into tgt (id, v) select null, v from t__localsrc__")
        assert [(r["id"], r["v"]) for r in store.tables["tgt"].collect()] == [
            (1, 7)
        ]

    def test_internal_localsrc_view_is_still_exempt(self, spark, tmp_root):
        """The real localized-fold path still skips the window job AND
        assigns ids exactly (the whole point of the exemption)."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists items (id integer primary key, v text not null)"
            ),
            materializer=(
                "insert into items (id, v) "
                "select null, drisl_extract(payload, '.v') from event;"
            ),
            queries=(QueryDef("items", "select id, v from items order by id"),),
        )
        s = Stream(spark, tmp_root, "did:plc:advq11c")
        s.provide_module(mod)
        s.add_events([ev("u", v="a"), ev("u", v="b")])
        s.add_events([ev("u", v="c")])
        rows = s.query(None, LeafQuery("items"))
        assert rows == [
            {"id": 1, "v": "a"},
            {"id": 2, "v": "b"},
            {"id": 3, "v": "c"},
        ]

    def test_assign_local_rowids_unresolvable_target_returns_none(
        self, spark, tmp_root
    ):
        from leaf_spark.sqlcompat import tokenize, _is_word

        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists items (id integer primary key, v text)"
            ),
            materializer="insert into items (id, v) select null, 'x' from event;",
            queries=(QueryDef("items", "select id, v from items"),),
        )
        s = Stream(spark, tmp_root, "did:plc:advq11d")
        s.provide_module(mod)
        stmt = 'insert into "items" ( id , v ) select null , 1'
        toks = tokenize(stmt)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        isel = lows.index("select")
        ex = DmlExecutor(s.store)
        out = fold_exec._assign_local_rowids(
            ex, toks, lows, isel, ["id", "v"], [(None, 1)]
        )
        assert out is None  # quoted target → unresolved → Spark fallback
        # sanity: the unquoted shape still resolves and assigns
        toks2 = tokenize("insert into items ( id , v ) select null , 1")
        lows2 = [t.lower() if _is_word(t) else t for t in toks2]
        out2 = fold_exec._assign_local_rowids(
            ex, toks2, lows2, lows2.index("select"), ["id", "v"], [(None, 1)]
        )
        assert out2 == [(1, 1)]
