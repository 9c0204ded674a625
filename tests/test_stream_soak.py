"""Model-based soak of the stream engine's interacting features.

A seeded random schedule of commits (single + batch, localized and
per-event fold paths), state events, rejections, log compaction,
reopen/replay, and clear_state runs against TWO modules — one
batch-safe (upsert counter), one not (the NOT-EXISTS dedup idiom) —
while a plain-Python model tracks the expected state. After every
operation the engine's query results must equal the model exactly.

This is the integration net under round 8's localexec fast path: the
local sqlite evaluation, the Spark fallback, replay (which skips
localization), and compaction all feed the same tables, and any
divergence between the paths shows up as a model mismatch here.
"""

import random
from types import SimpleNamespace

import pytest
from pyspark.sql import types as T

from leaf_spark import drisl
from leaf_spark.dml import TableDef, TableStore
from leaf_spark.fold import execute as fold_exec
from leaf_spark.fold import plan as fold_plan
from leaf_spark.module import BasicModuleDef, QueryDef, split_statements
from leaf_spark.stream import BatchRejected, Stream
from leaf_spark.types import IncomingEvent, LeafQuery

pytestmark = pytest.mark.slow


def fold_kinds(s, script):
    """Step kinds of the fold plan for a script (SQL text or statement
    list); None = the per-event fold."""
    stmts = split_statements(script) if isinstance(script, str) else script
    plan = fold_plan.plan(stmts, s.store)
    return None if plan is None else [st.kind for st in plan]


def pooled_groups(s, stmts):
    """{flat target: group} of the plan's pooled steps (None = per-event)."""
    plan = fold_plan.plan(stmts, s.store)
    if plan is None:
        return None
    return {st.target: st.group for st in plan if st.group is not None}


def test_plan_reads_table_metadata_only():
    """The planner needs no SparkSession: a store holding only hand-made
    table definitions plans the CHAT, COUNTER and DEDUP materializers."""
    from .fixtures import CHAT, COUNTER

    def tdef(table, pk, **cols):
        fields = [T.StructField(c, t) for c, t in cols.items()]
        return TableDef(table, T.StructType(fields), pk)

    L, S = T.LongType(), T.StringType()
    store = TableStore(spark=None, view_prefix="p_")
    for d in (
        tdef("messages", ("idx",), idx=L, sender=S, content=S, sent_at=L),
        tdef("counters", ("name",), name=S, value=L),
        tdef("seen", (), key=S, idx=L),
    ):
        store.defs[d.name] = d
    s = SimpleNamespace(store=store)
    assert fold_kinds(s, CHAT.materializer) == ["plain"]
    assert fold_kinds(s, COUNTER.materializer) == ["pooled", "pooled"]
    assert fold_kinds(s, DEDUP.materializer) == ["compiled"]


# batch-safe: localized authorize (throw on empty key) + localized
# upsert fold (__ord__ last-write-wins) + a bans table the authorizer
# reads through the Spark path
KV = BasicModuleDef(
    init_sql=(
        "create table if not exists kv (k text primary key, v integer not null,"
        " n integer not null); "
        "create table if not exists bans (user text primary key);"
    ),
    authorizer=(
        # nested iif: the inner condition only runs when .k exists, so a
        # ban-only event passes; an explicit empty .k throws
        "select iif(drisl_exists((select payload from event), '.k'), "
        "iif(length(drisl_extract((select payload from event), '.k')) = 0, "
        "throw('empty key'), 1), 1); "
        "select iif(exists(select 1 from bans where user = "
        "(select user from event)), unauthorized('banned'), 1);"
    ),
    materializer=(
        "insert into kv (k, v, n) select drisl_extract(payload, '.k'), "
        "drisl_extract_int(payload, '.v'), 1 from event where "
        "drisl_exists(payload, '.k') "
        "on conflict(k) do update set v = excluded.v, n = n + 1; "
        "insert into bans (user) select drisl_extract(payload, '.ban') "
        "from event where drisl_exists(payload, '.ban') "
        "on conflict(user) do nothing;"
    ),
    state_init_sql=(
        "create table if not exists state.marks "
        "(user text primary key, m integer not null);"
    ),
    state_materializer=(
        "insert into state.marks (user, m) select user, "
        "drisl_extract_int(payload, '.m') from event where true "
        "on conflict(user) do update set m = excluded.m;"
    ),
    queries=(
        QueryDef("kv", "select k, v, n from kv order by k"),
        QueryDef("bans", "select user from bans order by user"),
        QueryDef("marks", "select user, m from state.marks order by user"),
    ),
)

# NOT batch-safe: the dedup idiom (subquery reads the managed table) —
# every commit takes the per-event sequential Spark fold
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


def ev(user, **p):
    return IncomingEvent(user, drisl.encode(p))


class KvModel:
    def __init__(self):
        self.kv = {}       # k -> (v, n)
        self.bans = set()
        self.marks = {}
        self.idx = 0

    def apply_batch(self, events):
        """events: list of (user, payload-dict). Returns False when the
        authorizer rejects (model state unchanged). Mirrors the module:
        an explicit empty .k throws; a banned sender rejects; the whole
        batch authorizes against the batch-START bans snapshot (the
        engine's documented batch divergence)."""
        for user, p in events:
            if "k" in p and len(p["k"]) == 0:
                return False
            if user in self.bans:
                return False
        for user, p in events:
            self.idx += 1
            if "k" in p:
                k, v = p["k"], p["v"]
                if k in self.kv:
                    self.kv[k] = (v, self.kv[k][1] + 1)
                else:
                    self.kv[k] = (v, 1)
            if "ban" in p:
                self.bans.add(p["ban"])
        return True

    def rows(self):
        return {
            "kv": [
                {"k": k, "v": v, "n": n}
                for k, (v, n) in sorted(self.kv.items())
            ],
            "bans": [{"user": u} for u in sorted(self.bans)],
            "marks": [
                {"user": u, "m": m} for u, m in sorted(self.marks.items())
            ],
        }


def _assert_kv(stream, model):
    for q in ("kv", "bans", "marks"):
        assert stream.query(None, LeafQuery(q)) == model.rows()[q], q


def test_soak_mixed_schedule(spark, tmp_path):
    rng = random.Random(20260815)
    s = Stream(spark, str(tmp_path), "did:plc:soakkv", compact_files=6)
    s.provide_module(KV)
    cur_mod = KV
    m = KvModel()

    users = [f"u{i}" for i in range(6)]
    keys = [f"k{i}" for i in range(5)]

    for step in range(40):
        op = rng.random()
        if op < 0.45:
            # commit batch (1-4 events, may include a ban or a bad key)
            n = rng.randint(1, 4)
            events = []
            for _ in range(n):
                u = rng.choice(users)
                r = rng.random()
                if r < 0.70:
                    events.append((u, {"k": rng.choice(keys),
                                       "v": rng.randint(-50, 50)}))
                elif r < 0.85:
                    events.append((u, {"ban": rng.choice(users)}))
                else:
                    events.append((u, {"k": "", "v": 0}))  # → throw
            ok = m.apply_batch(events)
            if ok:
                s.add_events([ev(u, **p) for u, p in events])
            else:
                with pytest.raises((BatchRejected, Exception)):
                    s.add_events([ev(u, **p) for u, p in events])
        elif op < 0.60:
            u = rng.choice(users)
            mark = rng.randint(0, 100)
            s.add_state_events([ev(u, m=mark)])
            m.marks[u] = mark
        elif op < 0.70:
            s.compact_log()
        elif op < 0.75:
            # r9: exercise the incremental-snapshot chain under the
            # model — kv folds via upsert (poisoned → full rewrite),
            # bans via ON CONFLICT DO NOTHING (poisoned); interleaved
            # with reopen below, which restores from these snapshots
            s.persist_state()
        elif op < 0.9:
            # reopen: replay from log (+ whatever state snapshot was
            # persisted). marks are ephemeral-with-snapshots — adopt the
            # engine's post-reopen view once, then stay strict; kv/bans
            # must replay exactly
            s = Stream(spark, str(tmp_path), "did:plc:soakkv",
                       compact_files=6)
            s.provide_module(cur_mod)
            s.catch_up()
            m.marks = {
                r["user"]: r["m"]
                for r in s.query(None, LeafQuery("marks"))
            }
        elif op < 0.96:
            s.clear_state()
            m.marks = {}
        else:
            # module swap: same logical module, cosmetically different
            # SQL text (new CID) -> drop derived tables + FULL replay
            # from the log (the round-wise path, local_rows=None);
            # kv/bans must rebuild exactly, ephemeral marks reset
            swapped = BasicModuleDef(
                init_sql=KV.init_sql,
                authorizer=KV.authorizer,
                materializer=KV.materializer + f" -- swap {step}",
                state_init_sql=KV.state_init_sql,
                state_materializer=KV.state_materializer,
                queries=KV.queries,
            )
            s.update_module(swapped)
            cur_mod = swapped
            m.marks = {
                r["user"]: r["m"]
                for r in s.query(None, LeafQuery("marks"))
            }
        _assert_kv(s, m)


def test_soak_per_event_fold_path(spark, tmp_path):
    """Same schedule shape over the NOT-batch-safe dedup module — the
    per-event sequential Spark fold (localization ineligible: the
    subquery reads the managed table) interleaved with compaction and
    replay."""
    rng = random.Random(97)
    s = Stream(spark, str(tmp_path), "did:plc:soakdd", compact_files=5)
    s.provide_module(DEDUP)
    seen = {}
    idx = 0
    for step in range(12):
        r = rng.random()
        if r < 0.7:
            n = rng.randint(1, 3)
            batch = []
            for _ in range(n):
                idx += 1
                key = f"key{rng.randint(0, 4)}"
                batch.append((key, idx))
            s.add_events([ev("u", key=k) for k, _ in batch])
            for k, i in batch:
                seen.setdefault(k, i)
        elif r < 0.85:
            s.compact_log()
        else:
            s = Stream(spark, str(tmp_path), "did:plc:soakdd",
                       compact_files=5)
            s.provide_module(DEDUP)
            s.catch_up()
        got = s.query(None, LeafQuery("seen"))
        want = sorted(
            ({"key": k, "idx": i} for k, i in seen.items()),
            key=lambda d: d["idx"],
        )
        assert got == want, step


class TestAccumulatingUpsertBatchSafety:
    """Direct unit coverage of the rule the soak exposed: DO UPDATE SET
    expressions that read the CURRENT target row make set-wise batch
    application diverge from the reference's per-event fold when a batch
    repeats a conflict key."""

    def _kinds(self, spark, tmp_path, mod, stmt):
        s = Stream(spark, str(tmp_path), "did:plc:bsafe")
        s.provide_module(mod)
        return fold_kinds(s, [stmt])

    def test_excluded_only_set_stays_batch_safe(self, spark, tmp_path):
        assert self._kinds(
            spark, tmp_path, KV,
            "insert into kv (k, v, n) select drisl_extract(payload, '.k'),"
            " 1, 1 from event where true"
            " on conflict(k) do update set v = excluded.v + 1",
        ) == ["plain"]

    def test_target_reading_set_not_batch_safe(self, spark, tmp_path):
        for clause in (
            "set v = excluded.v, n = n + 1",
            "set v = kv.v + excluded.v",
            "set v = excluded.v where v > 2",
        ):
            assert self._kinds(
                spark, tmp_path, KV,
                "insert into kv (k, v, n) select"
                " drisl_extract(payload, '.k'), 1, 1 from event where true"
                f" on conflict(k) do update {clause}",
            ) == ["roundwise"], clause

    def test_do_nothing_stays_batch_safe(self, spark, tmp_path):
        assert self._kinds(
            spark, tmp_path, KV,
            "insert into bans (user) select user from event where true"
            " on conflict(user) do nothing",
        ) == ["plain"]

    def test_in_batch_duplicate_key_increments_per_event(
        self, spark, tmp_path
    ):
        """The reference folds per event: the same key twice in ONE batch
        increments n twice."""
        s = Stream(spark, str(tmp_path), "did:plc:accum")
        s.provide_module(KV)
        s.add_events([
            ev("u", k="a", v=1), ev("u", k="a", v=2), ev("u", k="b", v=3),
        ])
        assert s.query(None, LeafQuery("kv")) == [
            {"k": "a", "v": 2, "n": 2}, {"k": "b", "v": 3, "n": 1},
        ]


class TestRoundwiseUpsert:
    """Accumulating upserts apply round-wise: the r-th occurrence of each
    conflict key per round — exact per-event semantics in
    O(max-multiplicity) Spark statements instead of O(events)."""

    def test_replay_of_accumulating_module_is_exact(self, spark, tmp_path):
        """Replay (local_rows=None — the path with no driver rows) must
        reproduce the same counts the live commits produced, including a
        batch with a triple-repeated key."""
        s = Stream(spark, str(tmp_path), "did:plc:rw1")
        s.provide_module(KV)
        s.add_events([
            ev("u", k="a", v=1), ev("u", k="a", v=2), ev("u", k="a", v=3),
            ev("u", k="b", v=9),
        ])
        s.add_events([ev("u", k="b", v=10)])
        live = s.query(None, LeafQuery("kv"))
        assert live == [
            {"k": "a", "v": 3, "n": 3}, {"k": "b", "v": 10, "n": 2},
        ]
        s2 = Stream(spark, str(tmp_path), "did:plc:rw1")
        s2.provide_module(KV)
        s2.catch_up()
        assert s2.query(None, LeafQuery("kv")) == live

    def test_script_takes_roundwise_not_per_event(self, spark, tmp_path):
        """The KV materializer must route through exec_roundwise (not the
        per-event loop) — pin the dispatch so a refactor can't silently
        regress replay back to O(events)."""
        s = Stream(spark, str(tmp_path), "did:plc:rw2")
        s.provide_module(KV)
        assert fold_kinds(s, KV.materializer) == ["roundwise", "plain"]
        stmts = [
            st for st in KV.materializer.split(";") if st.strip()
        ]
        acc = [st for st in stmts if fold_plan._accumulating_upsert(st)]
        assert len(acc) == 1 and fold_plan._roundwise_ok(acc[0], s.store)

    def test_defaulted_conflict_key_falls_back_per_event(
        self, spark, tmp_path
    ):
        """A conflict key that is not among the inserted columns can't be
        ranked before the insert computes it — the shape parser refuses
        and the per-event path handles the script."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists t2 "
                "(k text primary key default 'fixed', v integer not null)"
            ),
            materializer=(
                "insert into t2 (v) select drisl_extract_int(payload, '.v')"
                " from event where true"
                " on conflict(k) do update set v = v + excluded.v;"
            ),
            queries=(QueryDef("t2", "select k, v from t2 order by k"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:rw3")
        s.provide_module(mod)
        assert not fold_plan._roundwise_ok(
            mod.materializer.strip().rstrip(";"), s.store
        )
        s.add_events([ev("u", v=5), ev("u", v=7)])
        assert s.query(None, LeafQuery("t2")) == [{"k": "fixed", "v": 12}]


class TestStatementMajorHazard:
    """Round-9 advice: batch/round-wise execution applies statements
    statement-major (all events of stmt1, then stmt2) while the
    reference fold interleaves statements per event. Two statements
    sharing a target table make that order visible — such scripts must
    take the per-event fold."""

    TWO_ACC = BasicModuleDef(
        init_sql=(
            "create table if not exists acc "
            "(k text primary key, n integer not null)"
        ),
        materializer=(
            "insert into acc (k, n) select drisl_extract(payload, '.k'), 1"
            " from event where true"
            " on conflict(k) do update set n = n + 1; "
            "insert into acc (k, n) select drisl_extract(payload, '.k'), 2"
            " from event where true"
            " on conflict(k) do update set n = n * 2;"
        ),
        queries=(QueryDef("acc", "select k, n from acc order by k"),),
    )

    def test_two_accumulating_upserts_interleave_per_event(
        self, spark, tmp_path
    ):
        """Non-commuting SET exprs (n=n+1, n=n*2) on the same table:
        per-event gives ((1*2)+1)*2 = 6; statement-major round-wise
        would give ((1+1)*2)*2 = 8."""
        s = Stream(spark, str(tmp_path), "did:plc:smh1")
        s.provide_module(self.TWO_ACC)
        assert fold_kinds(s, self.TWO_ACC.materializer) == [
            "pooled", "pooled",
        ]
        s.add_events([ev("u", k="a"), ev("u", k="a")])
        assert s.query(None, LeafQuery("acc")) == [{"k": "a", "n": 6}]
        # replay reproduces the same interleaving
        s2 = Stream(spark, str(tmp_path), "did:plc:smh1")
        s2.provide_module(self.TWO_ACC)
        s2.catch_up()
        assert s2.query(None, LeafQuery("acc")) == [{"k": "a", "n": 6}]

    def test_shared_target_conflict_inserts_not_batch_safe(
        self, spark, tmp_path
    ):
        """Even two NON-accumulating conflict inserts on one table are
        order-visible (which statement's row wins a key)."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists first "
                "(k text primary key, src integer not null)"
            ),
            materializer=(
                "insert into first (k, src) select"
                " drisl_extract(payload, '.a'), 1 from event"
                " where drisl_exists(payload, '.a')"
                " on conflict(k) do nothing; "
                "insert into first (k, src) select"
                " drisl_extract(payload, '.b'), 2 from event"
                " where drisl_exists(payload, '.b')"
                " on conflict(k) do nothing;"
            ),
            queries=(QueryDef("first", "select k, src from first order by k"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:smh2")
        s.provide_module(mod)
        assert fold_kinds(s, mod.materializer) == ["pooled", "pooled"]
        # key 'x' arrives via stmt2 in event 1 and stmt1 in event 2: the
        # reference's per-event interleaving means stmt2@e1 wins
        s.add_events([ev("u", b="x"), ev("u", a="x")])
        assert s.query(None, LeafQuery("first")) == [{"k": "x", "src": 2}]

    def test_distinct_targets_keep_fast_paths(self, spark, tmp_path):
        """The KV module (accumulating upsert on kv + conflict insert on
        bans — different tables) must keep the round-wise dispatch."""
        s = Stream(spark, str(tmp_path), "did:plc:smh3")
        s.provide_module(KV)
        assert fold_kinds(s, KV.materializer) == ["roundwise", "plain"]

    def test_shared_target_plain_inserts_with_rowid_alias(
        self, spark, tmp_path
    ):
        """Two plain inserts into a rowid-alias table: id auto-assignment
        order is visible (max+1), so the script folds per event —
        event-interleaved ids, not statement-major ones."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists logb "
                "(id integer primary key, tag text not null)"
            ),
            materializer=(
                "insert into logb (tag) select 'a' || idx from event; "
                "insert into logb (tag) select 'b' || idx from event;"
            ),
            queries=(QueryDef("logb", "select id, tag from logb order by id"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:smh4")
        s.provide_module(mod)
        assert fold_kinds(s, mod.materializer) == ["pooled", "pooled"]
        s.add_events([ev("u", v=1), ev("u", v=2)])
        assert s.query(None, LeafQuery("logb")) == [
            {"id": 1, "tag": "a1"}, {"id": 2, "tag": "b1"},
            {"id": 3, "tag": "a2"}, {"id": 4, "tag": "b2"},
        ]


class TestRoundsrcCollision:
    def test_module_table_named_roundsrc_falls_back(self, spark, tmp_path):
        """A module table named __roundsrc__ owns that view name — the
        round-wise path must refuse and fold per event (same guard as
        __localsrc__)."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists __roundsrc__ "
                "(k text primary key, n integer not null)"
            ),
            materializer=(
                "insert into __roundsrc__ (k, n) select"
                " drisl_extract(payload, '.k'), 1 from event where true"
                " on conflict(k) do update set n = n + 1;"
            ),
            queries=(
                QueryDef(
                    "rs", "select k, n from __roundsrc__ order by k"
                ),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:rsc")
        s.provide_module(mod)
        stmt = mod.materializer.strip().rstrip(";")
        assert fold_plan._accumulating_upsert(stmt)
        assert not fold_plan._roundwise_ok(stmt, s.store)
        s.add_events([ev("u", k="a"), ev("u", k="a")])
        assert s.query(None, LeafQuery("rs")) == [{"k": "a", "n": 2}]


class TestDedupIdiomCompilation:
    """Round-9 flagship: the NOT-EXISTS-on-target dedup idiom compiles
    set-wise — first-occurrence-per-key election (window over the probe
    key, ordered by idx) + the NOT EXISTS against the pre-statement
    table. Exact per-event semantics (lib.rs:543-569) in ONE statement;
    replay is O(statements), not O(events)."""

    def _mk(self, spark, tmp_path, mod, who="did:plc:dcomp"):
        s = Stream(spark, str(tmp_path), who)
        s.provide_module(mod)
        return s

    def test_dedup_module_takes_compiled_path(self, spark, tmp_path):
        s = self._mk(spark, tmp_path, DEDUP)
        stmts = [
            st.strip() for st in DEDUP.materializer.split(";") if st.strip()
        ]
        plan = fold_plan.plan(stmts, s.store)
        assert [st.kind for st in plan] == ["compiled"]
        assert "row_number() over" in plan[0].sql

    def test_replay_runs_one_statement_not_per_event(
        self, spark, tmp_path, monkeypatch
    ):
        """A catch-up replay of a dedup module must never enter the
        per-event loop (whose signature is one single-row
        _event_local_df per event)."""
        s = self._mk(spark, tmp_path, DEDUP)
        s.add_events([ev("u", key=f"k{i % 7}") for i in range(20)])
        expect = s.query(None, LeafQuery("seen"))

        s2 = Stream(spark, str(tmp_path), "did:plc:dcomp")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a compiled module")

        monkeypatch.setattr(s2, "_event_local_df", no_single_row)
        s2.provide_module(DEDUP)
        s2.catch_up()
        assert s2.query(None, LeafQuery("seen")) == expect
        assert [r["key"] for r in expect] == [f"k{i}" for i in range(7)]

    def test_intra_and_cross_batch_blocking(self, spark, tmp_path):
        s = self._mk(spark, tmp_path, DEDUP)
        s.add_events([ev("u", key="a"), ev("u", key="b"), ev("u", key="a")])
        assert s.query(None, LeafQuery("seen")) == [
            {"key": "a", "idx": 1}, {"key": "b", "idx": 2},
        ]
        s.add_events([ev("u", key="b"), ev("u", key="c")])
        assert s.query(None, LeafQuery("seen")) == [
            {"key": "a", "idx": 1}, {"key": "b", "idx": 2},
            {"key": "c", "idx": 5},
        ]

    def test_null_keys_always_insert_and_never_block(self, spark, tmp_path):
        """NULL = NULL is not true in SQLite: every NULL-key event
        inserts (no election among them) and blocks nothing."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists seen2 "
                "(key text, idx integer not null)"
            ),
            materializer=(
                "insert into seen2 (key, idx) "
                "select drisl_extract(payload, '.key'), idx from event "
                "where not exists (select 1 from seen2 "
                "where key = drisl_extract(payload, '.key'));"
            ),
            queries=(
                QueryDef("seen2", "select key, idx from seen2 order by idx"),
            ),
        )
        s = self._mk(spark, tmp_path, mod)
        assert fold_kinds(s, mod.materializer) == ["compiled"]
        s.add_events([
            ev("u", other=1), ev("u", key="a"), ev("u", other=2),
            ev("u", key="a"),
        ])
        assert s.query(None, LeafQuery("seen2")) == [
            {"key": None, "idx": 1}, {"key": "a", "idx": 2},
            {"key": None, "idx": 3},
        ]

    def test_multi_key_and_extra_conjunct_and_qualified_probe(
        self, spark, tmp_path
    ):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists pairs "
                "(a text not null, b text not null, idx integer not null)"
            ),
            materializer=(
                "insert into pairs (a, b, idx) "
                "select drisl_extract(payload, '.a'), "
                "drisl_extract(payload, '.b'), idx from event "
                "where drisl_exists(payload, '.a') "
                "and not exists (select 1 from pairs "
                "where pairs.a = drisl_extract(payload, '.a') "
                "and b = drisl_extract(payload, '.b'));"
            ),
            queries=(
                QueryDef("pairs", "select a, b, idx from pairs order by idx"),
            ),
        )
        s = self._mk(spark, tmp_path, mod)
        assert fold_kinds(s, mod.materializer) == ["compiled"]
        s.add_events([
            ev("u", a="x", b="1"), ev("u", a="x", b="2"),
            ev("u", a="x", b="1"), ev("u", nothing=True),
            ev("u", a="y", b="1"),
        ])
        assert s.query(None, LeafQuery("pairs")) == [
            {"a": "x", "b": "1", "idx": 1},
            {"a": "x", "b": "2", "idx": 2},
            {"a": "y", "b": "1", "idx": 5},
        ]

    def test_non_identical_probe_expr_falls_back(self, spark, tmp_path):
        """Probe expression differing from the inserted value can't be
        compiled (inserting wouldn't block what the probe sees) — the
        script stays on the per-event fold and stays correct."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists norm "
                "(key text not null, idx integer not null)"
            ),
            materializer=(
                # inserts the RAW key but probes the UPPERCASED one
                "insert into norm (key, idx) "
                "select drisl_extract(payload, '.key'), idx from event "
                "where not exists (select 1 from norm "
                "where key = upper(drisl_extract(payload, '.key')));"
            ),
            queries=(
                QueryDef("norm", "select key, idx from norm order by idx"),
            ),
        )
        s = self._mk(spark, tmp_path, mod)
        assert fold_kinds(s, mod.materializer) is None
        s.add_events([ev("u", key="a"), ev("u", key="A"), ev("u", key="a")])
        # per-event: 'a' inserts (probe 'A' absent); 'A' inserts (probe
        # 'A' != raw row 'a'); second 'a' probes 'A' — now present → blocked
        assert [r["key"] for r in s.query(None, LeafQuery("norm"))] == [
            "a", "A",
        ]

    def test_second_writer_to_target_falls_back(self, spark, tmp_path):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists seen3 "
                "(key text not null, idx integer not null)"
            ),
            materializer=(
                "insert into seen3 (key, idx) "
                "select drisl_extract(payload, '.key'), idx from event "
                "where not exists (select 1 from seen3 "
                "where key = drisl_extract(payload, '.key')); "
                "insert into seen3 (key, idx) "
                "select 'marker', idx from event where idx = 1;"
            ),
            queries=(
                QueryDef("seen3", "select key, idx from seen3 order by idx, key"),
            ),
        )
        s = self._mk(spark, tmp_path, mod)
        assert fold_kinds(s, mod.materializer) is None
        s.add_events([ev("u", key="a"), ev("u", key="a")])
        assert s.query(None, LeafQuery("seen3")) == [
            {"key": "a", "idx": 1}, {"key": "marker", "idx": 1},
        ]

    def test_dedup_plus_batch_safe_statement_compiles(self, spark, tmp_path):
        """A script mixing the idiom with a plain batch-safe insert on a
        DIFFERENT table keeps the set-wise path for both."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists seen4 "
                "(key text not null, idx integer not null); "
                "create table if not exists log4 "
                "(idx integer not null, who text not null)"
            ),
            materializer=(
                "insert into seen4 (key, idx) "
                "select drisl_extract(payload, '.key'), idx from event "
                "where not exists (select 1 from seen4 "
                "where key = drisl_extract(payload, '.key')); "
                "insert into log4 (idx, who) select idx, user from event;"
            ),
            queries=(
                QueryDef("seen4", "select key, idx from seen4 order by idx"),
                QueryDef("log4", "select idx, who from log4 order by idx"),
            ),
        )
        s = self._mk(spark, tmp_path, mod)
        assert fold_kinds(s, mod.materializer) == ["compiled", "plain"]
        s.add_events([ev("ua", key="a"), ev("ub", key="a")])
        assert s.query(None, LeafQuery("seen4")) == [{"key": "a", "idx": 1}]
        assert s.query(None, LeafQuery("log4")) == [
            {"idx": 1, "who": "ua"}, {"idx": 2, "who": "ub"},
        ]


class TestSoakMirrorBoundary:
    """r9 soak (VERDICT r8 "Next round" #6): schedules that interleave
    module swap, batch rollback, clear_state, reopen, and bans-table
    growth ACROSS the mirror eligibility cap (``Stream._MIRROR_CAP``).

    After every op three things must hold:

    1. engine query results equal the model — the behavioral
       local-vs-Spark parity check (a stale mirror would mis-authorize a
       banned sender; a lost mirror would never, because the Spark path
       answers instead);
    2. any mirror whose cached version equals the store's CURRENT
       registration version holds exactly the Spark table's rows
       (out-of-date mirrors are fine at rest — ``_mirror_tables``
       re-stages them before they can answer);
    3. once the table exceeds the cap, the next authorize drops the
       mirror entirely (the >cap growth crossing whose staleness edges
       r8 hand-fixed in 95033ea / b49a828).

    The cap is patched small so schedules cross the boundary cheaply;
    ``test_real_cap_crossing`` crosses the production 256 once.
    """

    _seq = [0]  # fresh stream dir + DID per hypothesis example

    def _mirror_rows_match(self, s):
        for name, ver in list(s._mirror_versions.items()):
            df = s.store.tables.get(name)
            if df is None:
                continue  # dropped table: purged before next local eval
            if ver != s.store.table_version(name):
                continue  # out-of-date at rest: re-staged before answering
            spark_rows = sorted(tuple(r) for r in df.collect())
            local_rows = sorted(
                tuple(r)
                for r in s._local_eval._con.execute(
                    f'select * from "{name}"'
                ).fetchall()
            )
            assert local_rows == spark_rows, name

    def _run_schedule(self, spark, root, did, ops):
        from leaf_spark.stream import Stream as S

        cap = S._MIRROR_CAP
        s = Stream(spark, root, did)
        s.provide_module(KV)
        cur = KV
        m = KvModel()
        next_ban = [0]
        next_mark = [0]

        def commit(events):
            pre_bans = len(m.bans)
            ok = m.apply_batch(events)
            if ok:
                s.add_events([ev(u, **p) for u, p in events])
            else:
                with pytest.raises((BatchRejected, Exception)):
                    s.add_events([ev(u, **p) for u, p in events])
            # (3): authorize ran against the pre-batch bans table; past
            # the cap the mirror must be gone, under it (and previously
            # mirrored) it may stay
            if pre_bans > cap:
                assert "bans" not in s._mirror_versions

        for i, op in enumerate(ops):
            sender = f"s{i % 3}"
            if op == "kv":
                commit([(sender, {"k": f"k{i % 4}", "v": i})])
            elif op == "grow":
                evs = []
                for _ in range(3):
                    evs.append((sender, {"ban": f"b{next_ban[0]}"}))
                    next_ban[0] += 1
                commit(evs)
            elif op == "ban_sender":
                commit([(sender, {"ban": f"s{(i + 1) % 3}"})])
            elif op == "throw":
                commit([
                    (sender, {"ban": f"b{next_ban[0] + 100}"}),
                    (sender, {"k": "", "v": 0}),
                ])
            elif op == "mark":
                # state events skip the authorizer (stream.py:1901 — no
                # _authorize call), so a banned sender still marks
                s.add_state_events([ev(sender, m=i)])
                m.marks[sender] = i
            elif op == "mark_many":
                # three new users: grows state.marks across the cap
                users = [f"w{next_mark[0] + j}" for j in range(3)]
                next_mark[0] += 3
                s.add_state_events([ev(u, m=i) for u in users])
                m.marks.update((u, i) for u in users)
            elif op == "persist":
                # snapshot under the schedule: untouched tables skip,
                # mutated ones rewrite/chain; mirrors of skipped tables
                # must survive (checked by _mirror_rows_match below)
                s.persist_state()
            elif op == "clear":
                s.clear_state()
                m.marks = {}
            elif op == "swap":
                swapped = BasicModuleDef(
                    init_sql=KV.init_sql,
                    authorizer=KV.authorizer,
                    materializer=KV.materializer + f" -- mb {i}",
                    state_init_sql=KV.state_init_sql,
                    state_materializer=KV.state_materializer,
                    queries=KV.queries,
                )
                s.update_module(swapped)
                cur = swapped
                m.marks = {
                    r["user"]: r["m"]
                    for r in s.query(None, LeafQuery("marks"))
                }
            elif op == "reopen":
                s = Stream(spark, root, did)
                s.provide_module(cur)
                s.catch_up()
                m.marks = {
                    r["user"]: r["m"]
                    for r in s.query(None, LeafQuery("marks"))
                }
            _assert_kv(s, m)  # (1)
            self._mirror_rows_match(s)  # (2)
        return s, m

    def test_cap_crossing_drops_mirror(self, spark, tmp_path):
        """Deterministic crossing: mirror present and fresh under the
        cap, dropped on the first authorize past it, behavior unchanged
        on both sides (non-vacuous version of soak assert (3))."""
        from leaf_spark.stream import Stream as S

        old = S._MIRROR_CAP
        S._MIRROR_CAP = 4
        try:
            s = Stream(spark, str(tmp_path / "cross"), "did:plc:mbcross")
            s.provide_module(KV)
            s.add_events([ev("s0", k="a", v=1)])
            assert "bans" in s._mirror_versions  # local path engaged
            s.add_events([ev("s0", **{"ban": f"b{i}"}) for i in range(3)])
            s.add_events([ev("s0", k="a", v=2)])
            assert "bans" in s._mirror_versions  # 3 rows <= cap
            self._mirror_rows_match(s)
            s.add_events([ev("s0", **{"ban": f"b{i}"}) for i in range(3, 6)])
            s.add_events([ev("s0", k="a", v=3)])  # 6 rows > cap
            assert "bans" not in s._mirror_versions
            # behavioral parity across the boundary: bans now enforce
            # through the Spark path
            s.add_events([ev("s0", **{"ban": "s1"})])
            with pytest.raises((BatchRejected, Exception)):
                s.add_events([ev("s1", k="z", v=9)])
            assert s.query(None, LeafQuery("kv")) == [
                {"k": "a", "v": 3, "n": 3}
            ]
        finally:
            S._MIRROR_CAP = old

    def test_soak_hypothesis_schedules(self, spark, tmp_path):
        """Hypothesis-driven op schedules across the (patched) mirror
        boundary: every mutating op must leave mirrors either fresh,
        out-of-date-but-refreshable, or dropped — never stale-answering."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from leaf_spark.stream import Stream as S

        ops = st.lists(
            st.sampled_from(
                ["kv", "grow", "ban_sender", "throw", "mark",
                 "clear", "swap", "reopen", "kv", "grow", "persist"]
            ),
            min_size=6,
            max_size=10,
        )

        old = S._MIRROR_CAP
        S._MIRROR_CAP = 6
        try:

            @settings(
                max_examples=4,
                deadline=None,
                suppress_health_check=[
                    HealthCheck.function_scoped_fixture,
                ],
            )
            @given(ops)
            def run(schedule):
                self._seq[0] += 1
                n = self._seq[0]
                self._run_schedule(
                    spark,
                    str(tmp_path / f"mb{n}"),
                    f"did:plc:mb{n}",
                    schedule,
                )

            run()
        finally:
            S._MIRROR_CAP = old

    def test_chat_append_chain_under_rollback(self, spark, tmp_path):
        """CHAT's ``messages`` is a pure-append table, so its mirror
        advances along the append chain. Schedules of commit / rejected
        batch / read marker / persist / reopen must keep the query equal
        to the accepted messages and a current mirror equal to Spark's
        rows — a chain restored after a rollback must never answer with
        the rolled-back rows."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from .fixtures import CHAT, marker, msg

        ops = st.lists(
            st.sampled_from(["commit", "reject", "marker", "persist", "reopen"]),
            min_size=4,
            max_size=8,
        )

        @settings(
            max_examples=4,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(ops)
        def run(schedule):
            self._seq[0] += 1
            n = self._seq[0]
            root, did = str(tmp_path / f"ch{n}"), f"did:plc:ch{n}"
            s = Stream(spark, root, did)
            s.provide_module(CHAT)
            accepted: list[str] = []
            for i, op in enumerate(["commit", *schedule]):
                if op == "commit":
                    batch = [f"m{i}.{j}" for j in range(1 + i % 3)]
                    s.add_events([msg("a", c, i) for c in batch])
                    accepted += batch
                elif op == "reject":
                    with pytest.raises(Exception, match="missing content"):
                        s.add_events(
                            [msg("a", f"lost{i}", i), ev("a", x=i)]
                        )
                elif op == "marker":
                    s.add_state_events([marker("a", i)])
                elif op == "persist":
                    s.persist_state()
                elif op == "reopen":
                    s = Stream(spark, root, did)
                    s.provide_module(CHAT)
                rows = s.query("a", LeafQuery("messages", limit=1000))
                assert [r["content"] for r in rows] == accepted, (schedule, i)
                # the query served from a current mirror, so the row check
                # below compares it (never skips it as out of date)
                assert s._mirror_versions["messages"] == s.store.table_version(
                    "messages"
                )
                self._mirror_rows_match(s)

        run()

    def test_state_table_cap_crossing(self, spark, tmp_path):
        """state.marks folds in the sqlite mirror (Stream._mirror_fold)
        while it fits the (patched) cap; the batch that carries it past
        the cap rolls the mirror fold back and takes the Spark path.
        Interleaved rejections, persist and reopen must keep query
        results equal to the model and every current mirror equal to
        Spark's rows on both sides of the crossing."""
        import unittest.mock as mock

        from leaf_spark.localexec import LocalEval
        from leaf_spark.stream import Stream as S

        outcomes = []
        fold = LocalEval.fold

        def recording(le, stmts, rows, written, cap, **kw):
            out = fold(le, stmts, rows, written, cap, **kw)
            if "state_marks" in written:
                outcomes.append(out is not None)
            return out

        old = S._MIRROR_CAP
        S._MIRROR_CAP = 6
        try:
            with mock.patch.object(LocalEval, "fold", recording):
                s, m = self._run_schedule(
                    spark,
                    str(tmp_path / "mcross"),
                    "did:plc:mcross",
                    ["mark", "mark_many", "kv", "throw", "mark_many",
                     "persist", "mark", "mark_many", "kv", "mark",
                     "reopen", "mark_many", "mark"],
                )
        finally:
            S._MIRROR_CAP = old
        assert len(m.marks) > 6
        # folded in the mirror under the cap, rolled back past it
        assert True in outcomes and False in outcomes
        assert outcomes.index(False) > outcomes.index(True)

    def test_real_cap_crossing(self, spark, tmp_path):
        """Cross the production _MIRROR_CAP=256 once: the mirror must
        disengage exactly as with the patched cap, and bans keep
        enforcing through the Spark path."""
        s = Stream(spark, str(tmp_path / "real"), "did:plc:mbreal")
        s.provide_module(KV)
        s.add_events([ev("s0", k="a", v=1)])
        assert "bans" in s._mirror_versions
        for lo in range(0, 300, 60):
            s.add_events(
                [ev("s0", **{"ban": f"b{i}"}) for i in range(lo, lo + 60)]
            )
        s.add_events([ev("s0", k="a", v=2)])  # 300 rows > 256
        assert "bans" not in s._mirror_versions
        s.add_events([ev("s0", **{"ban": "s9"})])
        with pytest.raises((BatchRejected, Exception)):
            s.add_events([ev("s9", k="z", v=9)])


# ---------------------------------------------------------------------------
# round 10 (VERDICT r9 #4): set-wise DELETE compilation + pooled rounds
# ---------------------------------------------------------------------------

# lone event-keyed DELETE (its target written by no other statement):
# compiles to one EXISTS-over-batch statement. Items are seeded by
# init_sql so deletes have something to bite.
DELMOD = BasicModuleDef(
    init_sql=(
        "create table if not exists items (id text primary key, v integer not null); "
        "insert into items values ('a',1),('b',2),('c',3),('d',4),('e',5) on conflict(id) do nothing; "
        "create table if not exists dlog (id text not null, at integer not null);"
    ),
    materializer=(
        "insert into dlog (id, at) select drisl_extract(payload, '.del'), idx "
        "from event where drisl_exists(payload, '.del'); "
        "delete from items where id = (select drisl_extract(payload, '.del') from event);"
    ),
    queries=(
        QueryDef("items", "select id, v from items order by id"),
        QueryDef("dlog", "select id, at from dlog order by at"),
    ),
)

# shared-target conflict-handling script: two DO UPDATEs whose winner is
# order-dependent — the pooled-round tier must interleave exactly.
POOLMOD = BasicModuleDef(
    init_sql=(
        "create table if not exists reg (k text primary key, v integer not null)"
    ),
    materializer=(
        "insert into reg (k, v) select drisl_extract(payload, '.a'), "
        "drisl_extract_int(payload, '.v') from event "
        "where drisl_exists(payload, '.a') "
        "on conflict(k) do update set v = excluded.v; "
        "insert into reg (k, v) select drisl_extract(payload, '.b'), "
        "drisl_extract_int(payload, '.v') from event "
        "where drisl_exists(payload, '.b') "
        "on conflict(k) do update set v = excluded.v;"
    ),
    queries=(QueryDef("reg", "select k, v from reg order by k"),),
)


class TestDeleteCompilation:
    def test_delete_statement_compiles(self, spark, tmp_path):
        s = Stream(spark, str(tmp_path), "did:plc:delc1")
        s.provide_module(DELMOD)
        got = fold_plan._compile_delete_setwise(
            "delete from items where id = "
            "(select drisl_extract(payload, '.del') from event)",
            s.store,
        )
        assert got is not None
        flat, sql = got
        assert flat == "items" and "exists" in sql and "__ev__" in sql
        stmts = [
            st.strip()
            for st in DELMOD.materializer.split(";")
            if st.strip()
        ]
        assert fold_kinds(s, stmts) == ["plain", "compiled"]

    def test_delete_gates_fall_back(self, spark, tmp_path):
        s = Stream(spark, str(tmp_path), "did:plc:delc2")
        s.provide_module(DELMOD)
        for stmt in [
            # ORDER/LIMIT tails are order-sensitive
            "delete from items where id = (select user from event) "
            "order by id limit 1",
            # RETURNING
            "delete from items where id = (select user from event) "
            "returning id",
            # aggregate over event degenerates per-event only
            "delete from items where v < "
            "(select count(*) from event)",
            # another subquery (reads live table state)
            "delete from items where id = "
            "(select id from items limit 1)",
            # bare event column would be captured by __ev__
            "delete from items where id = user",
            # event subquery with its own WHERE
            "delete from items where id = "
            "(select user from event where idx > 1)",
            # random() is order/set visible
            "delete from items where random() < 0 and id = "
            "(select user from event)",
            # unknown target
            "delete from nosuch where id = (select user from event)",
            # EXISTS consumes the subquery FORM — EXISTS(<expr>) would
            # be a syntax error after the rewrite
            "delete from items where exists "
            "(select user from event)",
            "delete from items where not exists "
            "(select user from event)",
        ]:
            assert fold_plan._compile_delete_setwise(stmt, s.store) is None, stmt

    def test_lone_delete_end_to_end_and_replay_setwise(
        self, spark, tmp_path, monkeypatch
    ):
        s = Stream(spark, str(tmp_path), "did:plc:delc3")
        s.provide_module(DELMOD)
        # intra-batch: two deletes in one batch, one miss
        s.add_events(
            [ev("u", del_="zz") if False else ev(u, **{"del": d})
             for u, d in [("u", "b"), ("u", "zz"), ("u", "d")]]
        )
        assert [r["id"] for r in s.query(None, LeafQuery("items"))] == [
            "a", "c", "e"
        ]
        s.add_events([ev("u", **{"del": "a"})])
        assert [r["id"] for r in s.query(None, LeafQuery("items"))] == [
            "c", "e"
        ]
        expect_items = s.query(None, LeafQuery("items"))
        expect_dlog = s.query(None, LeafQuery("dlog"))

        # replay must never enter the per-event loop
        s2 = Stream(spark, str(tmp_path), "did:plc:delc3")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a compiled module")

        monkeypatch.setattr(s2, "_event_local_df", no_single_row)
        s2.provide_module(DELMOD)
        s2.catch_up()
        assert s2.query(None, LeafQuery("items")) == expect_items
        assert s2.query(None, LeafQuery("dlog")) == expect_dlog

    def test_predicate_beyond_key_equality(self, spark, tmp_path):
        """The EXISTS rewrite is exact for ANY event-pure predicate, not
        just key equality — e.g. a range delete."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists items2 "
                "(id text primary key, v integer not null); "
                "insert into items2 values ('a',1),('b',2),('c',3),('d',4) on conflict(id) do nothing;"
            ),
            materializer=(
                "delete from items2 where v <= "
                "(select drisl_extract_int(payload, '.below') from event);"
            ),
            queries=(
                QueryDef("items2", "select id, v from items2 order by id"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:delc4")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert fold_kinds(s, stmts) == ["compiled"]
        s.add_events([ev("u", below=2), ev("u", below=1)])
        assert [r["id"] for r in s.query(None, LeafQuery("items2"))] == [
            "c", "d"
        ]

    LIVE = BasicModuleDef(
        init_sql=(
            "create table if not exists live "
            "(id text primary key, v integer not null)"
        ),
        materializer=(
            "insert into live (id, v) select "
            "drisl_extract(payload, '.add'), idx from event "
            "where drisl_exists(payload, '.add') "
            "on conflict(id) do update set v = excluded.v; "
            "delete from live where id = "
            "(select drisl_extract(payload, '.del') from event);"
        ),
        queries=(QueryDef("live", "select id, v from live order by id"),),
    )

    def test_shared_insert_delete_target_pools(self, spark, tmp_path):
        """INSERT + DELETE on one target interleave per event (add k,
        del k, add k must leave k present) — pooled rounds key the
        delete on the conflict column and preserve exactly that."""
        s = Stream(spark, str(tmp_path), "did:plc:delc5")
        s.provide_module(self.LIVE)
        stmts = [
            st.strip()
            for st in self.LIVE.materializer.split(";")
            if st.strip()
        ]
        # the compiled tier refuses sharing; pooled rounds take it
        assert fold_kinds(s, stmts) == ["pooled", "pooled"]
        # add a, del a, add a  → a present (statement-major would drop it)
        s.add_events(
            [ev("u", add="a"), ev("u", **{"del": "a"}), ev("u", add="a")]
        )
        assert [r["id"] for r in s.query(None, LeafQuery("live"))] == ["a"]
        # add b then del b in a later event → gone
        s.add_events([ev("u", add="b")])
        s.add_events([ev("u", **{"del": "b"})])
        assert [r["id"] for r in s.query(None, LeafQuery("live"))] == ["a"]
        # del-then-add within one batch → present
        s.add_events([ev("u", **{"del": "a"}), ev("u", add="a")])
        assert [r["id"] for r in s.query(None, LeafQuery("live"))] == ["a"]

    def test_insert_delete_pool_replay_not_per_event(
        self, spark, tmp_path, monkeypatch
    ):
        s = Stream(spark, str(tmp_path), "did:plc:delc6")
        s.provide_module(self.LIVE)
        rng = random.Random(11)
        keys = [f"k{i}" for i in range(4)]
        live = {}
        batch = []
        for i in range(24):
            k = rng.choice(keys)
            if rng.random() < 0.6:
                batch.append(ev("u", add=k))
                live[k] = True
            else:
                batch.append(ev("u", **{"del": k}))
                live.pop(k, None)
        s.add_events(batch)
        got = [r["id"] for r in s.query(None, LeafQuery("live"))]
        assert got == sorted(live)
        expect = s.query(None, LeafQuery("live"))

        s2 = Stream(spark, str(tmp_path), "did:plc:delc6")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a pooled module")

        monkeypatch.setattr(s2, "_event_local_df", no_single_row)
        s2.provide_module(self.LIVE)
        s2.catch_up()
        assert s2.query(None, LeafQuery("live")) == expect

    def test_pooled_delete_event_conjunct_and_residual(
        self, spark, tmp_path
    ):
        """Event-only conjuncts move into the source; target-only
        conjuncts stay as a residual evaluated against the live
        interleaved state."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists live2 "
                "(id text primary key, v integer not null)"
            ),
            materializer=(
                "insert into live2 (id, v) select "
                "drisl_extract(payload, '.k'), "
                "drisl_extract_int(payload, '.v') from event "
                "where drisl_exists(payload, '.v') "
                "on conflict(id) do update set v = excluded.v; "
                "delete from live2 where id = "
                "(select drisl_extract(payload, '.k') from event) "
                "and (select drisl_extract(payload, '.op') from event) "
                "= 'del' and v < 10;"
            ),
            queries=(
                QueryDef("live2", "select id, v from live2 order by id"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:delc7")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert "pooled" in fold_kinds(s, stmts)
        # set a=5; delete a (v<10 → goes); set b=50; delete b (v<10
        # residual FALSE → stays)
        s.add_events(
            [
                ev("u", k="a", v=5),
                ev("u", k="a", op="del"),
                ev("u", k="b", v=50),
                ev("u", k="b", op="del"),
            ]
        )
        assert s.query(None, LeafQuery("live2")) == [{"id": "b", "v": 50}]
        # set a=3 AFTER its delete in the same batch → a survives at 3
        s.add_events([ev("u", k="a", op="del"), ev("u", k="a", v=3)])
        assert s.query(None, LeafQuery("live2")) == [
            {"id": "a", "v": 3},
            {"id": "b", "v": 50},
        ]

    def test_deletes_only_shared_target_commute(self, spark, tmp_path):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists items3 "
                "(id text primary key, grp text not null); "
                "insert into items3 values "
                "('a','x'),('b','x'),('c','y'),('d','z') "
                "on conflict(id) do nothing;"
            ),
            materializer=(
                "delete from items3 where id = "
                "(select drisl_extract(payload, '.id') from event); "
                "delete from items3 where grp = "
                "(select drisl_extract(payload, '.grp') from event);"
            ),
            queries=(
                QueryDef("items3", "select id from items3 order by id"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:delc8")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert fold_kinds(s, stmts) == ["pooled", "pooled"]
        assert all(
            tag == "delcompiled"
            for _, (tag, _) in pooled_groups(s, stmts)["items3"]
        )
        s.add_events([ev("u", id="d", grp="x")])
        assert [r["id"] for r in s.query(None, LeafQuery("items3"))] == [
            "c"
        ]

    def test_delete_without_key_equality_stays_per_event(
        self, spark, tmp_path
    ):
        """A shared-target delete NOT keyed on the conflict column
        can't rank into the pool — whole script folds per event."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists live3 "
                "(id text primary key, v integer not null)"
            ),
            materializer=(
                "insert into live3 (id, v) select "
                "drisl_extract(payload, '.k'), idx from event "
                "where drisl_exists(payload, '.k') "
                "on conflict(id) do nothing; "
                "delete from live3 where v < "
                "(select drisl_extract_int(payload, '.below') from event);"
            ),
            queries=(
                QueryDef("live3", "select id from live3 order by id"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:delc9")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert fold_kinds(s, stmts) is None
        # per-event still correct: add k1(v=1), purge below 2 → gone;
        # add k2 afterwards → stays
        s.add_events(
            [ev("u", k="k1"), ev("u", below=2), ev("u", k="k2")]
        )
        assert [r["id"] for r in s.query(None, LeafQuery("live3"))] == [
            "k2"
        ]


class TestPooledRounds:
    def test_plan_and_order_dependent_winner(self, spark, tmp_path):
        s = Stream(spark, str(tmp_path), "did:plc:pool1")
        s.provide_module(POOLMOD)
        stmts = [
            st.strip()
            for st in POOLMOD.materializer.split(";")
            if st.strip()
        ]
        assert fold_kinds(s, stmts) == ["pooled", "pooled"]
        # k arrives via stmt2 (b) FIRST, then stmt1 (a): per-event order
        # means stmt1@e2 wins; statement-major would let stmt2 win
        s.add_events(
            [ev("u", b="k", v=7), ev("u", a="k", v=5)]
        )
        assert s.query(None, LeafQuery("reg")) == [{"k": "k", "v": 5}]

    def test_same_event_both_statements(self, spark, tmp_path):
        """One event matching BOTH statements applies them in statement
        order within the event."""
        s = Stream(spark, str(tmp_path), "did:plc:pool2")
        s.provide_module(POOLMOD)
        # .a and .b in one event, same key: stmt1 then stmt2 → v from .b
        # (both read .v, so make them differ via two events first)
        s.add_events([ev("u", a="k", b="k", v=9)])
        assert s.query(None, LeafQuery("reg")) == [{"k": "k", "v": 9}]
        # later single-statement update still lands
        s.add_events([ev("u", a="k", v=1)])
        assert s.query(None, LeafQuery("reg")) == [{"k": "k", "v": 1}]

    def test_replay_never_per_event_and_bounded_rounds(
        self, spark, tmp_path, monkeypatch
    ):
        """Replay of a pooled module must not enter the per-event loop,
        and the number of pooled upsert executions is bounded by
        R·S (max per-key multiplicity × statements), not O(events)."""
        s = Stream(spark, str(tmp_path), "did:plc:pool3")
        s.provide_module(POOLMOD)
        rng = random.Random(7)
        batch = []
        for i in range(30):
            side = rng.choice(["a", "b"])
            batch.append(
                ev("u", **{side: f"k{rng.randint(0, 4)}", "v": i})
            )
        s.add_events(batch)
        expect = s.query(None, LeafQuery("reg"))

        s2 = Stream(spark, str(tmp_path), "did:plc:pool3")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a pooled module")

        monkeypatch.setattr(s2, "_event_local_df", no_single_row)
        execs = []
        orig = fold_exec.exec_pooled_rounds

        def counting(ex, le, group, is_state, **kw):
            real_execute = ex.execute

            def spy(sql, *a, **k):
                if sql.lstrip().lower().startswith("insert"):
                    execs.append(sql)
                return real_execute(sql, *a, **k)

            ex.execute = spy
            try:
                return orig(ex, le, group, is_state, **kw)
            finally:
                ex.execute = real_execute

        monkeypatch.setattr(fold_exec, "exec_pooled_rounds", counting)
        s2.provide_module(POOLMOD)
        s2.catch_up()
        assert s2.query(None, LeafQuery("reg")) == expect
        # R <= max ops per key; 30 events over 5 keys → R <= 30, but the
        # bound we assert is the structural one: executions <= R*S with
        # S=2, and strictly fewer than per-event's 2*30
        assert 0 < len(execs) < 60

    def test_pooled_model_soak(self, spark, tmp_path):
        """Seeded schedule over the pooled module vs a python model,
        with reopen/replay interleaved."""
        rng = random.Random(20260816)
        s = Stream(spark, str(tmp_path), "did:plc:pool4")
        s.provide_module(POOLMOD)
        model = {}
        seq = 0
        for step in range(10):
            r = rng.random()
            if r < 0.75:
                n = rng.randint(1, 5)
                batch = []
                for _ in range(n):
                    seq += 1
                    side = rng.choice(["a", "b"])
                    k = f"k{rng.randint(0, 3)}"
                    batch.append(ev("u", **{side: k, "v": seq}))
                    model[k] = seq
                s.add_events(batch)
            else:
                s = Stream(spark, str(tmp_path), "did:plc:pool4")
                s.provide_module(POOLMOD)
                s.catch_up()
            got = s.query(None, LeafQuery("reg"))
            want = [
                {"k": k, "v": v} for k, v in sorted(model.items())
            ]
            assert got == want, step

    def test_auto_rowid_pk_refuses_pool(self, spark, tmp_path):
        """Conflict key present but an auto-assigned INTEGER PK absent
        from the insert columns → rowid order is visible → per-event."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists withid (id integer primary key, "
                "k text unique, v integer not null)"
            ),
            materializer=(
                "insert into withid (k, v) select "
                "drisl_extract(payload, '.a'), 1 from event "
                "where drisl_exists(payload, '.a') "
                "on conflict(k) do update set v = excluded.v; "
                "insert into withid (k, v) select "
                "drisl_extract(payload, '.b'), 2 from event "
                "where drisl_exists(payload, '.b') "
                "on conflict(k) do update set v = excluded.v;"
            ),
            queries=(
                QueryDef("withid", "select id, k, v from withid order by id"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:pool5")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert fold_kinds(s, stmts) is None

    def test_mismatched_keys_refuse_pool(self, spark, tmp_path):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists twok (k1 text, k2 text, "
                "v integer not null, primary key (k1, k2))"
            ),
            materializer=(
                "insert into twok (k1, k2, v) select 'x', "
                "drisl_extract(payload, '.k'), 1 from event where true "
                "on conflict(k1, k2) do update set v = excluded.v; "
                "insert into twok (k1, k2, v) select 'x', "
                "drisl_extract(payload, '.k'), 2 from event where true "
                "on conflict(k2, k1) do update set v = excluded.v;"
            ),
            queries=(QueryDef("twok", "select k1, k2, v from twok"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:pool6")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        # same key SET (order-insensitive) → pools fine
        assert "pooled" in fold_kinds(s, stmts)

    def test_two_acc_takes_pooled_path_now(self, spark, tmp_path):
        """The TWO_ACC hazard module (n=n+1 / n=n*2) now pools — same
        interleaved result, set-wise execution."""
        s = Stream(spark, str(tmp_path), "did:plc:pool7")
        s.provide_module(TestStatementMajorHazard.TWO_ACC)
        stmts = [
            st.strip()
            for st in TestStatementMajorHazard.TWO_ACC.materializer.split(";")
            if st.strip()
        ]
        assert "pooled" in fold_kinds(s, stmts)


class TestSetwiseDivergentTails:
    """r10 review finding: GROUP BY / bare aggregates / LIMIT in a
    materializer source are set-wise vs per-event DIVERGENT — the
    reference evaluates them against a SINGLE-row event table. Such
    statements must fold per event."""

    def test_grouped_source_folds_per_event(self, spark, tmp_path):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists tally "
                "(user text not null, n integer not null)"
            ),
            materializer=(
                "insert into tally (user, n) select user, count(*) "
                "from event group by user;"
            ),
            queries=(
                QueryDef("tally", "select user, n from tally order by user, n"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:grp1")
        s.provide_module(mod)
        assert fold_kinds(s, mod.materializer) is None
        s.add_events([ev("u", x=1), ev("u", x=2), ev("v", x=3)])
        # reference per-event: each event sees a 1-row table → (user, 1)
        assert s.query(None, LeafQuery("tally")) == [
            {"user": "u", "n": 1},
            {"user": "u", "n": 1},
            {"user": "v", "n": 1},
        ]

    def test_bare_aggregate_folds_per_event(self, spark, tmp_path):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists agg1 (n integer not null)"
            ),
            materializer=(
                "insert into agg1 (n) select count(*) from event;"
            ),
            queries=(QueryDef("agg1", "select n from agg1 order by n"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:grp2")
        s.provide_module(mod)
        assert fold_kinds(s, mod.materializer) is None
        s.add_events([ev("u", x=1), ev("u", x=2), ev("u", x=3)])
        assert s.query(None, LeafQuery("agg1")) == [
            {"n": 1}, {"n": 1}, {"n": 1},
        ]

    def test_limit_tail_folds_per_event(self, spark, tmp_path):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists lim1 (i integer not null)"
            ),
            materializer=(
                "insert into lim1 (i) select idx from event limit 1;"
            ),
            queries=(QueryDef("lim1", "select i from lim1 order by i"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:grp3")
        s.provide_module(mod)
        assert fold_kinds(s, mod.materializer) is None
        s.add_events([ev("u", x=1), ev("u", x=2)])
        # per-event: limit 1 of a single-row table = every event's row
        assert s.query(None, LeafQuery("lim1")) == [{"i": 1}, {"i": 2}]

    def test_two_arg_scalar_minmax_stays_batch_safe(self, spark, tmp_path):
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists mm (v integer not null)"
            ),
            materializer=(
                "insert into mm (v) select max(drisl_extract_int(payload, '.v'), 0) "
                "from event;"
            ),
            queries=(QueryDef("mm", "select v from mm order by v"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:grp4")
        s.provide_module(mod)
        assert fold_kinds(s, mod.materializer) == ["plain"]
        s.add_events([ev("u", v=-3), ev("u", v=7)])
        assert s.query(None, LeafQuery("mm")) == [{"v": 0}, {"v": 7}]


class TestPooledUpdates:
    """r10: event-keyed UPDATE folds (the COUNTER shape) rank into the
    pooled rounds as join-updates — the last common O(events) replay
    class. Per-key sequencing (n = n + delta twice) is exactly what the
    rank rounds preserve."""

    def test_counter_pools_and_replay_not_per_event(
        self, spark, tmp_path, monkeypatch
    ):
        from .fixtures import COUNTER, bump

        s = Stream(spark, str(tmp_path), "did:plc:updp1")
        s.provide_module(COUNTER)
        stmts = [
            st.strip()
            for st in COUNTER.materializer.split(";")
            if st.strip()
        ]
        assert "pooled" in fold_kinds(s, stmts)
        s.add_events([bump("u", "x", 1)])
        s.add_events(
            [bump("u", "x", 10), bump("u", "x", 100), bump("u", "y", 7)]
        )
        assert s.query(None, LeafQuery("counters")) == [
            {"name": "x", "value": 111},
            {"name": "y", "value": 7},
        ]
        expect = s.query(None, LeafQuery("counters"))

        s2 = Stream(spark, str(tmp_path), "did:plc:updp1")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a pooled module")

        monkeypatch.setattr(s2, "_event_local_df", no_single_row)
        s2.provide_module(COUNTER)
        s2.catch_up()
        assert s2.query(None, LeafQuery("counters")) == expect

    def test_update_only_module_pools(self, spark, tmp_path):
        """A lone keyed UPDATE still needs per-key rounds (two same-key
        events must apply sequentially) — the pool handles a group of
        one, key discovered from the equality conjunct."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists gauges "
                "(g text primary key, v integer not null); "
                "insert into gauges values ('a', 0), ('b', 100) "
                "on conflict(g) do nothing;"
            ),
            materializer=(
                "update gauges set v = v * 2 + "
                "(select drisl_extract_int(payload, '.d') from event) "
                "where g = (select drisl_extract(payload, '.g') from event);"
            ),
            queries=(QueryDef("gauges", "select g, v from gauges order by g"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:updp2")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert "pooled" in fold_kinds(s, stmts)
        # non-commutative v*2+d per event, same key twice in one batch:
        # a: ((0*2+3)*2+5) = 11 — a single set-wise pass would get 5
        s.add_events([ev("u", g="a", d=3), ev("u", g="a", d=5)])
        assert s.query(None, LeafQuery("gauges")) == [
            {"g": "a", "v": 11},
            {"g": "b", "v": 100},
        ]

    def test_full_trio_insert_update_delete(self, spark, tmp_path):
        """insert + update + delete on ONE target, all keyed — the
        complete module shape, interleaved per event."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists acct "
                "(id text primary key, bal integer not null)"
            ),
            materializer=(
                "insert into acct (id, bal) select "
                "drisl_extract(payload, '.open'), 0 from event "
                "where drisl_exists(payload, '.open') "
                "on conflict(id) do nothing; "
                "update acct set bal = bal + "
                "(select drisl_extract_int(payload, '.amt') from event) "
                "where id = (select drisl_extract(payload, '.pay') from event); "
                "delete from acct where id = "
                "(select drisl_extract(payload, '.close') from event);"
            ),
            queries=(QueryDef("acct", "select id, bal from acct order by id"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:updp3")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert fold_kinds(s, stmts) == ["pooled", "pooled", "pooled"]
        assert len(pooled_groups(s, stmts)["acct"]) == 3
        # open a; pay a +5; pay a +7; close a; open a (fresh, bal 0)
        s.add_events(
            [
                ev("u", open="a"),
                ev("u", pay="a", amt=5),
                ev("u", pay="a", amt=7),
                ev("u", close="a"),
                ev("u", open="a"),
            ]
        )
        assert s.query(None, LeafQuery("acct")) == [{"id": "a", "bal": 0}]
        # and a normal lifecycle on another key in the same batch
        s.add_events(
            [ev("u", open="b"), ev("u", pay="b", amt=9)]
        )
        assert s.query(None, LeafQuery("acct")) == [
            {"id": "a", "bal": 0},
            {"id": "b", "bal": 9},
        ]

    def test_update_model_soak(self, spark, tmp_path):
        from .fixtures import COUNTER, bump

        rng = random.Random(20260817)
        s = Stream(spark, str(tmp_path), "did:plc:updp4")
        s.provide_module(COUNTER)
        model = {}
        for step in range(8):
            if rng.random() < 0.8:
                n = rng.randint(1, 5)
                batch = []
                for _ in range(n):
                    k = f"k{rng.randint(0, 2)}"
                    d = rng.randint(-9, 9)
                    batch.append(bump("u", k, d))
                    model[k] = model.get(k, 0) + d
                s.add_events(batch)
            else:
                s = Stream(spark, str(tmp_path), "did:plc:updp4")
                s.provide_module(COUNTER)
                s.catch_up()
            got = s.query(None, LeafQuery("counters"))
            want = [
                {"name": k, "value": v} for k, v in sorted(model.items())
            ]
            assert got == want, step

    def test_update_gates_fall_back(self, spark, tmp_path):
        from .fixtures import COUNTER

        s = Stream(spark, str(tmp_path), "did:plc:updp5")
        s.provide_module(COUNTER)
        for stmts in [
            # no key equality: touches every row per event
            ["update counters set value = value + "
             "(select drisl_extract_int(payload, '.d') from event)"],
            # aggregate inside the event subquery
            ["update counters set value = "
             "(select count(*) from event) where name = "
             "(select drisl_extract(payload, '.name') from event)"],
            # already a join-update
            ["update counters set value = 0 from counters c2 "
             "where c2.name = counters.name"],
            # RETURNING
            ["update counters set value = 0 where name = "
             "(select drisl_extract(payload, '.name') from event) "
             "returning name"],
        ]:
            assert fold_kinds(s, stmts) is None, stmts[0]

    def test_update_event_conjunct_and_residual(self, spark, tmp_path):
        """Event-only conjunct gates which events generate ops; a
        target-only residual evaluates against the live row."""
        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists caps "
                "(k text primary key, v integer not null); "
                "insert into caps values ('a', 1), ('b', 99) "
                "on conflict(k) do nothing;"
            ),
            materializer=(
                "update caps set v = v + "
                "(select drisl_extract_int(payload, '.d') from event) "
                "where k = (select drisl_extract(payload, '.k') from event) "
                "and (select drisl_extract(payload, '.op') from event) = 'add' "
                "and v < 50;"
            ),
            queries=(QueryDef("caps", "select k, v from caps order by k"),),
        )
        s = Stream(spark, str(tmp_path), "did:plc:updp6")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert "pooled" in fold_kinds(s, stmts)
        s.add_events(
            [
                ev("u", k="a", d=10, op="add"),   # 1 → 11
                ev("u", k="a", d=10, op="noop"),  # filtered by op
                ev("u", k="b", d=10, op="add"),   # 99: residual v<50 false
            ]
        )
        assert s.query(None, LeafQuery("caps")) == [
            {"k": "a", "v": 11},
            {"k": "b", "v": 99},
        ]


class TestRowidReplayOrder:
    """r10: dml assigns rowid-alias ids (max+1, …) in __ord__ order when
    present; a plain insert WITHOUT __ord__ left frame order to decide —
    which on a replayed multi-file log is size-sorted FILE order, not
    event order. Every insert into an auto-pk table now carries __ord__."""

    MOD = BasicModuleDef(
        init_sql=(
            "create table if not exists logx "
            "(id integer primary key, tag text not null)"
        ),
        materializer=(
            "insert into logx (tag) select "
            "drisl_extract(payload, '.t') from event;"
        ),
        queries=(QueryDef("logx", "select id, tag from logx order by id"),),
    )

    def test_replayed_rowids_follow_event_order(self, spark, tmp_path):
        s = Stream(spark, str(tmp_path), "did:plc:rowidord")
        s.provide_module(self.MOD)
        rng = random.Random(3)
        n = 0
        while n < 40:  # variable batch sizes → log files of varying size
            b = rng.randint(1, 5)
            s.add_events([ev("u", t=f"t{n + j + 1}") for j in range(b)])
            n += b
        live = s.query(None, LeafQuery("logx", limit=100))
        assert [r["tag"] for r in live] == [f"t{r['id']}" for r in live]
        s2 = Stream(spark, str(tmp_path), "did:plc:rowidord")
        s2.provide_module(self.MOD)  # replay reads the multi-file log
        rep = s2.query(None, LeafQuery("logx", limit=100))
        assert [(r["id"], r["tag"]) for r in rep] == [
            (r["id"], r["tag"]) for r in live
        ]

    def test_ord_needed_classifier(self, spark, tmp_path):
        s = Stream(spark, str(tmp_path), "did:plc:rowidord2")
        s.provide_module(self.MOD)
        assert fold_plan._ord_needed(
            "insert into logx (tag) select user from event",
            s.store,
        )  # auto id
        assert fold_plan._ord_needed(
            "insert into logx (id, tag) select idx, user from event "
            "on conflict(id) do nothing",
            s.store,
        )  # conflict
        assert fold_plan._ord_needed(
            "insert into logx (id, tag) select idx, user from event",
            s.store,
        )  # r11: explicit id expressions may be NULL at runtime —
        # auto-assignment order is event order, so __ord__ rides along


class TestPooledPlainInserts:
    """r10: shared plain inserts on a rowid-alias table compile by
    assigning ids as max + global (event idx, statement) rank — the
    exact per-event id sequence, one set-wise insert per statement."""

    MOD = BasicModuleDef(
        init_sql=(
            "create table if not exists logb "
            "(id integer primary key, tag text not null)"
        ),
        materializer=(
            "insert into logb (tag) select 'a' || idx from event; "
            "insert into logb (tag) select 'b' || idx from event "
            "where drisl_exists(payload, '.b');"
        ),
        queries=(QueryDef("logb", "select id, tag from logb order by id"),),
    )

    def test_pools_and_matches_per_event_sequence(
        self, spark, tmp_path, monkeypatch
    ):
        s = Stream(spark, str(tmp_path), "did:plc:pins1")
        s.provide_module(self.MOD)
        stmts = [
            st.strip()
            for st in self.MOD.materializer.split(";")
            if st.strip()
        ]
        assert fold_kinds(s, stmts) == ["pooled", "pooled"]
        assert all(
            tag == "plainins" for _, (tag, _) in pooled_groups(s, stmts)["logb"]
        )
        # event 1 fires both statements; event 2 only the first
        s.add_events([ev("u", b=1), ev("u", x=1)])
        assert s.query(None, LeafQuery("logb")) == [
            {"id": 1, "tag": "a1"},
            {"id": 2, "tag": "b1"},
            {"id": 3, "tag": "a2"},
        ]
        s.add_events([ev("u", b=1)])
        assert s.query(None, LeafQuery("logb"))[-2:] == [
            {"id": 4, "tag": "a3"},
            {"id": 5, "tag": "b3"},
        ]
        expect = s.query(None, LeafQuery("logb"))

        s2 = Stream(spark, str(tmp_path), "did:plc:pins1")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a pooled module")

        monkeypatch.setattr(s2, "_event_local_df", no_single_row)
        s2.provide_module(self.MOD)
        s2.catch_up()
        assert s2.query(None, LeafQuery("logb")) == expect

    def test_explicit_id_statement_pools_with_exact_interleave(
        self, spark, tmp_path
    ):
        """r11 (VERDICT r10 #8): plain inserts mixing explicit and auto
        ids pool too — explicit ids pin, autos follow SQLite's
        sequential max+1 fold (the closed form over global (idx,
        statement) order), verified against a stdlib sqlite3 oracle."""
        import sqlite3

        mod = BasicModuleDef(
            init_sql=(
                "create table if not exists logc "
                "(id integer primary key, tag text not null)"
            ),
            materializer=(
                "insert into logc (id, tag) "
                "select drisl_extract_int(payload, '.id'), 'a' || idx "
                "from event; "
                "insert into logc (tag) select 'b' || idx from event "
                "where drisl_exists(payload, '.b');"
            ),
            queries=(
                QueryDef("logc", "select id, tag from logc order by id"),
            ),
        )
        s = Stream(spark, str(tmp_path), "did:plc:pins2")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert fold_kinds(s, stmts) == ["pooled", "pooled"]
        assert all(
            tag == "plainins" for _, (tag, _) in pooled_groups(s, stmts)["logc"]
        )
        # e1: auto a + b; e2: explicit 100 a; e3: auto a + b; e4: explicit
        # 5 a (below the running max); e5: auto a
        s.add_events(
            [
                ev("u", b=1),
                ev("u", id=100),
                ev("u", b=1),
                ev("u", id=5),
                ev("u", x=1),
            ]
        )
        got = [
            (r["id"], r["tag"])
            for r in s.query(None, LeafQuery("logc", limit=100))
        ]
        # stdlib sqlite3 runs the reference's per-event fold
        con = sqlite3.connect(":memory:")
        con.execute("create table logc (id integer primary key, tag text)")
        for idx, (eid, has_b) in enumerate(
            [(None, True), (100, False), (None, True), (5, False), (None, False)],
            start=1,
        ):
            con.execute(
                "insert into logc (id, tag) values (?, ?)",
                (eid, f"a{idx}"),
            )
            if has_b:
                con.execute(
                    "insert into logc (tag) values (?)", (f"b{idx}",)
                )
        want = sorted(con.execute("select id, tag from logc").fetchall())
        assert got == want
        # replay never enters the per-event loop
        s2 = Stream(spark, str(tmp_path), "did:plc:pins2")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a pooled module")

        s2._event_local_df = no_single_row
        s2.provide_module(mod)
        s2.catch_up()
        got2 = [
            (r["id"], r["tag"])
            for r in s2.query(None, LeafQuery("logc", limit=100))
        ]
        assert got2 == want


class TestOrderSensitivitySoak:
    """r11 (VERDICT r10 #9): scan-order semantics — scalar subqueries,
    LIMIT without ORDER BY, whole-table row order — must survive every
    persistence transition (snapshot chain, restore, log compaction,
    mirror-served reads vs Spark reads). The r10 chain-order fix had one
    targeted test; this seeded soak probes ORDER-BY-free shapes against
    an insertion-order model after each transition, on BOTH read paths."""

    MOD = BasicModuleDef(
        init_sql=(
            "create table if not exists log "
            "(id integer primary key, tag text not null)"
        ),
        materializer=(
            "insert into log (tag) select "
            "drisl_extract(payload, '.tag') from event"
        ),
        queries=(
            # all ORDER-BY-free: results are defined by scan order,
            # which must equal insertion order at every transition
            QueryDef("first_row", "select tag from log limit 1"),
            QueryDef("scalar_sub", "select (select tag from log) as t"),
            QueryDef("all_rows", "select id, tag from log limit $limit"),
        ),
    )

    def _assert_order(self, s: Stream, tags: list[str]) -> None:
        import unittest.mock as mock

        expect = {
            "first_row": [{"tag": tags[0]}] if tags else [],
            "scalar_sub": [{"t": tags[0] if tags else None}],
            "all_rows": [
                {"id": i + 1, "tag": t} for i, t in enumerate(tags)
            ],
        }
        for qname, want in expect.items():
            q = LeafQuery(qname, limit=1000)
            got_default = s.query(None, q)  # mirror-served when eligible
            with mock.patch.object(
                Stream, "_local_query", lambda self, sql, args: None
            ):
                got_spark = s.query(None, q)  # forced Spark path
            assert got_default == want, (qname, "default path")
            assert got_spark == want, (qname, "spark path")

    def test_soak_transitions_keep_scan_order(self, spark, tmp_path):
        rng = random.Random(20260816)
        s = Stream(spark, str(tmp_path), "did:plc:ordsoak")
        s.provide_module(self.MOD)
        tags: list[str] = []
        self._assert_order(s, tags)  # empty-table probes
        n = 0
        for step in range(24):
            op = rng.random()
            if op < 0.55 or not tags:
                b = rng.randint(1, 5)
                evs = [ev("u", tag=f"t{n + j}") for j in range(b)]
                tags += [f"t{n + j}" for j in range(b)]
                n += b
                s.add_events(evs)
            elif op < 0.72:
                s.persist_state()  # snapshot (chain or rewrite)
            elif op < 0.85:
                s.compact_log()
            else:
                # reopen: snapshot restore or full replay
                if rng.random() < 0.5:
                    import shutil as _sh

                    _sh.rmtree(s._snapshot_base(), ignore_errors=True)
                s = Stream(spark, str(tmp_path), "did:plc:ordsoak")
                s.provide_module(self.MOD)
            self._assert_order(s, tags)


def test_runtime_null_id_auto_assigns_like_sqlite(spark, tmp_path):
    """r11 regression: a nullable id EXPRESSION in a single plain insert
    (the 'occasional id override' shape) stored NULL ids — only literal
    VALUES NULLs were detected. The set-wise path now runs SQLite's
    sequential-fold closed form: autos interleave with explicit ids
    exactly (cross-batch too), verified against stdlib sqlite3."""
    import sqlite3

    mod = BasicModuleDef(
        init_sql=(
            "create table if not exists t "
            "(id integer primary key, x text not null)"
        ),
        materializer=(
            "insert into t (id, x) "
            "select drisl_extract_int(payload, '.id'), "
            "drisl_extract(payload, '.x') from event"
        ),
        queries=(QueryDef("rows", "select id, x from t order by id"),),
    )
    s = Stream(spark, str(tmp_path), "did:plc:mixid")
    s.provide_module(mod)
    batches = [
        [(None, "a"), (100, "b"), (None, "c"), (5, "d"), (None, "e")],
        [(None, "f"), (50, "g"), (None, "h")],
    ]
    for b in batches:
        s.add_events(
            [
                ev("u", **({"id": i, "x": x} if i is not None else {"x": x}))
                for i, x in b
            ]
        )
    got = sorted(
        (r["id"], r["x"])
        for r in s.query(None, LeafQuery("rows", limit=100))
    )
    con = sqlite3.connect(":memory:")
    con.execute("create table t (id integer primary key, x text not null)")
    for b in batches:
        for i, x in b:
            con.execute("insert into t (id, x) values (?, ?)", (i, x))
    assert got == sorted(con.execute("select id, x from t").fetchall())
    assert all(i is not None for i, _ in got)


def test_soak_pooled_trio_full_lifecycle(spark, tmp_path):
    """Seeded long soak over the pooled trio module (insert + update +
    delete on one rowid-free keyed table) interleaved with persists,
    log compaction, and reopen/replay — the round-10 fold tiers under
    the same model-vs-engine discipline as the KV soak."""
    rng = random.Random(20260818)
    mod = BasicModuleDef(
        init_sql=(
            "create table if not exists acct "
            "(id text primary key, bal integer not null)"
        ),
        materializer=(
            "insert into acct (id, bal) select "
            "drisl_extract(payload, '.open'), 0 from event "
            "where drisl_exists(payload, '.open') "
            "on conflict(id) do nothing; "
            "update acct set bal = bal + "
            "(select drisl_extract_int(payload, '.amt') from event) "
            "where id = (select drisl_extract(payload, '.pay') from event); "
            "delete from acct where id = "
            "(select drisl_extract(payload, '.close') from event);"
        ),
        queries=(QueryDef("acct", "select id, bal from acct order by id"),),
    )
    s = Stream(spark, str(tmp_path), "did:plc:triosoak", compact_files=6)
    s.provide_module(mod)
    model: dict[str, int] = {}
    keys = [f"k{i}" for i in range(4)]
    for step in range(14):
        r = rng.random()
        if r < 0.6:
            n = rng.randint(1, 6)
            batch = []
            for _ in range(n):
                k = rng.choice(keys)
                op = rng.random()
                if op < 0.4:
                    batch.append(ev("u", open=k))
                    if k not in model:
                        model[k] = 0
                elif op < 0.8:
                    amt = rng.randint(-5, 9)
                    batch.append(ev("u", pay=k, amt=amt))
                    if k in model:
                        model[k] += amt
                else:
                    batch.append(ev("u", close=k))
                    model.pop(k, None)
            s.add_events(batch)
        elif r < 0.72:
            s.persist_state()
        elif r < 0.82:
            s.compact_log()
        else:
            s = Stream(
                spark, str(tmp_path), "did:plc:triosoak", compact_files=6
            )
            s.provide_module(mod)
            s.catch_up()
        got = s.query(None, LeafQuery("acct"))
        want = [
            {"id": k, "bal": v} for k, v in sorted(model.items())
        ]
        assert got == want, step


class TestGuardedConjuncts:
    """r12 (VERDICT r11 #4): MIXED event/target conjuncts in keyed
    updates/deletes compile into the pooled-round tier — the
    guarded-counter shape ``… WHERE k = (SELECT … FROM event) AND n <
    (SELECT … FROM event)``. The guard evaluates against the pre-round
    table, which is the sequential fold's order restricted to the op's
    own key. Verified against a stdlib-sqlite3 per-event fold."""

    GUARDED = BasicModuleDef(
        init_sql=(
            "create table if not exists gc "
            "(k text primary key, n integer not null, cap integer not null)"
        ),
        materializer=(
            # seed: first sighting of a key fixes its cap
            "insert into gc (k, n, cap) "
            "select drisl_extract(payload, '.k'), 0, "
            "drisl_extract_int(payload, '.cap') from event "
            "where drisl_exists(payload, '.cap') "
            "on conflict (k) do nothing; "
            # guarded counter: bump only while under the event's limit
            # AND the row's own cap is positive (mixed + residual)
            "update gc set n = n + 1 "
            "where k = (select drisl_extract(payload, '.k') from event) "
            "and n < (select drisl_extract_int(payload, '.lim') from event) "
            "and cap > 0;"
        ),
        queries=(
            QueryDef("gc", "select k, n, cap from gc order by k"),
        ),
    )

    GUARDED_DEL = BasicModuleDef(
        init_sql=(
            "create table if not exists gd "
            "(k text primary key, n integer not null)"
        ),
        materializer=(
            "insert into gd (k, n) "
            "select drisl_extract(payload, '.k'), "
            "drisl_extract_int(payload, '.v') from event "
            "where drisl_exists(payload, '.v') "
            "on conflict (k) do update set n = n + excluded.n; "
            # guarded delete: evict the key once it reaches the event cap
            "delete from gd "
            "where k = (select drisl_extract(payload, '.k') from event) "
            "and n >= (select drisl_extract_int(payload, '.cap') from event);"
        ),
        queries=(
            QueryDef("gd", "select k, n from gd order by k"),
        ),
    )

    @staticmethod
    def _events(seed, n):
        rng = random.Random(seed)
        out = []
        for _ in range(n):
            p = {"k": f"k{rng.randrange(4)}"}
            if rng.random() < 0.7:
                p["cap"] = rng.randrange(0, 3)
            if rng.random() < 0.8:
                p["lim"] = rng.randrange(0, 4)
            if rng.random() < 0.6:
                p["v"] = rng.randrange(1, 4)
            out.append(p)
        return out

    def test_guarded_update_pools(self, spark, tmp_path):
        s = Stream(spark, str(tmp_path), "did:plc:guard1")
        s.provide_module(self.GUARDED)
        stmts = [
            st.strip()
            for st in self.GUARDED.materializer.split(";")
            if st.strip()
        ]
        # the compiled tier refuses; pooled rounds take the script
        assert fold_kinds(s, stmts) == ["pooled", "pooled"]
        plan = pooled_groups(s, stmts)
        assert "gc" in plan
        tags = sorted(tag for _, (tag, _) in plan["gc"])
        assert tags == ["update", "upsert"]

    def test_guarded_update_matches_sqlite_fold(self, spark, tmp_path):
        import sqlite3

        payloads = self._events(12, 40)
        s = Stream(spark, str(tmp_path), "did:plc:guard2")
        s.provide_module(self.GUARDED)
        # two batches (pooled) + singles (localized path) must agree
        s.add_events([ev("u", **p) for p in payloads[:25]])
        s.add_events([ev("u", **p) for p in payloads[25:35]])
        for p in payloads[35:]:
            s.add_events([ev("u", **p)])
        got = [
            (r["k"], r["n"], r["cap"])
            for r in s.query(None, LeafQuery("gc", limit=100))
        ]
        con = sqlite3.connect(":memory:")
        con.execute(
            "create table gc (k text primary key, n integer, cap integer)"
        )
        for p in payloads:  # the reference's per-event fold
            if "cap" in p:
                con.execute(
                    "insert into gc values (?, 0, ?) "
                    "on conflict (k) do nothing",
                    (p["k"], p["cap"]),
                )
            con.execute(
                "update gc set n = n + 1 where k = ? and n < ? and cap > 0",
                (p["k"], p.get("lim")),
            )
        want = sorted(con.execute("select k, n, cap from gc").fetchall())
        assert got == want
        # replay: identical, never per-event
        s2 = Stream(spark, str(tmp_path), "did:plc:guard2")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a pooled module")

        s2._event_local_df = no_single_row
        s2.provide_module(self.GUARDED)
        s2.catch_up()
        got2 = [
            (r["k"], r["n"], r["cap"])
            for r in s2.query(None, LeafQuery("gc", limit=100))
        ]
        assert got2 == want

    def test_guarded_delete_matches_sqlite_fold(self, spark, tmp_path):
        import sqlite3

        payloads = self._events(34, 40)
        s = Stream(spark, str(tmp_path), "did:plc:guard3")
        s.provide_module(self.GUARDED_DEL)
        stmts = [
            st.strip()
            for st in self.GUARDED_DEL.materializer.split(";")
            if st.strip()
        ]
        plan = pooled_groups(s, stmts)
        assert plan is not None and "gd" in plan
        tags = sorted(tag for _, (tag, _) in plan["gd"])
        assert tags == ["delete", "upsert"]
        s.add_events([ev("u", **p) for p in payloads[:30]])
        s.add_events([ev("u", **p) for p in payloads[30:]])
        got = [
            (r["k"], r["n"])
            for r in s.query(None, LeafQuery("gd", limit=100))
        ]
        con = sqlite3.connect(":memory:")
        con.execute("create table gd (k text primary key, n integer)")
        for p in payloads:
            if "v" in p:
                con.execute(
                    "insert into gd values (?, ?) on conflict (k) "
                    "do update set n = n + excluded.n",
                    (p["k"], p["v"]),
                )
            con.execute(
                "delete from gd where k = ? and n >= ?",
                (p["k"], p.get("cap")),
            )
        want = sorted(con.execute("select k, n from gd").fetchall())
        assert got == want

    def test_guard_no_ops_on_missing_event_field(self, spark, tmp_path):
        """An event without the guard's field yields NULL → guard never
        passes (SQLite NULL comparison) — the pooled compile must
        preserve that no-op exactly."""
        s = Stream(spark, str(tmp_path), "did:plc:guard4")
        s.provide_module(self.GUARDED)
        s.add_events(
            [
                ev("u", k="a", cap=5),           # seed only (no lim)
                ev("u", k="a", cap=5, lim=2),    # n 0→1
                ev("u", k="a"),                  # NULL lim → no-op
                ev("u", k="a", lim=2),           # n 1→2
                ev("u", k="a", lim=2),           # n=2 not < 2 → no-op
            ]
        )
        assert s.query(None, LeafQuery("gc")) == [
            {"k": "a", "n": 2, "cap": 5}
        ]


class TestUniqueKeyedUpdates:
    """r12: pooled per-key rounds accept a declared single-column UNIQUE
    key (column-level UNIQUE, table-level UNIQUE(col), or CREATE UNIQUE
    INDEX) as the update's conflict key — the register-then-update-by-
    handle module shape, which keys on a unique TEXT column instead of
    the rowid pk (reference folds it per event through SQLite,
    leaf-stream/src/lib.rs:543-569; the unique index makes the upsert
    rewrite sound). Verified against a stdlib-sqlite3 per-event fold."""

    @staticmethod
    def _module(ddl):
        return BasicModuleDef(
            init_sql=ddl,
            materializer=(
                # register a handle (id pinned to idx: pooled upserts
                # require an explicit INTEGER pk)
                "insert into accounts (id, handle) "
                "select idx, drisl_extract(payload, '.reg') from event "
                "where drisl_exists(payload, '.reg') "
                "on conflict (handle) do nothing; "
                # accumulate score BY HANDLE — keyed on the unique
                # column, not the pk
                "update accounts set score = score + "
                "(select drisl_extract_int(payload, '.pts') from event) "
                "where handle = "
                "(select drisl_extract(payload, '.h') from event);"
            ),
            queries=(
                QueryDef(
                    "accounts",
                    "select handle, score from accounts order by handle",
                ),
            ),
        )

    COLUMN_UNIQUE = (
        "create table if not exists accounts (id integer primary key, "
        "handle text unique, score integer not null default 0)"
    )
    TABLE_UNIQUE = (
        "create table if not exists accounts (id integer primary key, "
        "handle text, score integer not null default 0, unique (handle))"
    )
    INDEX_UNIQUE = (
        "create table if not exists accounts (id integer primary key, "
        "handle text, score integer not null default 0); "
        "create unique index if not exists accounts_handle "
        "on accounts (handle)"
    )

    @pytest.mark.parametrize(
        "ddl", [COLUMN_UNIQUE, TABLE_UNIQUE, INDEX_UNIQUE],
        ids=["column", "table", "index"],
    )
    def test_unique_keyed_update_pools(self, spark, tmp_path, ddl):
        mod = self._module(ddl)
        s = Stream(spark, str(tmp_path), "did:plc:uq1")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        # the compiled tier refuses; pooled rounds take the script
        assert fold_kinds(s, stmts) == ["pooled", "pooled"]
        plan = pooled_groups(s, stmts)
        assert "accounts" in plan
        tags = sorted(tag for _, (tag, _) in plan["accounts"])
        assert tags == ["update", "upsert"]

    def test_without_unique_declaration_refuses(self, spark, tmp_path):
        """The same shape WITHOUT a uniqueness declaration on the key must
        stay per-event: an upsert rewrite on a non-unique key would
        collapse multi-row updates."""
        mod = self._module(
            "create table if not exists accounts (id integer primary key, "
            "handle text, score integer not null default 0)"
        )
        s = Stream(spark, str(tmp_path), "did:plc:uq2")
        s.provide_module(mod)
        stmts = [
            st.strip() for st in mod.materializer.split(";") if st.strip()
        ]
        assert fold_kinds(s, stmts) is None
        # … and the per-event fold still computes the right answer
        s.add_events([ev("u", reg="a"), ev("u", h="a", pts=3)])
        assert s.query(None, LeafQuery("accounts")) == [
            {"handle": "a", "score": 3}
        ]

    @staticmethod
    def _events(seed, n):
        rng = random.Random(seed)
        out = []
        for _ in range(n):
            p = {}
            if rng.random() < 0.5:
                p["reg"] = f"h{rng.randrange(4)}"
            if rng.random() < 0.8:
                p["h"] = f"h{rng.randrange(5)}"  # h4 never registers
                p["pts"] = rng.randrange(1, 5)
            out.append(p)
        return out

    def test_matches_sqlite_fold_and_replays_pooled(self, spark, tmp_path):
        import sqlite3

        payloads = self._events(21, 40)
        mod = self._module(self.COLUMN_UNIQUE)
        s = Stream(spark, str(tmp_path), "did:plc:uq3")
        s.provide_module(mod)
        s.add_events([ev("u", **p) for p in payloads[:25]])
        s.add_events([ev("u", **p) for p in payloads[25:35]])
        for p in payloads[35:]:
            s.add_events([ev("u", **p)])
        got = [
            (r["handle"], r["score"])
            for r in s.query(None, LeafQuery("accounts", limit=100))
        ]
        con = sqlite3.connect(":memory:")
        con.execute(
            "create table accounts (id integer primary key, "
            "handle text unique, score integer not null default 0)"
        )
        for idx, p in enumerate(payloads, start=1):
            if "reg" in p:
                con.execute(
                    "insert into accounts (id, handle) values (?, ?) "
                    "on conflict (handle) do nothing",
                    (idx, p["reg"]),
                )
            con.execute(
                "update accounts set score = score + ? where handle = ?",
                (p.get("pts"), p.get("h")),
            )
        want = sorted(
            con.execute(
                "select handle, score from accounts order by handle"
            ).fetchall()
        )
        assert got == want
        # replay: identical, never the per-event loop
        s2 = Stream(spark, str(tmp_path), "did:plc:uq3")

        def no_single_row(rows, schema):
            raise AssertionError("per-event fold ran for a pooled module")

        s2._event_local_df = no_single_row
        s2.provide_module(mod)
        s2.catch_up()
        got2 = [
            (r["handle"], r["score"])
            for r in s2.query(None, LeafQuery("accounts", limit=100))
        ]
        assert got2 == want

    def test_unique_metadata_survives_snapshot_restore(
        self, spark, tmp_path
    ):
        """A snapshot-restored stream skips init_sql, so the unique
        declaration must come back from the manifest — both DDL
        unique_cols and CREATE UNIQUE INDEX registrations — or the
        post-restart fold would silently drop to per-event."""
        for name, ddl in (
            ("did:plc:uq4", self.COLUMN_UNIQUE),
            ("did:plc:uq5", self.INDEX_UNIQUE),
        ):
            mod = self._module(ddl)
            s = Stream(spark, str(tmp_path), name)
            s.provide_module(mod)
            s.add_events([ev("u", reg="a"), ev("u", h="a", pts=2)])
            s.persist_state()
            s2 = Stream(spark, str(tmp_path), name)
            s2.provide_module(mod)  # snapshot restore, no init_sql
            stmts = [
                st.strip()
                for st in mod.materializer.split(";")
                if st.strip()
            ]
            assert "pooled" in fold_kinds(s2, stmts)
            s2.add_events([ev("u", h="a", pts=5)])
            assert s2.query(None, LeafQuery("accounts")) == [
                {"handle": "a", "score": 7}
            ]
