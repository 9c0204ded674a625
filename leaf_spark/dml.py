"""DML/DDL interpreter for module SQL over Spark-managed tables.

The reference's materializer runs arbitrary SQLite DML per event
(leaf-stream/src/module/basic.rs:76-105). Spark has no UPDATE/DELETE on
parquet-backed tables (that's Delta's job), so this module re-expresses the
DML subset modules use as DataFrame algebra, executed through ``spark.sql``
over temp views — declarative, Catalyst-planned, and batch-oriented:

- CREATE TABLE / INDEX / VIEW / DROP          → schema registry ops
- INSERT INTO … SELECT/VALUES                 → union-append
- INSERT … ON CONFLICT DO UPDATE/NOTHING      → full-outer-merge (the
                                                MERGE INTO equivalent)
- UPDATE t SET … WHERE …                      → projection rewrite
- DELETE FROM t WHERE …                       → anti-filter

Every statement is first translated from the SQLite dialect
(sqlcompat.translate) and table names are mapped through a per-stream view
prefix so many streams can share one SparkSession.

Scale note: the fold is BATCH-oriented — ``event`` is a whole micro-batch
and statements like INSERT…SELECT FROM event apply set-wise (one distributed
job per statement per batch, not per event). Sequential per-event semantics
are preserved by the upsert dedup (last event per conflict key wins, in idx
order) and by falling back to a per-event loop for statements whose
semantics genuinely depend on row-at-a-time application (see
fold/plan.py).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import sqlcompat
from .localdf import arrow_local_df
from .sqlcompat import (
    SqlTranslationError,
    close_paren,
    on_conflict_at,
    split_top,
    tokenize,
    top_level,
    trigger_body,
    _find_args,
    _is_word,
    _j,
)

_SQLITE_TYPE_MAP = {
    "integer": T.LongType(),
    "int": T.LongType(),
    "bigint": T.LongType(),
    "smallint": T.LongType(),
    "tinyint": T.LongType(),
    "real": T.DoubleType(),
    "double": T.DoubleType(),
    "float": T.DoubleType(),
    "numeric": T.DoubleType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "char": T.StringType(),
    "clob": T.StringType(),
    "blob": T.BinaryType(),
    "any": T.StringType(),
    "boolean": T.LongType(),  # SQLite stores bools as ints
}


@dataclass
class TableDef:
    name: str  # flattened name (state.x → state_x)
    schema: T.StructType
    primary_key: tuple[str, ...] = ()
    is_state: bool = False
    # column → SQL default expression (SQLite DEFAULT clause)
    defaults: dict[str, str] = field(default_factory=dict)
    # lowercased columns carrying a DDL-declared single-column UNIQUE
    # constraint (column-level UNIQUE or one-column table-level
    # UNIQUE(col)). Uniqueness is metadata for the fold compiler's
    # keyed-update tier (fold/plan.py pooled rounds accept these as
    # conflict keys alongside the pk); like the pk it is not separately
    # enforced on plain inserts. CREATE UNIQUE INDEX columns live in
    # TableStore.unique_indexes (droppable, so tracked by index name).
    unique_cols: set = field(default_factory=set)


def flat_name(name: str) -> str:
    """Store key of a possibly db-qualified table name: ``state.x`` →
    ``state_x``, ``main.x`` → ``x`` (the _create_table flattening)."""
    return name.lower().replace("state.", "state_").replace("main.", "")


def qualified_name(toks: list[str], j: int) -> tuple[str, int]:
    """The raw (possibly ``db.``-qualified) table name starting at
    ``toks[j]``, and the index just past it."""
    if j + 1 < len(toks) and toks[j + 1] == ".":
        return "".join(toks[j : j + 3]), j + 3
    return toks[j], j + 1


def int_pk(tdef: TableDef) -> str | None:
    """The rowid-aliased column: a single INTEGER PRIMARY KEY."""
    if len(tdef.primary_key) == 1:
        f_ = next(
            (f for f in tdef.schema.fields if f.name == tdef.primary_key[0]), None
        )
        if f_ is not None and isinstance(f_.dataType, (T.LongType, T.IntegerType)):
            return f_.name
    return None


@dataclass
class TriggerDef:
    """CREATE TRIGGER … ON table — the reference's SQLite executes triggers
    natively (authorizer allows CreateTrigger, leaf-stream/src/lib.rs:1005);
    here the body is folded into the mutation set-wise: ``new``/``old`` are
    batch views of the affected rows and each body statement runs ONCE per
    mutation instead of once per row (equivalent for the common audit/counter
    shapes; a body whose statements depend on row-at-a-time interleaving
    diverges — documented)."""

    name: str
    timing: str  # 'before' | 'after'
    op: str  # 'insert' | 'update' | 'delete'
    table: str  # flattened table name
    when_sql: str | None
    body: tuple[str, ...]  # raw statements (translated at fire time)


def _is_literal_plan(plan) -> bool:
    """True when an OPTIMIZED plan is a driver-local literal: a single
    LocalRelation, or a Union tree whose every node is Union/LocalRelation
    (Catalyst flattens nested unions but has no rule folding a union of
    LocalRelations into one — the fold-chain merge produces exactly that
    shape, and its collect() is still a values read, no table scan)."""
    name = plan.nodeName()
    if name == "LocalRelation":
        return True
    if name != "Union":
        return False
    for line in plan.treeString().splitlines():
        node = line.lstrip(" :+-")
        if not (node.startswith("LocalRelation") or node.startswith("Union")):
            return False
    return True


class _Frames(Mapping):
    """``TableStore.tables``: name → DataFrame. Reading a table builds
    its pending Python rows into the frame first
    (``TableStore.frame``); iteration and membership build nothing."""

    def __init__(self, store: "TableStore"):
        self._store = store

    def __getitem__(self, name: str) -> DataFrame:
        return self._store.frame(name)

    def __iter__(self):
        return iter(self._store._frames)

    def __len__(self) -> int:
        return len(self._store._frames)

    def __contains__(self, name) -> bool:
        return name in self._store._frames


@dataclass
class TableStore:
    """Per-(stream, module) managed tables: name → DataFrame + schema.

    DataFrames are lazily chained within a fold; ``checkpoint_all`` truncates
    lineage at commit points (localCheckpoint keeps them in executor memory —
    the parquet persistence of committed state is stream.py's job).

    Python rows: a fold that ran in the stream's sqlite mirror
    hands its result over as Python rows — the rows it appended
    (``appended_rows``) or the table's whole new content
    (``replaced_rows``). They wait in ``_pending`` and reach Spark only
    when something reads the table: ``frame`` (``tables[name]``) and
    ``view`` (``DmlExecutor._map_names``) rebuild it once as the frame ∪
    one literal of the pending rows (or the literal alone for a
    replacement) and re-register its temp view. A commit that only
    hands over rows makes no JVM call.

    Literal-segment rule: a pure append onto a clean (not dirty) table
    whose delta's optimized plan is a literal (``_is_literal_plan``) —
    a Spark-path append, or one rebuild of pending rows — leaves the
    table as ``checkpointed base ∪ literal deltas`` and keeps it clean:
    the delta's values already sit in the plan, so there is nothing for
    a checkpoint job to evaluate. The ``_LITERAL_SEGMENT_CAP + 1``-th
    such segment marks the table dirty, so ``checkpoint_all`` cuts the
    union once per that many appends.
    """

    spark: SparkSession
    view_prefix: str
    defs: dict[str, TableDef] = field(default_factory=dict)
    # the frame each table's temp view shows; see ``tables`` for reads
    _frames: dict = field(default_factory=dict)
    # name → (schema, rows, replace): Python rows not yet in
    # _frames[name] or its view — the rows to append, or with replace
    # the table's whole content. No rows and no replace: only the view
    # is stale (restore reinstated another frame).
    _pending: dict = field(default_factory=dict)
    views: dict[str, str] = field(default_factory=dict)  # name → select SQL
    triggers: dict[str, TriggerDef] = field(default_factory=dict)
    # tables mutated since the last checkpoint_all — checkpointing is
    # O(table), so only dirty tables get re-materialized per batch
    _dirty: set = field(default_factory=set)
    # literal deltas unioned onto each clean table since its last lineage
    # cut (see the literal-segment rule above); bounds the union depth
    _segments: dict = field(default_factory=dict)
    _LITERAL_SEGMENT_CAP = 32
    # per-table monotone content version (see _bump)
    _table_versions: dict = field(default_factory=dict)
    # append chain: name → list of (lo_ver, hi_ver, rows | None) entries
    # — each advances a reader at version lo to hi by appending rows (in
    # table field order) — or None once poisoned by a registration that
    # is not a proven append (``register``, the only poisoning rule). A
    # None entry records a content-preserving re-registration
    # (checkpoint / snapshot re-point). Two readers consume it through
    # ``deltas_since``, each from its own version (``chain_readers``):
    # Stream's localexec sqlite mirror advances by inserting the delta
    # rows, and persist_state writes them as an O(delta) incremental
    # snapshot. Pruning and folding (``_fold_chain``) keep every entry
    # and boundary a reader still needs: past _MIRROR_CHAIN_CAP entries
    # the oldest pair no reader sits between FOLDS into one entry
    # instead of dropping history — a mirror grown past
    # Stream._MIRROR_CAP cannot restage at all. A fold wider than
    # _MIRROR_FOLD_SPAN versions (a reader that stopped reading) cuts
    # the chain at the next reader instead.
    _mirror_chain: dict = field(default_factory=dict)
    _MIRROR_CHAIN_CAP = 64
    # widest fold, in versions; also the most rows an append-grown mirror
    # holds (Stream._MIRROR_CAP_APPEND reads this)
    _MIRROR_FOLD_SPAN = 16384
    # version at which the table was provably EMPTY (set by create): lets a
    # never-staged mirror bootstrap by replaying the full append chain from
    # an empty base instead of a take() over the grown table
    _mirror_base: dict = field(default_factory=dict)
    # versions the chain of a table is read from (set by Stream); a store
    # without readers keeps no history behind the current version
    chain_readers: Callable[[str], list] = lambda name: []
    # SQLite connection-state functions (last_insert_rowid / changes /
    # total_changes). Tracking costs one count job per DML statement, so it
    # is enabled only when module SQL actually references the functions
    # (Stream.provide_module detects; standalone executors flip it on first
    # reference).
    track_changes: bool = False
    last_rowid: int = 0
    changes: int = 0
    total_changes: int = 0
    # CREATE UNIQUE INDEX registry: index name → (flat table, column) for
    # plain single-column unique indexes. Like TableDef.unique_cols this is
    # compiler metadata (pooled-update key eligibility), kept separate so
    # DROP INDEX can retract exactly what the index declared.
    unique_indexes: dict = field(default_factory=dict)

    @property
    def tables(self) -> _Frames:
        """name → DataFrame; a read builds pending rows in (``frame``)."""
        return _Frames(self)

    def record_change(self, n: int, last_id: int | None = None) -> None:
        self.changes = int(n)
        self.total_changes += int(n)
        if last_id is not None:
            self.last_rowid = int(last_id)

    def view_name(self, table: str) -> str:
        return f"{self.view_prefix}{table}"

    def frame(self, name: str) -> DataFrame:
        """``name``'s DataFrame, its pending rows built in first."""
        if name in self._pending:
            self._build(name)
        return self._frames[name]

    def view(self, name: str) -> str:
        """``name``'s temp view name, the view rebuilt first when it
        misses pending rows."""
        if name in self._pending:
            self._build(name)
        return self.view_name(name)

    def _build(self, name: str) -> None:
        """Fold ``name``'s pending rows into its frame — one literal,
        unioned onto the frame or replacing it — and re-register the
        view. The content and version stay as they are."""
        schema, rows, replace = self._pending.pop(name)
        df = self._frames[name]
        if replace:
            df = arrow_local_df(self.spark, rows, schema)
            self._segments.pop(name, None)
        elif rows:
            df = df.unionByName(arrow_local_df(self.spark, rows, schema))
            self._add_segment(name)
        self._frames[name] = df
        df.createOrReplaceTempView(self.view_name(name))

    def _add_segment(self, name: str) -> None:
        """One more literal unioned onto ``name``'s frame: the
        literal-segment rule."""
        segs = self._segments.get(name, 0)
        if name not in self._dirty and segs < self._LITERAL_SEGMENT_CAP:
            self._segments[name] = segs + 1
        else:
            self._dirty.add(name)

    def _empty_df(self, schema: T.StructType) -> DataFrame:
        """Empty DataFrame with a pure-JVM plan. ``createDataFrame([],
        schema)`` parallelizes an empty PYTHON RDD, so every downstream
        action on a never-mutated table (e.g. the authorizer's bans
        EXISTS each commit) re-pays a Python-worker round trip (~100 ms)
        to scan nothing. Project-over-range(0) stays in whole-stage
        codegen; one slice so an evaluation is one empty task."""
        try:
            proj = [
                f"cast(null as {f.dataType.simpleString()}) as `{f.name}`"
                for f in schema.fields
            ]
            df = self.spark.range(0, 0, 1, 1).selectExpr(*proj)
            # nullability intentionally not compared: cast(null as t) is
            # nullable while declared schemas may carry NOT NULL — the
            # constraint is enforced by the insert path from TableDef,
            # never from the DataFrame schema
            assert [(f.name, f.dataType) for f in df.schema.fields] == [
                (f.name, f.dataType) for f in schema.fields
            ]
            return df
        except Exception:
            return self.spark.createDataFrame([], schema)

    def _bump(self, name: str) -> int:
        """Advance ``name``'s version. Consumers that cache derived state
        (localexec table mirrors) key on it — object identity would be
        GC-reusable, and restore()/clear_state re-register too. The
        chain is poisoned by default: every bump is assumed
        content-changing unless the caller (appended / appended_rows /
        reregister_preserving / replaced / restore) repairs it right
        after — the safe direction for ALTER/RENAME/ad-hoc callers
        that know nothing of readers."""
        ver = self._table_versions[name] = self._table_versions.get(name, 0) + 1
        self._mirror_chain[name] = None
        return ver

    def register(self, name: str, df: DataFrame) -> None:
        self._frames[name] = df
        self._pending.pop(name, None)
        self._bump(name)
        df.createOrReplaceTempView(self.view_name(name))

    def table_version(self, name: str) -> int:
        return self._table_versions.get(name, 0)

    def create(self, tdef: TableDef, if_not_exists: bool) -> None:
        if tdef.name in self.defs:
            if if_not_exists:
                return
            raise ValueError(f"table {tdef.name} already exists")
        self.defs[tdef.name] = tdef
        self.register(tdef.name, self._empty_df(tdef.schema))
        # a fresh empty table is a valid mirror base: the chain starts
        # here, so no reader of a DROPPED table under this name (a prior
        # snapshot's files) can chain onto it and resurrect its rows
        self._mirror_chain[tdef.name] = []
        self._mirror_base[tdef.name] = self._table_versions[tdef.name]

    def drop(self, name: str, if_exists: bool) -> None:
        if name not in self.defs:
            if if_exists:
                return
            raise ValueError(f"no such table {name}")
        del self.defs[name]
        self.forget(name)
        # indexes drop with their table (SQLite semantics)
        self.unique_indexes = {
            ix: tc for ix, tc in self.unique_indexes.items() if tc[0] != name
        }
        self._segments.pop(name, None)
        self.spark.catalog.dropTempView(self.view_name(name))

    def forget(self, name: str) -> None:
        """Drop ``name``'s frame and pending rows (DROP / RENAME)."""
        self._frames.pop(name, None)
        self._pending.pop(name, None)

    def known_tables(self) -> frozenset[str]:
        """Lowercased names of every managed table and view."""
        return frozenset(n.lower() for n in (*self.defs, *self.views))

    def unique_key_cols(self, name: str) -> set:
        """Lowercased columns of ``name`` with a declared single-column
        uniqueness guarantee (DDL UNIQUE + live CREATE UNIQUE INDEX)."""
        tdef = self.defs.get(name)
        cols = set(tdef.unique_cols) if tdef is not None else set()
        cols |= {c for (t, c) in self.unique_indexes.values() if t == name}
        return cols

    def mutated(self, name: str, df: DataFrame) -> None:
        self.register(name, df)  # not provably append-only: poisons
        self._dirty.add(name)

    def appended(self, name: str, df: DataFrame, delta: DataFrame) -> None:
        """Like ``mutated`` but for a PURE append: ``df`` is exactly the
        previous table unioned with ``delta``. The delta is proved literal
        once, here: a literal delta extends the append chain (its rows,
        read in process with no job) and, onto a clean table, skips
        the checkpoint (the literal-segment rule); any other delta
        restarts the chain at the new version (no reader positioned
        before it can advance past an unprovable delta)."""
        try:  # pure planning: analysis ran when the frame was built
            plan = delta._jdf.queryExecution().optimizedPlan()
            literal = _is_literal_plan(plan)
        except Exception:  # a plan that fails to optimize is not literal
            literal = False
        chain = self._mirror_chain.get(name)
        rows = None
        if literal and chain is not None:
            cols = self.defs[name].schema.fieldNames()
            rows = [tuple(r[c] for c in cols) for r in delta.collect()]
        self.register(name, df)  # poisons the chain; repaired just below
        ver = self._table_versions[name]
        if chain is not None:
            self._mirror_chain[name] = (
                self._fold_chain(name, [*chain, (ver - 1, ver, rows)])
                if literal
                else []
            )
        if literal:
            self._add_segment(name)
        else:
            self._dirty.add(name)

    def appended_rows(
        self, name: str, schema: T.StructType, rows: list[tuple]
    ) -> int:
        """Record ``rows`` (in ``schema`` field order) as appended to
        ``name`` and return the new version. Nothing reaches Spark: the
        rows wait in ``_pending`` for the table's next read. The chain
        gains them as one delta (a poisoned chain restarts at the new
        version, where the caller's reader already is)."""
        chain = self._mirror_chain.get(name)
        prev = self._pending.get(name)
        if prev is not None and (prev[1] or prev[2]):
            self._pending[name] = (schema, [*prev[1], *rows], prev[2])
        else:
            self._pending[name] = (schema, list(rows), False)
        ver = self._bump(name)
        self._mirror_chain[name] = (
            [] if chain is None
            else self._fold_chain(name, [*chain, (ver - 1, ver, list(rows))])
        )
        return ver

    def replaced_rows(
        self, name: str, schema: T.StructType, rows: list[tuple]
    ) -> int:
        """Record ``rows`` (in ``schema`` field order) as the whole new
        content of ``name`` — a result the mirror fold already computed
        — and return the new version. Nothing reaches Spark until the
        table's next read; nothing is left to evaluate, so the table is
        clean (``checkpoint_all`` runs no job for it). Not being an
        append, it restarts the chain at the new version, where the
        caller's reader already is."""
        self._pending[name] = (schema, list(rows), True)
        self._dirty.discard(name)
        self._segments.pop(name, None)
        ver = self._bump(name)
        self._mirror_chain[name] = []
        return ver

    def replaced(self, name: str, df: DataFrame) -> int:
        """Register ``df`` — the whole new content of ``name``, already
        evaluated (a read of snapshot files) — and return the new
        version; clean and restarting the chain like ``replaced_rows``."""
        self.register(name, df)
        self._dirty.discard(name)
        self._segments.pop(name, None)
        self._mirror_chain[name] = []
        return self._table_versions[name]

    def reregister_preserving(self, name: str, df: DataFrame) -> None:
        """Re-register ``df`` as the SAME content under a new plan
        (localCheckpoint / read-of-snapshot re-point): the version bumps,
        but a reader at the previous version is still exact — the chain
        records a no-op entry instead of poisoning. A poisoned chain
        restarts here: the content at the new version is settled, so a
        reader positioned at it can follow later appends."""
        chain = self._mirror_chain.get(name)
        self.register(name, df)
        self._segments.pop(name, None)  # the new plan has no literal unions
        ver = self._table_versions[name]
        self._mirror_chain[name] = (
            [] if chain is None
            else self._fold_chain(name, [*chain, (ver - 1, ver, None)])
        )

    def _fold_chain(self, name: str, chain: list) -> list | None:
        """Prune the entries below every reader, then bound chain length
        by FOLDING the oldest pair of entries no reader sits between
        (their rows concatenate) instead of dropping history. A fold
        wider than _MIRROR_FOLD_SPAN versions cuts the chain at the next
        reader above it, so only the readers below that one read None (a
        snapshot rewrites in full, a mirror restages); with no reader
        above, the chain is poisoned (None)."""
        cur = self.table_version(name)
        start = chain[0][0] if chain else cur
        # a reader below the chain's start has lost its path already
        readers = {p for p in self.chain_readers(name) if p >= start}
        chain = [e for e in chain if e[1] > min(readers, default=cur)]
        while len(chain) > self._MIRROR_CHAIN_CAP:
            # the few readers leave most of the > CAP boundaries free
            i = next(i for i, e in enumerate(chain[:-1]) if e[1] not in readers)
            (l1, _, d1), (_, h2, d2) = chain[i], chain[i + 1]
            if h2 - l1 > self._MIRROR_FOLD_SPAN:
                cut = min((p for p in readers if p > l1), default=None)
                if cut is None:
                    return None
                chain = [e for e in chain if e[0] >= cut]
                continue
            rows = d1 if d2 is None else d2 if d1 is None else d1 + d2
            chain[i : i + 2] = [(l1, h2, rows)]
        return chain

    def synced(self, name: str) -> None:
        """A reader of ``name``'s chain moved (see ``chain_readers``):
        drop the entries no reader can consume any more, so the fold
        bound is spent on live history, not dead."""
        chain = self._mirror_chain.get(name)
        if chain:
            self._mirror_chain[name] = self._fold_chain(name, chain)

    def mirror_base(self, name: str) -> int | None:
        """Version at which ``name`` was empty (its CREATE), if known."""
        return self._mirror_base.get(name)

    def deltas_since(self, name: str, since_ver: int | None):
        """Row lists (table field order) that advance a reader at
        ``since_ver`` to the current version, or None when not provable
        (no position, poisoned chain, or history folded/restarted past
        the reader). [] means only no-op re-registrations happened."""
        chain = self._mirror_chain.get(name)
        if chain is None or since_ver is None:
            return None
        pos = since_ver
        out = []
        for lo, hi, d in chain:
            if hi <= pos:
                continue  # already consumed (pruned lazily)
            if lo != pos:
                # lo > pos: gap (history folded/trimmed past the reader);
                # lo < pos: the entry STRADDLES the reader's version — its
                # folded delta contains rows the reader already holds
                return None
            pos = hi
            if d is not None:  # None: content-preserving re-registration
                out.append(d)
        if pos != self.table_version(name):
            return None  # chain does not reach the current version
        return out

    def checkpoint_all(self) -> None:
        """Materialize (and lineage-truncate) every dirty table. Untouched
        tables are already evaluated — re-checkpointing them would cost
        O(table) per batch for nothing — and so are clean tables grown by
        literal appends (a checkpointed base ∪ at most
        ``_LITERAL_SEGMENT_CAP`` LocalRelations) and tables whose rows
        wait in ``_pending``: an interactive commit whose fold only
        appends literal rows runs no job here."""
        for name in sorted(self._dirty):
            if name in self._frames:
                self.reregister_preserving(
                    name, self.frame(name).localCheckpoint(eager=True)
                )
        self._dirty.clear()

    def state_tables(self) -> list[str]:
        return [n for n, d in self.defs.items() if d.is_state]

    # -- transactional snapshot (rollback support for event-batch folds) -----

    def snapshot(self) -> tuple:
        return (
            dict(self.defs),
            dict(self._frames),
            dict(self._pending),
            dict(self.views),
            dict(self.triggers),
            (self.last_rowid, self.changes, self.total_changes),
            # commit bookkeeping, restored as-is: the reinstated tables are
            # the same DataFrame objects, so it stays exact for them
            (
                set(self._dirty),
                dict(self._segments),
                dict(self._table_versions),
                {
                    n: c if c is None else list(c)
                    for n, c in self._mirror_chain.items()
                },
                dict(self._mirror_base),
            ),
        )

    def restore(self, snap) -> None:
        """Restore a snapshot taken before a failed fold: drop tables/views
        created since (incl. their temp views), then reinstate the saved
        frames and pending rows with the dirty set, literal-segment
        counts and mirror chains they had at snapshot time. A table whose
        frame, pending rows and version are all unchanged is left as it
        is — a batch rejected before its fold touches nothing — and a
        reinstated one rebuilds its view on its next read."""
        defs, frames, pending, views, triggers, counters, marks = snap
        dirty, segments, versions, chains, bases = marks
        self.last_rowid, self.changes, self.total_changes = counters
        self._dirty = set(dirty)
        self._segments = dict(segments)
        self._mirror_base = dict(bases)
        self.triggers = dict(triggers)
        for gone in set(self._frames) - set(frames):
            self.forget(gone)
            self.defs.pop(gone, None)
            try:
                self.spark.catalog.dropTempView(self.view_name(gone))
            except Exception:
                pass
        for gone_v in set(self.views) - set(views):
            try:
                self.spark.catalog.dropTempView(self.view_name(gone_v))
            except Exception:
                pass
        self.defs = dict(defs)
        self.views = dict(views)
        for name, df in frames.items():
            if (
                self._frames.get(name) is df
                and self._pending.get(name) is pending.get(name)
                and self._table_versions.get(name) == versions.get(name)
            ):
                continue
            self._frames[name] = df
            self._pending[name] = pending.get(name) or (None, [], False)
            self._bump(name)
            chain = chains.get(name)
            if chain is not None and name in versions:
                # the restored version holds exactly the snapshot-time
                # content: a no-op entry bridges the two, so deltas
                # recorded during the failed fold never reach a reader. A
                # mirror staged mid-fold straddles it and restages (the
                # safe direction).
                self._mirror_chain[name] = self._fold_chain(
                    name,
                    [*chain, (versions[name], self._table_versions[name], None)],
                )


# ---------------------------------------------------------------------------
# Statement execution
# ---------------------------------------------------------------------------


def run_sql(spark: SparkSession, sql: str, views: dict[str, str] | None = None) -> DataFrame | None:
    """Run one SQLite-dialect statement — including WITH RECURSIVE — over
    already-registered temp views (logical name → view name). Ad-hoc entry
    point used by the query catalog; module SQL goes through Stream."""
    import hashlib as _hashlib

    prefix = "adhoc_" + _hashlib.sha1(sql.encode()).hexdigest()[:8] + "_"
    store = TableStore(spark, prefix)
    return DmlExecutor(store, dict(views or {})).execute(sql)


class DmlExecutor:
    """Executes one translated module statement against a TableStore.

    ``sql_args`` are named parameters for spark.sql; ``extra_views`` maps
    logical names (``event``, ``events``) to already-registered view names,
    or to an idempotent callable that registers the view and returns its
    name — called only when a statement references the name, so a fold
    whose statements never reach Spark stages no event frame.
    """

    def __init__(self, store: TableStore, extra_views: dict | None = None):
        self.store = store
        self.extra_views = extra_views or {}
        # SQLite-dialect error semantics (1/0 → NULL, invalid cast → NULL)
        # regardless of which session the caller built; runtime-settable
        self.store.spark.conf.set("spark.sql.ansi.enabled", "false")
        # The full query-fn allowlist (leaf-stream/src/lib.rs:1104-1110) must
        # EXECUTE through this path, not just authorize — json_set/json_patch
        # and drisl_* are session UDFs, so register them here too, not only
        # at stream open (registration is idempotent).
        from .sqlcompat import register_json_udfs

        register_json_udfs(self.store.spark)
        from . import drisl as _drisl

        _drisl.register_udfs(self.store.spark)

    # -- name mapping --------------------------------------------------------

    def _map_names(self, sql: str) -> str:
        """Map logical table names to per-stream temp-view names."""
        toks = tokenize(sql)
        known = set(self.store.defs) | set(self.store.views) | set(self.extra_views)
        out = []
        for i, t in enumerate(toks):
            if (
                _is_word(t)
                and (low := t.lower()) in known
                and (i == 0 or toks[i - 1] != ".")
                and (i + 1 >= len(toks) or toks[i + 1] != "(")
            ):
                if low in self.extra_views:
                    view = self.extra_views[low]
                    out.append(view if isinstance(view, str) else view())
                else:
                    out.append(self.store.view(low))
            else:
                out.append(t)
        return _j(out)

    def _sql(self, sql: str, args: dict | None) -> DataFrame:
        self._materialize_views()
        mapped = self._map_names(sql)
        try:
            return self.store.spark.sql(mapped, args=args or {})
        except Exception as e:
            # SQLite filters accept numeric truthiness (WHERE
            # drisl_exists(p, '.k')); Spark demands BOOLEAN. Retry once
            # with every WHERE/HAVING coerced — retry-only so boolean
            # filters keep their pushdown-able conjunct form. A prefix
            # NOT over a numeric operand raises DATATYPE_MISMATCH (not
            # FILTER_NOT_BOOLEAN); the coercion rewrites those too.
            msg = str(e)
            if "FILTER_NOT_BOOLEAN" not in msg and not (
                "DATATYPE_MISMATCH" in msg and '"BOOLEAN"' in msg
            ):
                raise
            return self.store.spark.sql(
                sqlcompat.coerce_filter_truthiness(mapped), args=args or {}
            )

    def _materialize_views(self) -> None:
        for name, vsql in self.store.views.items():
            df = self.store.spark.sql(self._map_names(vsql))
            df.createOrReplaceTempView(self.store.view_name(name))

    # -- entry point ---------------------------------------------------------

    def execute(
        self,
        raw_sql: str,
        args: dict | None = None,
        is_state: bool = False,
        _translated: bool = False,
    ):
        """Execute one raw SQLite-dialect statement. Returns a DataFrame for
        SELECTs, None otherwise."""
        info = sqlcompat.classify(raw_sql)
        sql = raw_sql if _translated else sqlcompat.translate(raw_sql)
        sql = self._sub_connection_fns(sql)
        toks = tokenize(sql)
        if (
            len(toks) >= 2
            and _is_word(toks[0])
            and toks[0].lower() == "with"
            and _is_word(toks[1])
            and toks[1].lower() == "recursive"
        ):
            # SQLite allows WITH RECURSIVE in module SQL (authorizer action
            # Recursive, leaf-stream/src/lib.rs:1024); Spark SQL has no
            # recursive CTE → route to the driver-side fixpoint operator.
            return self._with_recursive(toks, args, is_state)
        kind = info.kind
        if kind == "select":
            return self._sql(sql, args)
        if kind == "create_table":
            self._create_table(raw_sql, is_state)
            return None
        if kind == "create_index":
            # no Spark analog for the index itself (partitioning/
            # file-skipping instead), but a UNIQUE index declares key
            # metadata the fold compiler uses — record it
            self._register_unique_index(raw_sql)
            return None
        if kind == "create_view":
            self._create_view(sql)
            return None
        if kind == "create_trigger":
            self._create_trigger(raw_sql)
            return None
        if kind == "drop":
            name = flat_name(info.target or "")
            toks = [t.lower() for t in tokenize(raw_sql) if _is_word(t)]
            if "table" in toks:
                self.store.drop(name, if_exists="if" in toks)
            elif "view" in toks:
                self.store.views.pop(name, None)
            elif "index" in toks:
                self.store.unique_indexes.pop(name, None)
            elif "trigger" in toks:
                if name not in self.store.triggers and "if" not in toks:
                    raise SqlTranslationError(f"no such trigger {name}")
                self.store.triggers.pop(name, None)
            return None
        if kind == "alter":
            self._alter(raw_sql)
            return None
        if kind in ("insert", "update", "delete"):
            body, returning = self._split_returning(toks)
            affected = {
                "insert": self._insert,
                "update": self._update,
                "delete": self._delete,
            }[kind](_j(body), args)
            if returning is None:
                return None
            # SQLite RETURNING: rows the statement actually touched —
            # inserted (post-image), updated (post-image), deleted
            # (pre-image); exprs evaluate over those rows. The target-table
            # qualifier is stripped (the affected rows carry bare columns).
            tgt = flat_name(info.target or "")
            cleaned = []
            for expr in returning:
                etoks = tokenize(expr)
                out: list[str] = []
                i = 0
                while i < len(etoks):
                    if (
                        _is_word(etoks[i])
                        and etoks[i].lower() == tgt
                        and i + 1 < len(etoks)
                        and etoks[i + 1] == "."
                    ):
                        i += 2
                    else:
                        out.append(etoks[i])
                        i += 1
                cleaned.append(_j(out))
            return affected.selectExpr(*cleaned)
        head = toks[0].lower() if toks and _is_word(toks[0]) else ""
        if head in ("reindex", "analyze", "vacuum", "pragma"):
            # SQLite maintenance statements the reference authorizer allows
            # (Reindex/Analyze, leaf-stream/src/lib.rs:1021-1022): no Spark
            # analog — accepted as no-ops
            return None
        raise SqlTranslationError(f"unsupported statement: {raw_sql[:80]}")

    @staticmethod
    def _split_returning(toks: list[str]) -> tuple[list[str], list[str] | None]:
        """Split a top-level RETURNING clause off a DML statement; returns
        (body tokens, list of returning expressions or None)."""
        for i in top_level(toks):
            if toks[i].lower() == "returning":
                tail = toks[i + 1 :]
                if tail == ["*"]:
                    return toks[:i], ["*"]
                arg_lists, _ = _find_args(["(", *tail, ")"], 0)
                return toks[:i], [_j(a) for a in arg_lists]
        return toks, None

    # -- SQLite connection-state functions ------------------------------------

    _CONN_FNS = ("last_insert_rowid", "changes", "total_changes")

    def _sub_connection_fns(self, sql: str) -> str:
        """Replace last_insert_rowid()/changes()/total_changes() with their
        current values (SQLite evaluates them against the statement history
        of the connection — here, the per-(stream, module) TableStore).
        First reference turns tracking on; counts accrue from then on."""
        if not any(fn in sql for fn in self._CONN_FNS):
            return sql
        toks = tokenize(sql)
        out: list[str] = []
        i = 0
        while i < len(toks):
            t = toks[i]
            if (
                _is_word(t)
                and t.lower() in self._CONN_FNS
                and i + 2 < len(toks)
                and toks[i + 1] == "("
                and toks[i + 2] == ")"
            ):
                self.store.track_changes = True
                val = {
                    "last_insert_rowid": self.store.last_rowid,
                    "changes": self.store.changes,
                    "total_changes": self.store.total_changes,
                }[t.lower()]
                out.append(str(val))
                i += 3
            else:
                out.append(t)
                i += 1
        return _j(out)

    def _record_insert(self, tdef: TableDef, inserted: DataFrame, extra: int = 0) -> None:
        if not self.store.track_changes:
            return
        pk = int_pk(tdef)
        if pk:
            row = inserted.agg(
                F.count(F.lit(1)).alias("n"), F.max(pk).alias("m")
            ).first()
            self.store.record_change(row["n"] + extra, row["m"])
        else:
            self.store.record_change(inserted.count() + extra)

    # -- ALTER TABLE ---------------------------------------------------------

    def _alter(self, raw_sql: str) -> None:
        """SQLite ALTER TABLE: RENAME TO, RENAME [COLUMN] a TO b,
        ADD [COLUMN] coldef [DEFAULT lit], DROP [COLUMN] c — schema-registry
        ops plus a projection over the managed DataFrame (reference
        authorizer allows AlterTable, leaf-stream/src/lib.rs:1020)."""
        toks = tokenize(raw_sql)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        i = lows.index("table") + 1
        if i + 2 < len(toks) and toks[i + 1] == ".":
            db, base = lows[i], lows[i + 2]
            name = base if db == "main" else f"{db}_{base}"
            i += 3
        else:
            name = lows[i]
            i += 1
        if name not in self.store.defs:
            raise SqlTranslationError(f"alter unknown table {name}")
        tdef = self.store.defs[name]
        op = lows[i]
        i += 1
        if op == "rename" and lows[i] == "to":
            new = lows[i + 1]
            self._rename_table(name, new)
            return
        if op == "rename":
            if lows[i] == "column":
                i += 1
            old_c, new_c = lows[i], lows[i + 2]  # a TO b
            if lows[i + 1] != "to":
                raise SqlTranslationError("expected TO in RENAME COLUMN")
            fields = [
                T.StructField(new_c if f.name == old_c else f.name, f.dataType, f.nullable)
                for f in tdef.schema.fields
            ]
            tdef.schema = T.StructType(fields)
            tdef.primary_key = tuple(
                new_c if k == old_c else k for k in tdef.primary_key
            )
            self.store.register(name, self.store.tables[name].withColumnRenamed(old_c, new_c))
            self.store._dirty.add(name)
            return
        if op == "add":
            if lows[i] == "column":
                i += 1
            col = lows[i]
            styp = lows[i + 1] if i + 1 < len(lows) and _is_word(toks[i + 1]) else "any"
            dtype = _SQLITE_TYPE_MAP.get(styp, T.StringType())
            default_sql = "null"
            if "default" in lows[i:]:
                d = lows.index("default", i)
                default_sql = _j(toks[d + 1 :])
            tdef.schema = T.StructType(
                [*tdef.schema.fields, T.StructField(col, dtype, True)]
            )
            if default_sql != "null":
                tdef.defaults[col] = default_sql
            df = self.store.tables[name].withColumn(
                col, F.expr(default_sql).cast(dtype)
            )
            self.store.register(name, df)
            self.store._dirty.add(name)
            return
        if op == "drop":
            if lows[i] == "column":
                i += 1
            col = lows[i]
            if col in tdef.primary_key:
                raise SqlTranslationError(f"cannot drop primary-key column {col}")
            tdef.schema = T.StructType(
                [f for f in tdef.schema.fields if f.name != col]
            )
            self.store.register(name, self.store.tables[name].drop(col))
            self.store._dirty.add(name)
            return
        raise SqlTranslationError(f"unsupported ALTER TABLE operation {op!r}")

    def _rename_table(self, old: str, new: str) -> None:
        if new in self.store.defs:
            raise SqlTranslationError(f"table {new} already exists")
        tdef = self.store.defs.pop(old)
        tdef.name = new
        df = self.store.tables[old]
        self.store.forget(old)
        try:
            self.store.spark.catalog.dropTempView(self.store.view_name(old))
        except Exception:
            pass
        self.store.defs[new] = tdef
        self.store.register(new, df)
        if old in self.store._dirty:
            self.store._dirty.discard(old)
            self.store._dirty.add(new)
        if old in self.store._segments:
            self.store._segments[new] = self.store._segments.pop(old)
        for tg in self.store.triggers.values():
            if tg.table == old:
                tg.table = new

    # -- WITH RECURSIVE ------------------------------------------------------

    def _with_recursive(self, toks: list[str], args: dict | None, is_state: bool):
        """Evaluate ``WITH RECURSIVE name [(cols)] AS (base UNION [ALL]
        step) [, more_ctes…] <main statement>``.

        Each self-referencing CTE becomes an operators.recursive fixpoint
        (base ∪ stepⁿ, distributed per iteration); non-self-referencing CTEs
        in the same WITH list evaluate once. The main statement then runs
        with every CTE bound as a temp view — it may be a SELECT (named
        queries) or DML (materializer use)."""
        from .operators.recursive import recursive_cte

        lows = [t.lower() if _is_word(t) else t for t in toks]
        i = 2
        extra = dict(self.extra_views)
        while True:
            if not _is_word(toks[i]):
                raise SqlTranslationError("expected CTE name in WITH RECURSIVE")
            name = lows[i]
            i += 1
            cols: list[str] | None = None
            if i < len(toks) and toks[i] == "(":
                close = close_paren(toks, i)
                cols = [t.lower() for t in toks[i + 1 : close] if _is_word(t)]
                i = close + 1
            if i >= len(toks) or lows[i] != "as":
                raise SqlTranslationError("expected AS in WITH RECURSIVE")
            i += 1
            if i >= len(toks) or toks[i] != "(":
                raise SqlTranslationError("expected ( after AS")
            close = close_paren(toks, i)
            if close >= len(toks):
                raise SqlTranslationError("unbalanced parentheses")
            body = toks[i + 1 : close]
            i = close + 1
            vname = f"{self.store.view_prefix}cte_{name}"
            df = self._eval_cte(name, cols, body, extra, vname, args, recursive_cte)
            df.createOrReplaceTempView(vname)
            extra[name] = vname
            if i < len(toks) and toks[i] == ",":
                i += 1
                continue
            break
        main = _j(toks[i:])
        return DmlExecutor(self.store, extra).execute(
            main, args=args, is_state=is_state, _translated=True
        )

    def _eval_cte(self, name, cols, body, extra, vname, args, fixpoint):
        lows = [t.lower() if _is_word(t) else t for t in body]
        self_ref = any(
            _is_word(t)
            and lows[k] == name
            and (k == 0 or body[k - 1] != ".")
            and (k + 1 >= len(body) or body[k + 1] != "(")
            for k, t in enumerate(body)
        )
        sub = DmlExecutor(self.store, extra)
        if not self_ref:
            df = sub._sql(_j(body), args)
            return df.toDF(*cols) if cols else df
        # split base | step at the first top-level UNION [ALL]
        u = next((k for k in top_level(body) if lows[k] == "union"), None)
        if u is None:
            raise SqlTranslationError(
                f"recursive CTE {name} has no top-level UNION"
            )
        union_all = u + 1 < len(body) and lows[u + 1] == "all"
        base = sub._sql(_j(body[:u]), args)
        if cols:
            base = base.toDF(*cols)
        out_cols = base.columns
        step_sql = _j(body[u + (2 if union_all else 1) :])
        step_exec = DmlExecutor(self.store, {**extra, name: vname})

        def step(frontier: DataFrame) -> DataFrame:
            frontier.createOrReplaceTempView(vname)
            return step_exec._sql(step_sql, args).toDF(*out_cols)

        return fixpoint(base, step, union_all=union_all)

    # -- CREATE TABLE --------------------------------------------------------

    def _create_table(self, raw_sql: str, is_state: bool) -> None:
        toks = tokenize(raw_sql)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        if_not_exists = "if" in lows and "exists" in lows
        # name = token before the first '('
        open_idx = toks.index("(")
        # flattened name: handle db.name
        if toks[open_idx - 2] == "." if open_idx >= 2 else False:
            db = lows[open_idx - 3]
            base = lows[open_idx - 1]
            name = base if db == "main" else f"{db}_{base}"
            if db == "state":
                is_state = True
        else:
            name = lows[open_idx - 1]
            if name.startswith("state_"):
                is_state = True
        args, _close = _find_args(toks, open_idx)
        fields: list[T.StructField] = []
        pk: list[str] = []
        defaults: dict[str, str] = {}
        unique_cols: set[str] = set()
        for col_toks in args:
            cl = [t.lower() if _is_word(t) else t for t in col_toks]
            if not col_toks:
                continue
            head = cl[0]
            if head in ("primary", "unique", "check", "foreign", "constraint"):
                if head == "primary":  # table-level PRIMARY KEY (a, b)
                    p = col_toks.index("(") if "(" in col_toks else None
                    if p is not None:
                        key_args, _ = _find_args(col_toks, p)
                        pk.extend(a[0].lower() for a in key_args if a)
                elif head == "unique":  # table-level UNIQUE (a[, b…])
                    p = col_toks.index("(") if "(" in col_toks else None
                    if p is not None:
                        key_args, _ = _find_args(col_toks, p)
                        # only a ONE-column constraint makes that column
                        # individually unique
                        if len(key_args) == 1 and len(key_args[0]) == 1:
                            unique_cols.add(key_args[0][0].lower())
                continue
            col = head
            styp = cl[1] if len(cl) > 1 and _is_word(col_toks[1]) else "any"
            dtype = _SQLITE_TYPE_MAP.get(styp, T.StringType())
            nullable = "not" not in cl or "null" not in cl
            if "primary" in cl and "key" in cl:
                pk.append(col)
                nullable = False
            elif "unique" in cl:
                unique_cols.add(col)
            if "default" in cl:
                d = cl.index("default")
                if d + 1 < len(col_toks) and col_toks[d + 1] == "(":
                    dargs, dclose = _find_args(col_toks, d + 1)
                    defaults[col] = _j(dargs[0]) if dargs else "null"
                elif d + 2 < len(col_toks) and col_toks[d + 1] in ("+", "-"):
                    defaults[col] = col_toks[d + 1] + col_toks[d + 2]
                elif d + 1 < len(col_toks):
                    defaults[col] = col_toks[d + 1]
            fields.append(T.StructField(col, dtype, nullable))
        tdef = TableDef(
            name, T.StructType(fields), tuple(pk), is_state, defaults,
            unique_cols,
        )
        self.store.create(tdef, if_not_exists)

    def _register_unique_index(self, raw_sql: str) -> None:
        """Record ``CREATE UNIQUE INDEX [IF NOT EXISTS] ix ON t(col)`` as
        single-column uniqueness metadata. Conservative: multi-column,
        expression, COLLATE'd, and partial (WHERE) indexes declare nothing
        (a pooled-update key needs plain-equality uniqueness)."""
        try:
            toks = tokenize(raw_sql)
            lows = [t.lower() if _is_word(t) else t for t in toks]
            if "unique" not in lows[:3] or "on" not in lows:
                return
            i = lows.index("index") + 1
            while i < len(lows) and lows[i] in ("if", "not", "exists"):
                i += 1
            ix_name = lows[i]
            raw, j = qualified_name(toks, lows.index("on", i) + 1)
            flat = flat_name(raw)
            if j >= len(toks) or toks[j] != "(":
                return
            key_args, close = _find_args(toks, j)
            if close + 1 < len(toks):  # partial index (WHERE …) etc.
                return
            if len(key_args) != 1:
                return
            col = key_args[0]
            cl = [t.lower() if _is_word(t) else t for t in col]
            if not (_is_word(col[0]) and cl[1:] in ([], ["asc"], ["desc"])):
                return
            tdef = self.store.defs.get(flat)
            if tdef is None or cl[0] not in {
                f.name.lower() for f in tdef.schema.fields
            }:
                return
            self.store.unique_indexes[ix_name] = (flat, cl[0])
        except Exception:
            return

    def _create_view(self, sql: str) -> None:
        toks = tokenize(sql)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        as_idx = lows.index("as")
        name = lows[as_idx - 1]
        self.store.views[name] = _j(toks[as_idx + 1 :])

    # -- CREATE TRIGGER ------------------------------------------------------

    def _create_trigger(self, raw_sql: str) -> None:
        """CREATE TRIGGER [IF NOT EXISTS] name [BEFORE|AFTER]
        (INSERT|UPDATE [OF cols]|DELETE) ON tbl [FOR EACH ROW] [WHEN expr]
        BEGIN stmt; … END"""
        toks = tokenize(raw_sql)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        i = lows.index("trigger") + 1
        if_not_exists = False
        while lows[i] in ("if", "not", "exists"):
            if_not_exists = True
            i += 1
        name = lows[i]
        i += 1
        timing = "after"  # SQLite default when omitted
        if lows[i] in ("before", "after"):
            timing = lows[i]
            i += 1
        elif lows[i] == "instead":
            raise SqlTranslationError("INSTEAD OF triggers are not supported")
        op = lows[i]
        if op not in ("insert", "update", "delete"):
            raise SqlTranslationError(f"unsupported trigger operation {op!r}")
        i += 1
        if op == "update" and i < len(lows) and lows[i] == "of":
            while lows[i] != "on":
                i += 1
        if lows[i] != "on":
            raise SqlTranslationError("expected ON <table> in CREATE TRIGGER")
        i += 1
        # flatten db-qualified table name like _create_table
        if i + 2 < len(toks) and toks[i + 1] == ".":
            db, base = lows[i], lows[i + 2]
            table = base if db == "main" else f"{db}_{base}"
            i += 3
        else:
            table = lows[i]
            i += 1
        if lows[i : i + 3] == ["for", "each", "row"]:
            i += 3
        when_sql = None
        begin_idx = lows.index("begin", i)
        if lows[i] == "when":
            when_sql = _j(toks[i + 1 : begin_idx])
        body = trigger_body(toks, lows, begin_idx)
        if name in self.store.triggers and if_not_exists:
            return
        if name in self.store.triggers:
            raise SqlTranslationError(f"trigger {name} already exists")
        self.store.triggers[name] = TriggerDef(name, timing, op, table, when_sql, body)

    def _fire_triggers(
        self,
        timing: str,
        op: str,
        table: str,
        new_df: DataFrame | None,
        old_df: DataFrame | None,
        args: dict | None,
        paired_df: DataFrame | None = None,
    ) -> None:
        """Run matching trigger bodies set-wise over the affected-row views.

        ``new``/``old`` are registered as temp views of the affected batch;
        for UPDATE both come from one row-paired projection, so a body (or
        WHEN) referencing both via the paired rewrite sees consistent rows.
        Triggers do not fire triggers (SQLite's recursive_triggers=off
        default)."""
        if getattr(self, "_suppress_triggers", False):
            return
        trigs = [
            t
            for t in self.store.triggers.values()
            if t.table == table and t.op == op and t.timing == timing
        ]
        if not trigs:
            return
        pfx = self.store.view_prefix
        F_ = F
        for tg in trigs:
            fire_extra = dict(self.extra_views)
            paired_view = None
            if op == "update":
                # row-paired projection: old columns plain, new as __new__c —
                # WHEN and both-role VALUES rewrites see consistent rows
                p = paired_df
                if tg.when_sql:
                    when = sqlcompat.translate(tg.when_sql)
                    wtoks = tokenize(when)
                    wl = [t.lower() if _is_word(t) else t for t in wtoks]
                    out, k = [], 0
                    while k < len(wtoks):
                        if (
                            wl[k] in ("new", "old")
                            and k + 2 < len(wtoks) + 1
                            and k + 1 < len(wtoks)
                            and wtoks[k + 1] == "."
                        ):
                            col = wtoks[k + 2].lower()
                            out.append(col if wl[k] == "old" else f"__new__{col}")
                            k += 3
                        else:
                            out.append(wtoks[k])
                            k += 1
                    p = p.where(F_.expr(self._map_names(_j(out))))
                if p.isEmpty():
                    continue
                paired_view = f"{pfx}__trig_pair_{tg.name}__"
                p.createOrReplaceTempView(paired_view)
                old_cols = [c for c in p.columns if not c.startswith("__new__")]
                ovn = f"{pfx}__trig_old_{tg.name}__"
                nvn = f"{pfx}__trig_new_{tg.name}__"
                p.select(*old_cols).createOrReplaceTempView(ovn)
                p.select(
                    *[F_.col(f"__new__{c}").alias(c) for c in old_cols]
                ).createOrReplaceTempView(nvn)
                fire_extra["old"] = ovn
                fire_extra["new"] = nvn
            else:
                primary_role = "old" if op == "delete" else "new"
                primary_df = old_df if op == "delete" else new_df
                if tg.when_sql:
                    when = sqlcompat.translate(tg.when_sql)
                    vtmp = f"{pfx}__trig_src_{tg.name}__"
                    primary_df.createOrReplaceTempView(vtmp)
                    primary_df = self.store.spark.sql(
                        self._map_names(
                            f"select {primary_role}.* from {vtmp} as {primary_role} "
                            f"where {when}"
                        ),
                        args=args or {},
                    )
                if primary_df.isEmpty():
                    continue
                vname = f"{pfx}__trig_{primary_role}_{tg.name}__"
                primary_df.createOrReplaceTempView(vname)
                fire_extra[primary_role] = vname
            body_exec = DmlExecutor(self.store, fire_extra)
            body_exec._suppress_triggers = True
            for stmt in tg.body:
                body_exec.execute(
                    self._rewrite_trigger_values(stmt, fire_extra, paired_view),
                    args=args,
                )

    @staticmethod
    def _rewrite_trigger_values(
        stmt: str, extra: dict[str, str], paired_view: str | None
    ) -> str:
        """``INSERT … VALUES (new.x, …)`` is per-row in SQLite; the set-wise
        equivalent is ``INSERT … SELECT new.x, … FROM new`` (or old). A
        VALUES tuple referencing BOTH roles (UPDATE triggers) selects from
        the row-paired view, where old columns keep their names and new
        values live under ``__new__<col>``. Statements that reference
        new/old only inside subqueries run unchanged."""
        toks = tokenize(stmt)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        if lows[:1] != ["insert"] or "values" not in lows:
            return stmt
        v = lows.index("values")
        refs = {
            lows[k]
            for k in range(v, len(toks) - 1)
            if lows[k] in ("new", "old") and toks[k + 1] == "."
        }
        refs &= set(extra) | ({"new", "old"} if paired_view else set())
        if not refs:
            return stmt
        if "(" not in toks[v:]:
            return stmt
        vargs, _close = _find_args(toks, v + toks[v:].index("("))
        head = _j(toks[:v])
        if len(refs) == 2:
            if paired_view is None:
                raise SqlTranslationError(
                    "trigger body VALUES references both new and old outside "
                    "an UPDATE trigger"
                )
            # token-rewrite against the paired projection
            out_args = []
            for a in vargs:
                al = [t.lower() if _is_word(t) else t for t in a]
                out, k = [], 0
                while k < len(a):
                    if al[k] in ("new", "old") and k + 2 < len(a) + 1 and k + 1 < len(a) and a[k + 1] == ".":
                        col = a[k + 2].lower()
                        out.append(col if al[k] == "old" else f"__new__{col}")
                        k += 3
                    else:
                        out.append(a[k])
                        k += 1
                out_args.append(_j(out))
            return f"{head} select {', '.join(out_args)} from {paired_view}"
        role = refs.pop()
        exprs = ", ".join(_j(a) for a in vargs)
        return f"{head} select {exprs} from {role}"

    # -- INSERT (incl. upsert) ----------------------------------------------

    _ON_CONFLICT_RE = re.compile(r"\bon\s+conflict\b", re.IGNORECASE)

    def _insert(self, sql: str, args: dict | None) -> "DataFrame":
        toks = tokenize(sql)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        conflict_at = on_conflict_at(toks, lows)
        body, conflict = (toks[:conflict_at], toks[conflict_at:]) if conflict_at >= 0 else (toks, None)
        lows_b = [t.lower() if _is_word(t) else t for t in body]

        into = lows_b.index("into")
        # INSERT OR REPLACE / OR IGNORE / bare REPLACE INTO (SQLite conflict
        # clauses) — emulated as PK upserts below
        head_words = lows_b[:into]
        or_replace = "replace" in head_words
        or_ignore = "ignore" in head_words
        name = lows_b[into + 1]
        j = into + 2
        cols: list[str] | None = None
        if j < len(body) and body[j] == "(":
            col_args, close = _find_args(body, j)
            cols = [a[0].lower() for a in col_args]
            j = close + 1
        if name not in self.store.defs:
            raise SqlTranslationError(f"insert into unknown table {name}")
        tdef = self.store.defs[name]
        target_cols = cols or [f.name for f in tdef.schema.fields]
        if conflict is None and (or_replace or or_ignore) and tdef.primary_key:
            # synthesize the equivalent upsert clause. Divergence note:
            # SQLite's REPLACE is delete-then-insert (fires delete+insert
            # triggers); this emulation updates in place (fires update
            # triggers for existing keys) — same resulting rows.
            if or_ignore:
                conflict = tokenize("on conflict do nothing")
            else:
                non_keys = [
                    f.name
                    for f in tdef.schema.fields
                    if f.name not in tdef.primary_key
                ]
                if non_keys:
                    sets = ", ".join(f"{c} = excluded.{c}" for c in non_keys)
                    conflict = tokenize(f"on conflict do update set {sets}")
                else:
                    conflict = tokenize("on conflict do nothing")

        src_sql = _j(body[j:])
        any_null_pk = False
        auto_pk = int_pk(tdef)
        if src_sql.lower().startswith("values"):
            vtoks = tokenize(src_sql)
            k = 1
            selects = []
            pk_pos = (
                target_cols.index(auto_pk)
                if auto_pk and auto_pk in target_cols
                else None
            )
            while k < len(vtoks):
                if vtoks[k] == "(":
                    vargs, close = _find_args(vtoks, k)
                    if pk_pos is not None and pk_pos < len(vargs):
                        if _j(vargs[pk_pos]).strip().lower() == "null":
                            any_null_pk = True
                    exprs = [f"{_j(a)} as {c}" for a, c in zip(vargs, target_cols)]
                    # tuple position as __ord__: multi-tuple upserts keep
                    # SQLite's last-tuple-wins conflict order
                    exprs.append(f"{len(selects)} as __ord__")
                    selects.append("select " + ", ".join(exprs))
                    k = close + 1
                else:
                    k += 1
            src = self._sql(" union all ".join(selects), args)
            if conflict is None:
                src = src.drop("__ord__")
            src_cols = src.columns
            has_ord = "__ord__" in src_cols
        else:
            src = self._sql(src_sql, args)
            # a trailing __ord__ column (batch-upsert ordering) rides along
            got = src.columns
            has_ord = bool(got) and got[-1] == "__ord__"
            src_cols = [*target_cols, *(["__ord__"] if has_ord else [])]
            if got != src_cols:
                src = src.toDF(*src_cols)

        # align to full schema in ONE projection: missing columns take
        # their declared DEFAULT (SQLite) or NULL, every column casts to
        # its declared type; __ord__ rides along for the upsert dedup
        def q(c: str) -> str:
            return "`" + c.replace("`", "``") + "`"

        existing = self.store.tables[name]
        aligned = src.selectExpr(
            *[
                f"cast({q(f.name)} as {f.dataType.simpleString()}) as {q(f.name)}"
                if f.name in src_cols
                else f"cast(({tdef.defaults.get(f.name, 'null')}) as "
                f"{f.dataType.simpleString()}) as {q(f.name)}"
                for f in tdef.schema.fields
            ],
            *(["__ord__"] if has_ord else []),
        )

        # INTEGER PRIMARY KEY auto-assignment (the SQLite rowid alias):
        # omitted or NULL ids auto-assign. SQLite's semantics are a
        # sequential fold over the rows in order — cur_max starts at
        # max(existing), every row raises it (explicit ids via max(),
        # autos to cur_max+1) — which has a closed form over __ord__:
        # with c_i = cumulative autos through row i and key_j =
        # explicit_j − c_j, auto row i gets max(base, runmax(key)_i)+c_i.
        # That reproduces the interleaved explicit/auto sequence EXACTLY
        # (the r10 code numbered autos past the batch max instead — a
        # documented divergence, now gone) and runtime NULLs from SELECT
        # sources auto-assign too (previously only literal VALUES NULLs
        # were detected, so a nullable id expression stored NULL — r11
        # fix). The window is single-partition: sequential ids are
        # inherently serial; event-batch-sized inserts only (bulk loads
        # at scale should carry their own ids).
        # internal emitters whose ids are ALREADY assigned (never null):
        # the pooled-round executor (``… from …__poolsrc__``) and the
        # localized fold path (``… from …__localsrc__``, which runs the
        # same sequential max+1 fold driver-side in
        # fold.execute._assign_local_rowids precisely so its literal plan —
        # the LocalRelation the snapshot/mirror chains key on — is not
        # wrapped in assignment windows here). Exempting them skips a
        # table-max job per statement on the compiled-fold hot path.
        # Gate on the EXACT internal view name (prefix included, as its own
        # token after "from"), not a bare suffix — a module table/view whose
        # name merely ends in __poolsrc__/__localsrc__ must NOT inherit the
        # exemption (it would store NULL pks where SQLite assigns max+1).
        src_low = src_sql.lower().strip()
        pfx = self.store.view_prefix.lower()
        preassigned = src_low.endswith(
            f"from {pfx}__poolsrc__"
        ) or src_low.endswith(f"from {pfx}__localsrc__")
        if auto_pk and not (preassigned and auto_pk in target_cols) and (
            auto_pk not in target_cols
            or any_null_pk
            or not src_low.startswith("values")
        ):
            from pyspark.sql import Window

            base = (
                self.store.tables[name]
                .agg(F.coalesce(F.max(auto_pk), F.lit(0)).alias("m"))
                .first()["m"]
            ) or 0
            order_col = (
                F.col("__ord__")
                if has_ord
                else F.monotonically_increasing_id()
            )
            w = Window.orderBy(order_col).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            c = F.sum(
                F.when(F.col(auto_pk).isNull(), 1).otherwise(0)
            ).over(w)
            key = F.when(F.col(auto_pk).isNotNull(), F.col(auto_pk) - c)
            runmax = F.max(key).over(w)
            ftype = next(
                f.dataType for f in tdef.schema.fields if f.name == auto_pk
            )
            aligned = aligned.withColumn(
                auto_pk,
                F.coalesce(
                    F.col(auto_pk),
                    (
                        F.greatest(
                            F.coalesce(runmax, F.lit(base)), F.lit(base)
                        )
                        + c
                    ).cast(ftype),
                ),
            )

        # NOT NULL enforcement (SQLite aborts the statement, which aborts
        # the event batch — rollback restores the pre-batch snapshot). One
        # early-exit scan of the insert delta, O(delta) like SQLite's own
        # constraint check; skipped entirely for all-nullable tables.
        # pk columns excluded: SQLite's legacy quirk allows NULL in
        # non-INTEGER PRIMARY KEY columns (NULLs distinct in unique
        # constraints — see the null-key upsert path), and INTEGER pks
        # auto-assign above
        nn_cols = [
            f.name
            for f in tdef.schema.fields
            if not f.nullable and f.name not in tdef.primary_key
        ]
        if nn_cols:
            viol = aligned.where(
                " or ".join(f"{c} is null" for c in nn_cols)
            ).take(1)
            if viol:
                bad = next(c for c in nn_cols if viol[0][c] is None)
                raise SqlTranslationError(
                    f"NOT NULL constraint failed: {name}.{bad}"
                )

        if conflict is None:
            inserted = aligned.drop("__ord__") if has_ord else aligned
            self._fire_triggers("before", "insert", name, inserted, None, args)
            if self._has_triggers(name, "insert"):
                # trigger bodies may have interleaved their own writes to
                # this table — not a provable pure append
                self.store.mutated(name, existing.unionByName(inserted))
            else:
                self.store.appended(
                    name, existing.unionByName(inserted), inserted
                )
            self._fire_triggers("after", "insert", name, inserted, None, args)
            # divergence note: SQLite's last_insert_rowid is the rowid of
            # the literal last row; with set-wise batch inserts we record
            # max(pk) — identical for ascending ids, deterministic always
            self._record_insert(tdef, inserted)
            return inserted
        return self._upsert(name, tdef, existing, aligned, conflict, args)

    def _has_triggers(self, table: str, op: str) -> bool:
        return any(
            t.table == table and t.op == op for t in self.store.triggers.values()
        ) and not getattr(self, "_suppress_triggers", False)

    def _upsert(
        self,
        name: str,
        tdef: TableDef,
        existing: DataFrame,
        incoming: DataFrame,
        conflict_toks: list[str],
        args: dict | None,
    ) -> "DataFrame":
        lows = [t.lower() if _is_word(t) else t for t in conflict_toks]
        # conflict target columns
        if "(" in conflict_toks:
            key_args, _ = _find_args(conflict_toks, conflict_toks.index("("))
            keys = [a[0].lower() for a in key_args]
        elif tdef.primary_key:
            keys = list(tdef.primary_key)
        else:
            raise SqlTranslationError(f"upsert on {name} without conflict target or PK")

        do_idx = lows.index("do")
        action = lows[do_idx + 1]

        # SQLite unique constraints treat NULLs as distinct: a row with any
        # NULL conflict-key column can never conflict (with existing rows OR
        # with other incoming rows), so it goes straight to the append path —
        # before dedup, which would otherwise collapse NULL-key rows.
        null_key = F.lit(False)
        for k in keys:
            null_key = null_key | F.col(k).isNull()
        append_only = incoming.where(null_key).drop(
            *(["__ord__"] if "__ord__" in incoming.columns else [])
        )
        incoming = incoming.where(~null_key)

        # batch semantics: the LAST row per key within the incoming batch wins
        # (sequential per-event application order); __ord__ column carries the
        # in-batch order if the caller provided it, else arrival order.
        if "__ord__" in incoming.columns:
            from pyspark.sql import Window

            w = Window.partitionBy(*keys).orderBy(F.col("__ord__").desc())
            incoming = (
                incoming.withColumn("__rn__", F.row_number().over(w))
                .where(F.col("__rn__") == 1)
                .drop("__rn__", "__ord__")
            )
        else:
            incoming = incoming.dropDuplicates(keys)

        if action == "nothing":
            fresh = incoming.join(existing.select(*keys), keys, "left_anti")
            inserted = fresh.unionByName(append_only)
            self._fire_triggers("before", "insert", name, inserted, None, args)
            self.store.mutated(
                name, existing.unionByName(fresh).unionByName(append_only)
            )
            self._fire_triggers("after", "insert", name, inserted, None, args)
            # DO NOTHING: only actually-inserted rows count as changes
            self._record_insert(tdef, inserted)
            return inserted

        # DO UPDATE SET a = expr, ... — expr may reference excluded.c and t.c
        set_toks = conflict_toks[do_idx + 2 :]
        assert set_toks and set_toks[0].lower() == "set"
        assignments = self._parse_assignments(set_toks[1:])

        ev = f"{self.store.view_prefix}__excl__"
        tv = f"{self.store.view_prefix}__tgt__"
        # presence markers: key columns can be NULL in *existing* rows (they
        # never conflict), so matched/unmatched tests use non-null markers
        # instead of key nullness.
        incoming.withColumn("__em__", F.lit(True)).createOrReplaceTempView(ev)
        existing.withColumn("__tm__", F.lit(True)).createOrReplaceTempView(tv)

        # plain = (not <=>): NULL keys never match, mirroring SQLite unique-
        # constraint semantics (incoming NULL-key rows were split off above).
        key_eq = " and ".join(f"{tv}.{k} = {ev}.{k}" for k in keys)
        both = f"({ev}.__em__ and {tv}.__tm__)"
        cols_sql = []
        for f_ in tdef.schema.fields:
            c = f_.name
            if c in assignments:
                expr = self._qualify(assignments[c], tv, ev, {x.name for x in tdef.schema.fields})
                updated = expr
            else:
                updated = f"{tv}.{c}"
            cols_sql.append(
                f"case when {both} then {updated} "
                f"when {tv}.__tm__ is null then {ev}.{c} "
                f"else {tv}.{c} end as {c}"
            )
        merged = self.store.spark.sql(
            f"select {', '.join(cols_sql)} from {tv} full outer join {ev} on {key_eq}",
            args=args or {},
        )
        # trigger views (lazy; _fire_triggers no-ops when none are defined)
        cols = [f_.name for f_ in tdef.schema.fields]
        inserted = incoming.join(
            existing.select(*keys).dropDuplicates(keys), keys, "left_anti"
        ).unionByName(append_only)
        paired = None
        if self._has_triggers(name, "update"):
            mk = (
                incoming.select(*keys)
                .dropDuplicates(keys)
                .join(existing.select(*keys).dropDuplicates(keys), keys, "semi")
            )
            old_matched = existing.join(mk, keys, "semi")
            new_matched = merged.join(mk, keys, "semi")
            paired = old_matched.join(
                new_matched.select(
                    *[F.col(k) for k in keys],
                    *[F.col(c).alias(f"__new__{c}") for c in cols],
                ),
                keys,
            )
        self._fire_triggers("before", "insert", name, inserted, None, args)
        self._fire_triggers("before", "update", name, None, None, args, paired)
        self.store.mutated(name, merged.unionByName(append_only))
        self._fire_triggers("after", "insert", name, inserted, None, args)
        self._fire_triggers("after", "update", name, None, None, args, paired)
        if self.store.track_changes:
            # every deduped incoming row either inserts or updates; NULL-key
            # rows always insert — both count as changes in SQLite
            n = incoming.count() + append_only.count()
            pk = int_pk(tdef)
            last = (
                inserted.agg(F.max(pk)).first()[0] if pk else None
            )
            self.store.record_change(n, last)
        # post-image of every processed row (for RETURNING)
        return merged.join(
            incoming.select(*keys).dropDuplicates(keys), keys, "semi"
        ).unionByName(append_only)

    @staticmethod
    def _parse_assignments(toks: list[str]) -> dict[str, str]:
        """SET a = expr, b = expr — split on top-level commas."""
        out: dict[str, str] = {}
        for p in split_top(toks):
            eq = p.index("=")
            out[p[0].lower()] = _j(p[eq + 1 :])
        return out

    @staticmethod
    def _qualify(expr: str, tv: str, ev: str, cols: set[str]) -> str:
        """excluded.c → <excl view>.c; bare target columns → <target view>.c"""
        toks = tokenize(expr)
        out: list[str] = []
        i = 0
        while i < len(toks):
            t = toks[i]
            if _is_word(t) and t.lower() == "excluded" and i + 2 < len(toks) + 1 and i + 1 < len(toks) and toks[i + 1] == ".":
                out.extend([ev, ".", toks[i + 2]])
                i += 3
                continue
            if (
                _is_word(t)
                and t.lower() in cols
                and (i == 0 or toks[i - 1] != ".")
                and (i + 1 >= len(toks) or toks[i + 1] not in ("(", "."))
            ):
                out.extend([tv, ".", t])
                i += 1
                continue
            out.append(t)
            i += 1
        return _j(out)

    # -- UPDATE / DELETE -----------------------------------------------------

    def _split_where(self, toks: list[str]) -> tuple[list[str], list[str] | None]:
        for i in top_level(toks):
            if toks[i].lower() == "where":
                return toks[:i], toks[i + 1 :]
        return toks, None

    def _update(self, sql: str, args: dict | None) -> DataFrame:
        toks = tokenize(sql)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        name = lows[1]
        if name not in self.store.defs:
            raise SqlTranslationError(f"update unknown table {name}")
        tdef = self.store.defs[name]
        set_idx = lows.index("set")
        rest = toks[set_idx + 1 :]
        # UPDATE … FROM (SQLite 3.33 join-update): split a top-level FROM
        from_at = next(
            (i for i in top_level(rest) if rest[i].lower() == "from"), None
        )
        if from_at is not None:
            assign_toks = rest[:from_at]
            tail, fwhere = self._split_where(rest[from_at + 1 :])
            return self._update_from(
                name,
                tdef,
                assign_toks,
                _j(tail),
                _j(fwhere) if fwhere else "true",
                args,
            )
        body, where = self._split_where(rest)
        assignments = self._parse_assignments(body)
        pred = _j(where) if where else "true"
        cols_sql = []
        for f_ in tdef.schema.fields:
            c = f_.name
            if c in assignments:
                cols_sql.append(
                    f"case when ({pred}) then cast(({assignments[c]}) as {f_.dataType.simpleString()}) else {c} end as {c}"
                )
            else:
                cols_sql.append(c)
        df = self._sql(f"select {', '.join(cols_sql)} from {name}", args)
        paired = None
        if self._has_triggers(name, "update"):
            new_cols = []
            for f_ in tdef.schema.fields:
                c = f_.name
                if c in assignments:
                    new_cols.append(
                        f"cast(({assignments[c]}) as {f_.dataType.simpleString()}) as __new__{c}"
                    )
                else:
                    new_cols.append(f"{c} as __new__{c}")
            paired = self._sql(
                f"select *, {', '.join(new_cols)} from {name} "
                f"where coalesce(({pred}), false)",
                args,
            )
        if self.store.track_changes:
            n = self._sql(
                f"select count(*) as n from {name} where coalesce(({pred}), false)",
                args,
            ).first()["n"]
            self.store.record_change(n)
        # post-image of the matched rows (RETURNING) — built before the
        # mutation swaps the temp view, so the plan captures the old table
        post_cols = []
        for f_ in tdef.schema.fields:
            c = f_.name
            if c in assignments:
                post_cols.append(
                    f"cast(({assignments[c]}) as {f_.dataType.simpleString()}) as {c}"
                )
            else:
                post_cols.append(c)
        affected = self._sql(
            f"select {', '.join(post_cols)} from {name} "
            f"where coalesce(({pred}), false)",
            args,
        )
        self._fire_triggers("before", "update", name, None, None, args, paired)
        self.store.mutated(name, df)
        self._fire_triggers("after", "update", name, None, None, args, paired)
        return affected

    def _update_from(
        self,
        name: str,
        tdef: TableDef,
        assign_toks: list[str],
        from_sql: str,
        pred: str,
        args: dict | None,
    ) -> DataFrame:
        """UPDATE t SET … FROM src WHERE … — join-update. Each target row
        matched by the join takes its assignments from one matching source
        row; SQLite picks an arbitrary match, here the first by the target
        key ordering (deterministic across retries). Rows are identified by
        the primary key (all columns when the table has none)."""
        assignments = self._parse_assignments(assign_toks)
        keys = list(tdef.primary_key) or [f.name for f in tdef.schema.fields]
        key_sel = ", ".join(f"{name}.{k} as __k__{k}" for k in keys)
        new_sel = ", ".join(
            f"cast(({assignments[c]}) as "
            f"{next(f_.dataType for f_ in tdef.schema.fields if f_.name == c).simpleString()})"
            f" as __new__{c}"
            for c in assignments
        )
        matches = self._sql(
            f"select {key_sel}, {new_sel} from {name}, {from_sql} "
            f"where coalesce(({pred}), false)",
            args,
        ).dropDuplicates([f"__k__{k}" for k in keys]).withColumn("__m__", F.lit(True))
        if self.store.track_changes:
            self.store.record_change(matches.count())
        existing = self.store.tables[name]
        cond = None
        for k in keys:
            c = existing[k].eqNullSafe(matches[f"__k__{k}"])
            cond = c if cond is None else (cond & c)
        joined = existing.join(matches, cond, "left")
        out_cols = []
        for f_ in tdef.schema.fields:
            c = f_.name
            if c in assignments:
                out_cols.append(
                    F.when(F.col("__m__"), F.col(f"__new__{c}"))
                    .otherwise(existing[c])
                    .alias(c)
                )
            else:
                out_cols.append(existing[c].alias(c))
        affected = joined.where(F.col("__m__")).select(*out_cols)
        paired = None
        if self._has_triggers(name, "update"):
            paired = joined.where(F.col("__m__")).select(
                *[existing[f_.name] for f_ in tdef.schema.fields],
                *[
                    (
                        F.col(f"__new__{f_.name}")
                        if f_.name in assignments
                        else existing[f_.name]
                    ).alias(f"__new__{f_.name}")
                    for f_ in tdef.schema.fields
                ],
            )
        self._fire_triggers("before", "update", name, None, None, args, paired)
        self.store.mutated(name, joined.select(*out_cols))
        self._fire_triggers("after", "update", name, None, None, args, paired)
        return affected

    def _delete(self, sql: str, args: dict | None) -> DataFrame:
        toks = tokenize(sql)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        name = lows[lows.index("from") + 1]
        if name not in self.store.defs:
            raise SqlTranslationError(f"delete from unknown table {name}")
        _, where = self._split_where(toks)
        pred = _j(where) if where else "true"
        df = self._sql(f"select * from {name} where not coalesce(({pred}), false)", args)
        # pre-image of the removed rows (RETURNING + delete triggers)
        deleted = self._sql(
            f"select * from {name} where coalesce(({pred}), false)", args
        )
        if self.store.track_changes:
            n = self._sql(
                f"select count(*) as n from {name} where coalesce(({pred}), false)",
                args,
            ).first()["n"]
            self.store.record_change(n)
        self._fire_triggers("before", "delete", name, None, deleted, args)
        self.store.mutated(name, df)
        self._fire_triggers("after", "delete", name, None, deleted, args)
        return deleted
