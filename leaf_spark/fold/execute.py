"""Fold execution on Spark: the round-wise and pooled steps that
``fold.plan`` compiles, and the driver-side evaluation of INSERT sources
on interactive commits.

Every function runs through the fold's ``DmlExecutor`` (which carries the
store); the driver-local paths also take the stream's ``LocalEval``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import localexec
from ..dml import DmlExecutor, flat_name, int_pk
from ..localdf import arrow_local_df
from ..sqlcompat import tokenize, _is_word
from .plan import insert_columns, insert_target, parse_upsert_shape, split_insert


def exec_roundwise(ex: DmlExecutor, stmt: str, is_state: bool) -> None:
    """Apply an accumulating upsert in per-key occurrence rounds.

    The source select (event-only by the round-wise gate) evaluates ONCE;
    each row gets ``__round__`` = its occurrence rank within its conflict
    key (ordered by event idx). Round r then applies the r-th occurrences
    set-wise — unique keys within a round, so the __ord__ dedup collapses
    nothing and DO UPDATE's current-row reads see exactly the state the
    per-event fold would have produced. R = max multiplicity Spark
    statements total (R ≤ N, typically ≪ N; a replay is O(R) jobs, not
    O(events))."""
    shape = parse_upsert_shape(stmt, ex.store)
    assert shape is not None  # the planner gates on _roundwise_ok
    cols, keys, src_sql, prefix_sql, tail_sql = shape
    src = ex.execute(src_sql, is_state=is_state).toDF(*cols, "__ord__")
    w = Window.partitionBy(*keys).orderBy(F.col("__ord__"))
    src = src.withColumn("__round__", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    n_rounds = src.agg(F.max("__round__").alias("r")).first()["r"] or 0
    view = ex.store.view_prefix + "__roundsrc__"
    for r in range(1, n_rounds + 1):
        src.where(F.col("__round__") == r).select(
            *cols, "__ord__"
        ).createOrReplaceTempView(view)
        ex.execute(
            f"{prefix_sql} select * from {view} {tail_sql}", is_state=is_state
        )


def localize_insert(
    ex: DmlExecutor,
    le: localexec.LocalEval,
    stmt: str,
    local_rows: list[tuple] | None,
) -> str | None:
    """When ``stmt`` is INSERT … SELECT whose source reads only the staged
    ``event`` rows (which are driver-local Python objects), evaluate the
    SELECT in sqlite on the driver (localexec.py) and rewrite the
    statement to read the result as a JVM-local literal view. The
    surrounding insert machinery (defaults, auto-PK, NOT NULL, ON
    CONFLICT, triggers) is untouched — but now operates on a
    LocalTableScan, so its constraint scan and the pre-commit checkpoint
    are pure-JVM jobs instead of Python-runner round trips (~200 ms each
    on a one-row batch). Returns the rewritten statement, or None to use
    the normal Spark path. Never writes — any local-eval failure falls
    back safely."""
    if local_rows is None:
        return None
    store = ex.store
    toks = tokenize(stmt)
    lows = [t.lower() if _is_word(t) else t for t in toks]
    split = split_insert(toks, lows)
    if split is None:
        return None
    isel, icut = split
    src = " ".join(toks[isel : icut if icut >= 0 else len(toks)])
    if not localexec.eligible(src, store.known_tables(), allow_abort=False):
        return None
    try:
        names, rows = le.run_select(src, local_rows)
    except (localexec.LocalEvalError, localexec.LocalAbort):
        return None
    rows = _assign_local_rowids(ex, toks, lows, isel, names, rows)
    if rows is None:
        return None
    # positional rename (sqlite expression names may collide or fail to
    # parse); keep the __ord__ marker the upsert path looks for
    cols = ["__ord__" if n == "__ord__" else f"_c{i}" for i, n in enumerate(names)]
    schema = localexec.infer_spark_schema(cols, rows)
    if schema is None or not names:
        return None
    # a module table named __localsrc__ would own this view name —
    # registering over it would leak staged rows into its queries
    if "__localsrc__" in store.defs or "__localsrc__" in store.views:
        return None
    view = store.view_prefix + "__localsrc__"
    arrow_local_df(store.spark, rows, schema).createOrReplaceTempView(view)
    return (
        " ".join(toks[:isel])
        + " select "
        + ", ".join(cols)
        + " from "
        + view
        + ((" " + " ".join(toks[icut:])) if icut >= 0 else "")
    )


def _assign_local_rowids(
    ex: DmlExecutor,
    toks: list[str],
    lows: list[str],
    isel: int,
    names: list[str],
    rows: list[tuple],
) -> list[tuple] | None:
    """Fill NULL rowid-alias ids in driver-evaluated insert rows with
    SQLite's sequential max+1 fold (explicit ids raise the running max) —
    done HERE, in plain Python over the literal rows, so the emitted
    ``__localsrc__`` statement carries fully-assigned ids and the dml
    layer can skip its window-based assignment: the insert delta stays a
    LocalRelation, which is what the incremental snapshot chain and the
    mirror append chain key on. Only applies when the pk is among the
    INSERT columns (the 'occasional id override' shape); pk-omitted
    inserts keep the dml path. None on a malformed shape (caller falls
    back to the Spark path)."""
    try:
        _, flat, j = insert_target(toks, lows)
        tdef = ex.store.defs.get(flat)
        if tdef is None:
            # target didn't resolve under THIS parse (quoted names,
            # schema-qualified shapes this walk doesn't cover). The rows
            # may still carry NULL rowid-alias pks that SQLite would
            # assign, and the dml layer skips assignment for __localsrc__
            # statements — so signal the caller to take the normal Spark
            # path rather than pass unassigned rows through (ADVICE r11,
            # dml.py preassigned-id exemption).
            return None
        pk = int_pk(tdef)
        if pk is None:
            return rows
        lc = [c.lower() for c in insert_columns(toks, j, isel, tdef)]
        if pk.lower() not in lc:
            return rows
        ci = lc.index(pk.lower())
        if ci >= len(names) or all(r[ci] is not None for r in rows):
            return rows
        cur = (
            ex.store.tables[flat]
            .agg(F.coalesce(F.max(pk), F.lit(0)).alias("m"))
            .first()["m"]
        ) or 0
        out = []
        for r in rows:
            v = r[ci]
            if v is None:
                cur += 1
                out.append(r[:ci] + (cur,) + r[ci + 1 :])
            else:
                cur = max(cur, int(v))
                out.append(r)
        return out
    except Exception:
        return None


def _pooled_source_df(
    ex: DmlExecutor,
    le: localexec.LocalEval,
    src_sql: str,
    cols: list[str] | None,
    is_state: bool,
    local_rows: list[tuple] | None,
):
    """Source relation for one pooled statement. When the staged events
    are driver-local and the source reads only ``event``, evaluate it in
    sqlite and stage the result as a JVM-local literal frame — no source
    job AND no checkpoint job (a LocalRelation is already re-scan-free
    across the rounds that join it). Any miss falls back to the Spark
    select + lineage cut."""
    if local_rows is not None and localexec.eligible(
        src_sql, ex.store.known_tables(), allow_abort=False
    ):
        try:
            names, rows = le.run_select(src_sql, local_rows)
        except (localexec.LocalEvalError, localexec.LocalAbort):
            names = None
        if names is not None:
            out_names = [*cols, "__ord__"] if cols is not None else list(names)
            if len(out_names) == len(names):
                schema = localexec.infer_spark_schema(out_names, rows)
                if schema is not None:
                    try:
                        return arrow_local_df(ex.store.spark, rows, schema)
                    except Exception:
                        pass
    src = ex.execute(src_sql, is_state=is_state)
    if cols is not None:
        src = src.toDF(*cols, "__ord__")
    return src.localCheckpoint(eager=True)


def exec_pooled_rounds(
    ex: DmlExecutor,
    le: localexec.LocalEval,
    group: list[tuple[int, tuple]],
    is_state: bool,
    flat_target: str | None = None,
    local_rows: list[tuple] | None = None,
) -> None:
    """Apply one shared-target statement group in pooled per-key
    occurrence rounds (see ``plan._pooled_steps``). Group entries are
    tagged: ("upsert", upsert_shape), ("delete", (key, raw_target,
    src_sql, residual)) — a keyed delete ranked into the pool — or
    ("delcompiled", sql) for deletes-only groups, which commute and run
    once each."""
    store = ex.store
    if all(tag == "delcompiled" for _, (tag, _) in group):
        for _si, (_tag, sql) in group:
            ex.execute(sql, is_state=is_state)
        return
    if all(tag == "plainins" for _, (tag, _) in group):
        # shared plain inserts into a rowid-alias table: assign ids with
        # the sequential-fold closed form over the global (event idx,
        # statement) order — c = autos so far, explicit ids enter as key
        # = id − c, auto row i gets max(base, runmax(key)_i) + c_i (dml.py
        # uses the identical formula; with no explicit ids it degenerates
        # to the r10 base + rank). Then each statement inserts ONCE
        # (plain inserts commute after ids are fixed). The window is
        # single-partition like the dml layer's own assignment:
        # sequential ids are inherently serial, event-batch-sized only.
        flat0 = flat_name(group[0][1][1][0])
        tdef0 = store.defs[flat0]
        pk = tdef0.primary_key[0]
        pk_type = next(f.dataType for f in tdef0.schema.fields if f.name == pk)
        srcs2 = []
        frames = []
        for si, (_tag, (raw, cols, src_sql)) in group:
            src = _pooled_source_df(ex, le, src_sql, cols, is_state, local_rows)
            srcs2.append((si, raw, cols, src))
            pk_col = next((c for c in cols if c.lower() == pk.lower()), None)
            frames.append(
                src.select(
                    "__ord__",
                    F.lit(si).alias("__stmt__"),
                    (
                        F.col(pk_col).cast(pk_type)
                        if pk_col is not None
                        else F.lit(None).cast(pk_type)
                    ).alias("__pk__"),
                )
            )
        pool = frames[0]
        for fr in frames[1:]:
            pool = pool.unionByName(fr)
        base = (
            store.tables[flat0]
            .agg(F.coalesce(F.max(pk), F.lit(0)).alias("m"))
            .first()["m"]
        ) or 0
        w = Window.orderBy(F.col("__ord__"), F.col("__stmt__")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        c = F.sum(F.when(F.col("__pk__").isNull(), 1).otherwise(0)).over(w)
        key = F.when(F.col("__pk__").isNotNull(), F.col("__pk__") - c)
        runmax = F.max(key).over(w)
        pool = pool.withColumn(
            "__newid__",
            F.coalesce(
                F.col("__pk__"),
                (
                    F.greatest(F.coalesce(runmax, F.lit(base)), F.lit(base)) + c
                ).cast(pk_type),
            ),
        ).localCheckpoint(eager=True)
        live = {r["__stmt__"] for r in pool.select("__stmt__").distinct().collect()}
        view = store.view_prefix + "__poolsrc__"
        for si, raw, cols, src in srcs2:
            if si not in live:
                continue
            picked = pool.where(F.col("__stmt__") == si).select(
                "__ord__", "__newid__"
            )
            cols_wo_pk = [c for c in cols if c.lower() != pk.lower()]
            sub = src.join(picked, "__ord__").select(
                F.col("__newid__").cast(pk_type).alias(pk),
                *cols_wo_pk,
            )
            sub.createOrReplaceTempView(view)
            collist = " , ".join([pk, *cols_wo_pk])
            ex.execute(
                f"insert into {raw} ( {collist} ) select * from {view}",
                is_state=is_state,
            )
        return
    keys: list[str] | None = None
    for _si, (tag, shape) in group:
        if tag == "upsert":
            keys = [k.lower() for k in shape[1]]
            break
    if keys is None:  # update-led group: its key column names the pool
        for _si, (tag, shape) in group:
            if tag == "update":
                keys = [shape[0].lower()]
                break
    assert keys is not None  # _pooled_steps guarantees a keyed statement
    has_delete = any(tag == "delete" for _, (tag, _) in group)
    srcs: list[tuple[int, str, tuple, DataFrame]] = []
    key_frames = []
    for si, (tag, shape) in group:
        if tag == "upsert":
            cols, _, src_sql, _, tail_sql = shape
        elif tag == "delete":  # source selects (key,[__e*__],__ord__)
            _key, _raw, src_sql, _res, ecols, _mix = shape
            # a mixed-guard delete keys its source __k__ (like updates)
            # so the EXISTS guard can correlate the bare target columns
            # outward
            cols = ["__k__", *ecols] if ecols else [keys[0]]
        else:  # update: source is explicitly aliased (__k__, __e*__)
            src_sql = shape[2]
            cols = None
        # each source select is re-joined once per round below — the
        # helper either stages a driver-evaluated LocalRelation (no job,
        # re-scan-free) or cuts lineage with a localCheckpoint (the
        # exec_roundwise discipline)
        src = _pooled_source_df(ex, le, src_sql, cols, is_state, local_rows)
        srcs.append((si, tag, shape, src))
        if tag == "update" or (tag == "delete" and "__k__" in src.columns):
            kf = src.select(
                F.col("__k__").alias(keys[0]),
                F.col("__ord__"),
                F.lit(si).alias("__stmt__"),
            )
        else:
            kf = src.select(
                *[F.col(k).alias(k) for k in keys],
                F.col("__ord__"),
                F.lit(si).alias("__stmt__"),
            )
            if (
                tag == "upsert"
                and not has_delete
                and re.search(r"\bdo\s+nothing\s*$", tail_sql, re.IGNORECASE)
            ):
                # DO NOTHING ops beyond a key's FIRST are provably no-ops
                # when nothing can delete the key mid-batch (updates never
                # remove rows): pool only the first occurrence per
                # non-NULL key — halves R for the insert-then-accumulate
                # module shape. NULL keys never conflict (every one
                # inserts), so they all stay pooled.
                anynull = F.lit(False)
                for k in keys:
                    anynull = anynull | F.col(k).isNull()
                firsts = kf.where(~anynull).groupBy(*keys).agg(
                    F.min("__ord__").alias("__ord__"),
                    F.min("__stmt__").alias("__stmt__"),
                )
                kf = firsts.unionByName(kf.where(anynull))
        key_frames.append(kf)
    pool = key_frames[0]
    for kf in key_frames[1:]:
        pool = pool.unionByName(kf)
    w = Window.partitionBy(*keys).orderBy(F.col("__ord__"), F.col("__stmt__"))
    pool = pool.withColumn("__round__", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    # one aggregation tells which (round, stmt) cells are non-empty — NOT
    # a take(1) probe job per cell (r10 review finding); the collect is
    # bounded by total ops (≤ events × statements) and carries two ints
    # per row
    cells = {
        (r["__round__"], r["__stmt__"])
        for r in pool.select("__round__", "__stmt__").distinct().collect()
    }
    n_rounds = max((r for r, _ in cells), default=0)
    view = store.view_prefix + "__poolsrc__"
    for r in range(1, n_rounds + 1):
        round_had_update = False
        for si, tag, shape, src in srcs:
            if (r, si) not in cells:
                continue  # no rank-r operations for this statement
            picked = pool.where(
                (F.col("__round__") == r) & (F.col("__stmt__") == si)
            ).select("__ord__")
            if tag == "upsert":
                cols, _, _, prefix_sql, tail_sql = shape
                sub = src.join(picked, "__ord__").select(*cols, "__ord__")
                sub.createOrReplaceTempView(view)
                ex.execute(
                    f"{prefix_sql} select * from {view} {tail_sql}",
                    is_state=is_state,
                )
            elif tag == "delete":
                key, raw_target, _src_sql, residual, ecols, mix = shape
                if ecols:
                    # guarded delete (r12): the round view carries __k__ +
                    # the materialized event exprs; the guard correlates
                    # the target row through EXISTS and evaluates against
                    # the PRE-ROUND table — bare target columns resolve
                    # outward (nothing in the view shadows them; fields
                    # starting with __ are rejected at parse)
                    sub = src.join(picked, "__ord__").select("__k__", *ecols)
                    sub.createOrReplaceTempView(view)
                    sql = (
                        f"delete from {raw_target} where exists ( "
                        f"select 1 from {view} where __k__ = {key} "
                        f"and ( {mix} ) )"
                    )
                else:
                    sub = src.join(picked, "__ord__").select(keys[0])
                    sub.createOrReplaceTempView(view)
                    sql = (
                        f"delete from {raw_target} where {key} in "
                        f"( select {key} from {view} )"
                    )
                if residual:
                    sql += f" and ( {residual} )"
                ex.execute(sql, is_state=is_state)
                if ecols:
                    # the EXISTS guard embeds the target in its own delete
                    # plan — checkpoint after the round like updates do,
                    # or plans nest once per round
                    round_had_update = True
            else:  # update → upsert with a target-joining source
                # NOT an UPDATE…FROM: its existing⋈matches self-join under
                # the fold's insert-union trips Spark's
                # Union.rewriteConstraints at the batch-end checkpoint
                # ("key not found: <attr>"). The upsert form keeps the
                # target read INSIDE the insert source (the same
                # join-under-union shape the compiled dedup idiom has
                # exercised since r9): rows select only keys that exist
                # (join) and pass the residual, so the DO UPDATE branch
                # always fires and non-existent keys stay no-ops — exact
                # UPDATE semantics.
                key, raw_target, _src_sql, set_assigns, residual, others = shape
                sub = src.join(picked, "__ord__").drop("__ord__")
                sub.createOrReplaceTempView(view)
                set_cols = [a.split("=", 1) for a in set_assigns]
                col_names = [c.strip() for c, _ in set_cols]
                sel_exprs = [f"( {e.strip()} ) as {c.strip()}" for c, e in set_cols]
                # unassigned columns ride along from the joined target row
                # so the candidate row is always fully populated (NOT NULL
                # constraints never see a default) — the DO UPDATE only
                # touches assigned columns, so they are read-through
                # either way
                sel_exprs += [f"{raw_target}.{c} as {c}" for c in others]
                where = f"{view}.__k__ = {raw_target}.{key}"
                if residual:
                    where += f" and ( {residual} )"
                sql = (
                    f"insert into {raw_target} "
                    f"( {key} , {' , '.join(col_names + others)} ) "
                    f"select {view}.__k__ , {' , '.join(sel_exprs)} "
                    f"from {view} , {raw_target} where {where} "
                    f"on conflict ( {key} ) do update set "
                    + " , ".join(f"{c} = excluded.{c}" for c in col_names)
                )
                ex.execute(sql, is_state=is_state)
                round_had_update = True
        if round_had_update and flat_target in store.tables:
            # an update round JOINS the target into its own plan — without
            # a lineage cut the plan EMBEDS itself once per round
            # (exponential analysis cost by round ~10). Eagerly checkpoint
            # the target after every update round: O(R·table)
            # materializations, linear plans — the price of exact per-key
            # sequencing, still far cheaper than the per-event fold it
            # replaces.
            store.register(
                flat_target, store.tables[flat_target].localCheckpoint(eager=True)
            )
