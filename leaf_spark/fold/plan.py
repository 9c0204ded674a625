"""Fold planning: a materializer script → one ``FoldStep`` per statement,
or None for the per-event fold (reference lib.rs:543-569).

Pure functions of (statements, table metadata): they read the store's
``defs``, ``views``, ``triggers``, ``unique_key_cols()`` and
``known_tables()``, never its DataFrames or a SparkSession. The steps run
in ``Stream._fold_df`` (plain / compiled) and ``fold.execute`` (round-wise
/ pooled).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .. import localexec
from ..dml import TableDef, TableStore, flat_name, int_pk, qualified_name
from ..sqlcompat import (
    classify,
    close_paren,
    on_conflict_at,
    tokenize,
    top_level,
    top_spans,
    _is_word,
)


@dataclass(frozen=True)
class FoldStep:
    """One materializer statement's place in a fold plan. ``kind`` is
    ``plain`` (one set-wise statement over the whole batch),
    ``roundwise`` (an accumulating upsert applied in per-key occurrence
    rounds), ``compiled`` (the dedup idiom or an event-keyed DELETE
    rewritten set-wise) or ``pooled`` (a shared-target group applied in
    pooled per-key rounds)."""

    kind: str
    sql: str  # the statement as it executes (compiled / __ord__-injected)
    target: str | None = None  # pooled: the group's flat target
    group: list | None = None  # pooled: the group, on its FIRST member only


# order-sensitive / nondeterministic functions that make per-event vs
# set-wise application observable inside a DELETE predicate
_DELETE_UNSAFE_FNS = frozenset({
    "random", "randomblob", "changes", "last_insert_rowid",
    "total_changes",
})
# aggregates re-scope from the single-row per-event table to the batch
_AGG_FNS = frozenset({
    "count", "sum", "avg", "min", "max", "total", "group_concat",
})
_DEDUP_ALIASES = ("__dedupsrc__", "__dedupcand__", "__deduptgt__")


def _lowered(toks: list[str]) -> list[str]:
    return [t.lower() if _is_word(t) else t for t in toks]


def plan(stmts: list[str], store: TableStore) -> list[FoldStep] | None:
    """Plan a materializer script as one step per statement, or None for
    the per-event fold. The first tier that takes the WHOLE script wins:

    1. plain + round-wise: every statement is INSERT … SELECT … FROM
       event (``_stmt_batch_safe``) and no two statements share an
       order-visible target (``_shared_target_hazard``). Applying the
       whole idx-ordered batch set-wise ≡ the per-event fold (upserts
       keep the last event per conflict key via __ord__), except for
       accumulating upserts (DO UPDATE reads the current row, e.g.
       ``n = n + 1``): those apply the r-th occurrence of every key per
       round — R = max per-key multiplicity bounded statements instead
       of one per event. Statements whose SELECT reads a managed table
       (e.g. the dedup idiom's NOT EXISTS probe) are not batch-safe:
       set-wise they would see the pre-batch snapshot and miss
       intra-batch effects (basic.rs:76-105).
    2. compiled: the rest of the script is plain and at least one
       statement compiles set-wise — the NOT-EXISTS-on-target dedup
       idiom (first-occurrence election + pre-state probe) or an
       event-keyed DELETE — with no shared target (a compiled probe
       reads the pre-statement table, and a compiled DELETE's set-wise
       OR is exact only while no other statement writes its target).
    3. pooled: shared-target groups run in pooled per-key rounds at
       their first member's position (``_pooled_steps``).

    Each of these replays in O(statements · rounds) Spark statements,
    not O(events)."""
    safe = [_stmt_batch_safe(st, store) for st in stmts]
    acc = [_accumulating_upsert(st) for st in stmts]
    if (
        None not in safe
        and not _shared_target_hazard(safe, store)
        and all(_roundwise_ok(st, store) for st, a in zip(stmts, acc) if a)
    ):
        return [
            FoldStep("roundwise", st) if a else _plain_step(st, store)
            for st, a in zip(stmts, acc)
        ]
    steps: list[FoldStep] = []
    targets: list[tuple[str, bool]] = []
    for st, got, a in zip(stmts, safe, acc):
        if got is not None and not a:
            steps.append(_plain_step(st, store))
            targets.append(got)
            continue
        cd = _compile_dedup_idiom(st, store) or _compile_delete_setwise(st, store)
        if cd is None:
            break
        steps.append(FoldStep("compiled", cd[1]))
        targets.append((cd[0], True))  # probe/interleave order visible
    else:
        if any(
            st.kind == "compiled" for st in steps
        ) and not _shared_target_hazard(targets, store):
            return steps
    return _pooled_steps(stmts, safe, acc, store)


def _plain_step(stmt: str, store: TableStore) -> FoldStep:
    # __ord__ rides along when conflict resolution or rowid
    # auto-assignment makes event order visible
    return FoldStep(
        "plain", _inject_ord(stmt) if _ord_needed(stmt, store) else stmt
    )


def _stmt_batch_safe(stmt: str, store: TableStore) -> tuple[str, bool] | None:
    """(flat target, order-sensitive) when ONE statement is
    INSERT … SELECT … FROM event touching no managed table and no
    trigger; None otherwise. Order-sensitive = conflict-resolving (which
    execution sees a key first is visible in the result).
    Accumulating-upsert handling is the planner's concern."""
    known = store.known_tables()
    info = classify(stmt)
    if info.kind != "insert":
        return None
    # triggers on the insert target run their bodies per statement
    # execution; per-event application keeps their visibility semantics
    # identical to the reference's row-at-a-time fold
    tgt = flat_name(info.target or "")
    if any(t.table == tgt for t in store.triggers.values()):
        return None
    toks = tokenize(stmt)
    lows = _lowered(toks)
    from_ok = False
    for i in top_level(toks):
        if lows[i] != "from":
            continue
        if i + 1 < len(toks) and lows[i + 1] == "event":
            nxt = lows[i + 2] if i + 2 < len(toks) else None
            # ONLY row-local tails: WHERE filters and the ON CONFLICT
            # clause. GROUP BY / ORDER BY / LIMIT / HAVING / compounds —
            # anywhere at depth 0 after the FROM — are set-wise vs
            # per-event DIVERGENT: the reference evaluates them against
            # a SINGLE-row event table (count(*) group by user = (user,
            # 1) per event; limit 1 = every event's row), so those
            # shapes must fold per event (r10 review finding).
            from_ok = nxt in (None, "where", "on") and not any(
                lows[k] in (
                    "group", "order", "limit", "having",
                    "union", "intersect", "except", "window",
                )
                for k in top_level(toks, i + 2)
            )
        break
    if not from_ok:
        return None
    # aggregate calls are set-wise vs per-event divergent even WITHOUT
    # group by (count(*) over a single-row event table = 1 per event;
    # over the batch = N once). min/max are aggregates only in their
    # 1-arg form — the 2-arg scalar form stays legal.
    for i, t in enumerate(toks):
        if not _is_word(t) or i + 1 >= len(toks) or toks[i + 1] != "(":
            continue
        low = lows[i]
        if low in ("count", "sum", "avg", "total", "group_concat"):
            return None
        if low in ("min", "max") and not any(
            toks[k] == ","
            for k in top_level(toks, i + 2, close_paren(toks, i + 1))
        ):
            return None
    # reject managed-table references anywhere inside parens
    # (subqueries); the only sanctioned relation is the top-level FROM
    # event. db-qualified names flatten like _create_table.
    top = set(top_level(toks))
    for i, t in enumerate(toks):
        if i in top or not _is_word(t):
            continue
        low = lows[i]
        if low in ("state", "main") and i + 2 < len(toks) and toks[i + 1] == ".":
            nxt = lows[i + 2]
            flat = nxt if low == "main" else f"state_{nxt}"
            if flat in known:
                return None
        if (
            low in known
            and (i == 0 or toks[i - 1] != ".")
            and (i + 1 >= len(toks) or toks[i + 1] != "(")
        ):
            return None
    return tgt, _has_conflict_clause(stmt)


def _shared_target_hazard(
    targets: list[tuple[str, bool]], store: TableStore
) -> bool:
    """Statement-major hazard (advice r8): batch/round-wise execution
    applies all events of stmt1, then stmt2, but the reference fold
    interleaves statements per event (lib.rs:543-569). Statements writing
    DIFFERENT tables can't observe each other (their SELECTs read only
    ``event``), so statement-major ≡ interleaved there — but two
    statements sharing a target diverge whenever execution order is
    visible: conflict resolution / dedup probes (which statement's row
    wins a key) or rowid-alias auto-assignment (max+1 order). Such
    scripts take the per-event fold."""
    by_tgt: dict[str, int] = {}
    for tgt, _ in targets:
        by_tgt[tgt] = by_tgt.get(tgt, 0) + 1
    for tgt, sensitive in targets:
        if by_tgt[tgt] < 2:
            continue
        if sensitive:
            return True
        tdef = store.defs.get(tgt)
        if tdef is not None and int_pk(tdef) is not None:
            return True  # rowid-alias assignment is order-visible
    return False


def _has_conflict_clause(stmt: str) -> bool:
    """ON CONFLICT, REPLACE or INSERT OR REPLACE/IGNORE: which execution
    sees a key first is visible in the result."""
    low = stmt.lower()
    return (
        " conflict" in low
        or re.search(r"^\s*replace\b", low) is not None
        or re.search(r"\binsert\s+or\s+(replace|ignore)\b", low) is not None
    )


def _accumulating_upsert(stmt: str) -> bool:
    """True when the statement's ON CONFLICT DO UPDATE reads the CURRENT
    target row: any reference that is not excluded.-qualified (``n = n +
    1``, target-qualified ``t.n``, a DO UPDATE … WHERE condition) makes
    one-shot set-wise application diverge from the per-event fold when
    one batch carries the same conflict key twice — __ord__ keeps only
    the LAST row per key, so the reference increments twice where
    set-wise increments once (found by the round-8 model-based soak).
    Such statements apply round-wise (one set-wise upsert per per-key
    occurrence rank) or, when the script disqualifies entirely, per
    event."""
    toks = tokenize(stmt)
    lows = _lowered(toks)
    oc = on_conflict_at(toks, lows)
    if oc < 0:
        return False
    tail = toks[oc:]
    tlows = lows[oc:]
    try:
        do_i = next(j for j, x in enumerate(tlows) if x == "do")
    except StopIteration:
        return False
    if do_i + 1 >= len(tail) or tlows[do_i + 1] != "update":
        return False
    for j in range(do_i + 2, len(tail)):
        w = tail[j]
        if not _is_word(w):
            continue
        if tlows[j] in ("set", "where", "excluded", "and", "or",
                        "not", "is", "null", "case", "when", "then",
                        "else", "end", "like", "in", "between"):
            continue
        # function name or excluded./qualifier-prefixed
        if j + 1 < len(tail) and tail[j + 1] == "(":
            continue
        if j >= 1 and tail[j - 1] == ".":
            prev = tlows[j - 2] if j >= 2 else ""
            if prev == "excluded":
                continue
            # any other qualifier is the target table
            return True
        # bare identifier: an assignment TARGET (followed by '=') is
        # fine; anything else may read the current row
        if j + 1 < len(tail) and tail[j + 1] == "=":
            continue
        return True
    return False


def _inject_ord(stmt: str) -> str:
    """INSERT…SELECT list gains ``, idx as __ord__`` (top-level FROM) so
    batch upserts can keep sequential last-write-wins semantics."""
    toks = tokenize(stmt)
    lows = _lowered(toks)
    i = next((i for i in top_level(toks) if lows[i] == "from"), None)
    if i is None:
        return stmt
    return " ".join(toks[:i]) + " , idx as __ord__ from " + " ".join(toks[i + 1 :])


def split_insert(toks: list[str], lows: list[str]) -> tuple[int, int] | None:
    """For INSERT … SELECT … [ON CONFLICT …]: (index of the depth-0
    SELECT, index of the depth-0 ON CONFLICT or -1). None when the
    statement is not that shape (VALUES insert, RETURNING, …)."""
    if not lows or lows[0] not in ("insert", "replace"):
        return None
    if "returning" in lows:
        return None
    isel = next((i for i in top_level(toks) if lows[i] == "select"), -1)
    if isel < 0:
        return None
    return isel, on_conflict_at(toks, lows, isel + 1)


def insert_target(toks: list[str], lows: list[str]) -> tuple[str, str, int]:
    """(raw target, flat target, index just past the name) of an
    INSERT … INTO statement."""
    raw, j = qualified_name(toks, lows.index("into") + 1)
    return raw, flat_name(raw), j


def insert_columns(
    toks: list[str], j: int, isel: int, tdef: TableDef
) -> list[str]:
    """The INSERT's explicit column list opening at ``toks[j]`` (before
    the source at ``isel``), else every column of the target."""
    if j < isel and toks[j] == "(":
        return [t for t in toks[j + 1 : toks.index(")", j)] if _is_word(t)]
    return [f.name for f in tdef.schema.fields]


def parse_upsert_shape(
    stmt: str, store: TableStore
) -> tuple[list[str], list[str], str, str, str] | None:
    """Parse an ord-injected accumulating upsert into (insert columns,
    conflict key columns, source select SQL, insert prefix SQL, ON
    CONFLICT tail SQL). None when the shape can't be handled round-wise
    (no explicit/derivable conflict keys among the inserted columns,
    unknown target, …) — the planner then uses the per-event path for
    the whole script."""
    try:
        toks = tokenize(_inject_ord(stmt))
        lows = _lowered(toks)
        split = split_insert(toks, lows)
        if split is None:
            return None
        isel, icut = split
        if icut < 0:
            return None
        _, flat, j = insert_target(toks, lows)
        tdef = store.defs.get(flat)
        if tdef is None:
            return None
        cols = insert_columns(toks, j, isel, tdef)
        tail = toks[icut:]
        if len(tail) > 2 and tail[2] == "(":
            keys = [t for t in tail[3 : tail.index(")", 3)] if _is_word(t)]
        else:
            keys = list(tdef.primary_key)
        if not keys or not all(k in cols for k in keys):
            # a defaulted/auto-assigned conflict key can't be ranked
            # before the insert computes it
            return None
        return (
            cols,
            keys,
            " ".join(toks[isel:icut]),
            " ".join(toks[:isel]),
            " ".join(tail),
        )
    except Exception:
        return None


def _roundwise_ok(stmt: str, store: TableStore) -> bool:
    # a module table named __roundsrc__ would own the round-source view
    # name — registering over it would leak staged rounds into its
    # queries (same guard localize_insert applies to __localsrc__)
    if "__roundsrc__" in store.defs or "__roundsrc__" in store.views:
        return False
    return parse_upsert_shape(stmt, store) is not None


# -- set-wise DELETE compilation (round 10, VERDICT r9 #4) -----------------


def _compile_delete_setwise(stmt: str, store: TableStore) -> tuple[str, str] | None:
    """Compile an event-keyed DELETE

        DELETE FROM t WHERE <pred over t-columns and
                             (SELECT <expr> FROM event) subqueries>

    into ONE set-wise statement

        DELETE FROM t WHERE EXISTS (SELECT 1 FROM event AS __ev__
                                    WHERE <pred'>)

    where each scalar event subquery becomes its expression over the
    correlated ``__ev__`` row. Exact vs the reference's sequential
    per-event fold (leaf-stream/src/lib.rs:543-569) because deletes only
    REMOVE and the predicate reads no live table state: a row survives
    the sequential per-event fold iff NO event's predicate matches it,
    which is precisely NOT EXISTS — for ANY predicate shape, not just key
    equality. Gates (any miss → None, the planner falls back):

    - single target, known, no triggers (trigger bodies fire per
      statement execution — count is order-visible);
    - WHERE only (no RETURNING / ORDER / LIMIT tails);
    - ``event`` referenced ONLY via ``(select <expr> from event)`` scalar
      subqueries whose <expr> is aggregate-free (an aggregate over the
      single-row per-event table degenerates to the value, but over
      ``__ev__`` columns it would change meaning);
    - no other subquery at all (a SELECT over the target or another
      managed table makes per-event order visible);
    - no bare idx/user/payload outside the subqueries (they would be
      captured by ``__ev__`` after the rewrite — shadowing);
    - no random()/changes()-class functions anywhere.

    Returns (flat target, compiled SQL). The planner applies the
    shared-target rule: a compiled DELETE is exact only when no OTHER
    statement in the script writes the same target (insert/delete
    interleaving per event is order-visible)."""
    try:
        toks = tokenize(stmt)
        lows = _lowered(toks)
        if (
            len(lows) < 5
            or lows[0] != "delete"
            or lows[1] != "from"
            or "returning" in lows
        ):
            return None
        raw_target, j = qualified_name(toks, 2)
        flat = flat_name(raw_target)
        tdef = store.defs.get(flat)
        if tdef is None:
            return None
        if any(t.table == flat for t in store.triggers.values()):
            return None
        if "__ev__" in {f.name.lower() for f in tdef.schema.fields}:
            return None
        if j >= len(toks) or lows[j] != "where":
            return None
        wlo = j + 1
        # no trailing clauses at depth 0
        if any(lows[i] in ("order", "limit") for i in top_level(toks, wlo)):
            return None
        # locate (select <expr> from event) spans; validate + rewrite
        known = store.known_tables()
        out: list[str] = []
        i = wlo
        n = len(toks)
        while i < n:
            t = toks[i]
            low = lows[i]
            if t == "(" and i + 1 < n and lows[i + 1] == "select":
                # the span is replaced by its bare expression, so a
                # structural consumer of the SUBQUERY form breaks:
                # EXISTS(<expr>) is a syntax error (r10 review finding)
                # — reject rather than emit invalid SQL
                if out and out[-1].lower() == "exists":
                    return None
                k = close_paren(toks, i)
                if k >= n:
                    return None
                # shape: select <expr> from event  (nothing after)
                expr = _scalar_event_subq(toks[i : k + 1], lows[i : k + 1])
                if not expr:
                    return None
                elows = _lowered(expr)
                # validate + rewrite the expression
                rewritten: list[str] = []
                for m, et in enumerate(expr):
                    el = elows[m]
                    if _is_word(et):
                        nxt = expr[m + 1] if m + 1 < len(expr) else ""
                        prv = expr[m - 1] if m > 0 else ""
                        if nxt == "(":
                            if el in _AGG_FNS or el in _DELETE_UNSAFE_FNS:
                                return None
                            rewritten.append(et)
                            continue
                        if el in ("event",) and nxt == ".":
                            rewritten.append("__ev__")
                            continue
                        if el in ("idx", "user", "payload") and prv != ".":
                            rewritten += ["__ev__", ".", et]
                            continue
                        if el in ("events",) or el in known:
                            return None
                    rewritten.append(et)
                out += ["(", *rewritten, ")"]
                i = k + 1
                continue
            if _is_word(t):
                nxt = toks[i + 1] if i + 1 < n else ""
                prv = toks[i - 1] if i > 0 else ""
                if low == "select":
                    return None  # a subquery we didn't recognize
                if nxt == "(" and low in _DELETE_UNSAFE_FNS:
                    return None
                if low in ("event", "events") and prv != ".":
                    return None
                if (
                    low in ("idx", "user", "payload")
                    and prv != "."
                    and nxt != "("
                ):
                    return None  # would be captured by __ev__
                if (
                    low in known
                    and prv != "."
                    and nxt != "."  # t.col qualifiers stay legal
                ):
                    return None  # stray managed-table reference
            out.append(t)
            i += 1
        compiled = (
            f"delete from {raw_target} where exists ( select 1 from "
            f"event as __ev__ where {' '.join(out)} )"
        )
        return flat, compiled
    except Exception:
        return None


def _parse_pooled_delete(
    stmt: str, key: str, store: TableStore
) -> tuple[str, str, str, list[str], str] | None:
    """Parse a DELETE so it can join a pooled-round group keyed on
    ``key``: (raw target, source SQL, residual predicate, mixed-guard
    source columns, mixed-guard predicate).

    Required shape: ``DELETE FROM t WHERE <conjunction>`` where exactly
    ONE depth-0 conjunct is ``<key> = (SELECT <expr> FROM event)``
    (either side order), every other conjunct is either event-only (its
    only identifiers live inside ``(select … from event)`` scalar
    subqueries — moved into the source WHERE, with each subquery
    collapsing to its bare expression since the source itself scans
    ``event``) or target-only (no subqueries, no managed-table/event
    words — kept in the DELETE as a residual that evaluates against the
    live interleaved state, which is exactly per-event semantics). The
    per-(event, statement) op then touches only its key's rows, so it
    commutes across keys and ranks into the same (idx, statement) order
    as the inserts.

    Source SQL: ``select <expr> as <key>, idx as __ord__ from event
    [where <event conjs>]``. Execution per round: ``delete from t where
    <key> in (select <key> from <round view>) [and (<residual>)]``. NULL
    keys never match either side — the same no-op as the reference's
    ``k = NULL``.

    r12 extension — MIXED event/target conjuncts (the guarded delete,
    ``… AND n < (SELECT cap FROM event)``) classify via
    ``_classify_mixed_conj``: each event subquery becomes a ``__e<n>__``
    source column (the key then aliases ``__k__`` so target columns
    correlate cleanly) and execution switches to ``DELETE FROM t WHERE
    EXISTS (SELECT 1 FROM <round view> WHERE __k__ = <key> AND
    <guard>)`` — the guard reads the pre-round row of the op's own key,
    which is the sequential fold's evaluation order restricted to that
    key (keys are unique per round, deletes of different keys
    commute)."""
    try:
        toks = tokenize(stmt)
        lows = _lowered(toks)
        if (
            len(lows) < 5
            or lows[0] != "delete"
            or lows[1] != "from"
            or "returning" in lows
        ):
            return None
        raw_target, j = qualified_name(toks, 2)
        flat = flat_name(raw_target)
        tdef = store.defs.get(flat)
        if tdef is None:
            return None
        if any(t.table == flat for t in store.triggers.values()):
            return None
        fields = {f.name.lower() for f in tdef.schema.fields}
        if key.lower() not in fields:
            return None
        if j >= len(toks) or lows[j] != "where":
            return None
        wlo = j + 1
        if any(lows[i] in ("order", "limit") for i in top_level(toks, wlo)):
            return None
        known = store.known_tables()
        key_expr: list[str] | None = None
        ev_conjs: list[list[str]] = []
        residual: list[list[str]] = []
        mixed: list[tuple[list[str], list[list[str]]]] = []
        for lo, hi in top_spans(toks, "and", wlo):
            span = toks[lo:hi]
            slows = lows[lo:hi]
            got = _classify_delete_conj(span, slows, key, flat, known)
            if got is None:
                mg = _classify_mixed_conj(span, slows, flat, fields, known)
                if mg is None:
                    return None
                mixed.append(mg)
                continue
            kind, payload = got
            if kind == "key":
                if key_expr is not None:
                    return None  # two key equalities: ambiguous
                key_expr = payload
            elif kind == "event":
                ev_conjs.append(payload)
            else:
                residual.append(payload)
        if key_expr is None:
            return None
        e_exprs: list[list[str]] = []
        mixed_parts: list[str] = []
        for mtoks, mexprs in mixed:
            final: list[str] = []
            for t in mtoks:
                if t.startswith("\x00E"):
                    e_exprs.append(mexprs[int(t[2:])])
                    final += ["(", f"__e{len(e_exprs)}__", ")"]
                else:
                    final.append(t)
            mixed_parts.append("( " + " ".join(final) + " )")
        ecols = [f"__e{n + 1}__" for n in range(len(e_exprs))]
        key_alias = "__k__" if ecols else key
        sels = [f"{' '.join(key_expr)} as {key_alias}"]
        sels += [f"{' '.join(e)} as __e{n + 1}__" for n, e in enumerate(e_exprs)]
        src = f"select {', '.join(sels)} , idx as __ord__ from event"
        if ev_conjs:
            src += " where " + " and ".join(
                "( " + " ".join(c) + " )" for c in ev_conjs
            )
        res = " and ".join("( " + " ".join(c) + " )" for c in residual)
        return raw_target, src, res, ecols, " and ".join(mixed_parts)
    except Exception:
        return None


def _parse_pooled_update(
    stmt: str, key: str | None, store: TableStore
) -> tuple | None:
    """Parse an event-keyed UPDATE so it can run in pooled per-key
    occurrence rounds: (flat target, raw target, key column, source SQL,
    SET assignment list, residual predicate, carried columns).

    Required shape: ``UPDATE t SET <col> = <expr over t-columns and
    (SELECT e FROM event) scalar subqueries>, … WHERE <conjunction with
    exactly one key equality <pk-col> = (SELECT … FROM event)>`` — the
    reference's accumulate-by-key module shape (the COUNTER fixture); the
    key must be t's single-column primary key. Each (event, statement)
    op touches only its key's row, so it commutes across keys and ranks
    by (idx, statement) like the pooled inserts/deletes (lib.rs:543-569
    order per key).

    Round execution rewrites to an UPSERT whose source joins the target:
    every event subquery becomes a materialized source column
    ``__e<n>__`` and the statement becomes ``INSERT INTO t (key, cols…)
    SELECT view.__k__, <exprs(__e<n>__)>, <carried> FROM view, t WHERE
    view.__k__ = t.key [AND residual] ON CONFLICT(key) DO UPDATE SET col
    = excluded.col`` — keys are unique per round (rank), only existing
    rows are selected (the join), so the DO UPDATE branch always fires
    and UPDATE semantics hold exactly. This shape deliberately AVOIDS
    UPDATE…FROM: its existing⋈matches self-join under the fold's
    insert-union trips Spark's Union.rewriteConstraints at the batch-end
    checkpoint, while join-under-union inside an insert source is the
    shape the compiled dedup idiom has exercised since r9. ``key=None``
    discovers the key column from the equality conjunct; a non-None key
    (imposed by the group's conflict key) must match it."""
    try:
        toks = tokenize(stmt)
        lows = _lowered(toks)
        if (
            len(lows) < 6
            or lows[0] != "update"
            or "returning" in lows
            or lows[1] in ("or",)  # UPDATE OR IGNORE/… conflict
        ):
            return None
        raw_target, j = qualified_name(toks, 1)
        flat = flat_name(raw_target)
        tdef = store.defs.get(flat)
        if tdef is None:
            return None
        if any(t.table == flat for t in store.triggers.values()):
            return None
        fields = {f.name.lower() for f in tdef.schema.fields}
        if any(f.startswith("__") for f in fields):
            return None
        if j >= len(toks) or lows[j] != "set":
            return None
        # depth-0 WHERE / FROM after SET
        where_i = None
        for i in top_level(toks, j + 1):
            if lows[i] in ("from", "order", "limit"):
                return None  # already a join-update / ordered form
            if lows[i] == "where":
                where_i = i
                break
        if where_i is None:
            return None  # unkeyed UPDATE touches every row
        known = store.known_tables()
        # --- WHERE: find the key conjunct, split the rest --------------
        key_expr: list[str] | None = None
        key_col: str | None = None
        ev_conjs: list[list[str]] = []
        residual: list[list[str]] = []
        mixed: list[tuple[list[str], list[list[str]]]] = []
        for lo, hi in top_spans(toks, "and", where_i + 1):
            span, slows = toks[lo:hi], lows[lo:hi]
            cand_cols = [key] if key is not None else sorted(fields)
            got = None
            for kc in cand_cols:
                got = _classify_delete_conj(span, slows, kc, flat, known)
                if got is not None and got[0] == "key":
                    if key_expr is not None:
                        return None  # two key equalities
                    key_expr, key_col = got[1], kc
                    break
                if key is not None:
                    break  # classification below handles non-key
            if key_expr is not None and got and got[0] == "key":
                continue
            got = _classify_delete_conj(
                span, slows, key or "\x00nokey", flat, known
            )
            if got is None:
                # guarded-counter shape (r12): a conjunct mixing an event
                # subquery with target columns compiles too — it applies
                # at round time against the pre-round row
                mg = _classify_mixed_conj(span, slows, flat, fields, known)
                if mg is None:
                    return None
                mixed.append(mg)
                continue
            kind, payload = got
            if kind == "key":
                if key_expr is not None:
                    return None
                key_expr, key_col = payload, key
            elif kind == "event":
                ev_conjs.append(payload)
            else:
                residual.append(payload)
        if key_expr is None or key_col is None:
            return None
        if key is not None and key_col.lower() != key.lower():
            return None
        # --- SET: rewrite event subqueries to source columns -----------
        e_exprs: list[list[str]] = []
        set_parts: list[str] = []
        for lo, hi in top_spans(toks, ",", j + 1, where_i):
            span, slows = toks[lo:hi], lows[lo:hi]
            if (
                len(span) < 3
                or not _is_word(span[0])
                or slows[0] not in fields
                or span[1] != "="
            ):
                return None
            out: list[str] = [span[0], "="]
            i2, n2 = 2, len(span)
            while i2 < n2:
                t = span[i2]
                if t == "(" and i2 + 1 < n2 and slows[i2 + 1] == "select":
                    k2 = close_paren(span, i2)
                    expr = _scalar_event_subq(
                        span[i2 : k2 + 1], slows[i2 : k2 + 1]
                    )
                    if expr is None or not _event_expr_ok(expr, known):
                        return None
                    if out and out[-1].lower() in ("exists",):
                        return None
                    e_exprs.append(expr)
                    out.append(f"__e{len(e_exprs)}__")
                    i2 = k2 + 1
                    continue
                if _is_word(t):
                    low = slows[i2]
                    nxt = span[i2 + 1] if i2 + 1 < n2 else ""
                    prv = span[i2 - 1] if i2 > 0 else ""
                    if low == "select":
                        return None  # unrecognized subquery
                    if nxt == "(" and low in _DELETE_UNSAFE_FNS:
                        return None
                    if low in ("event", "events") and prv != ".":
                        return None
                    if low in known and prv != "." and nxt != ".":
                        return None
                out.append(t)
                i2 += 1
            set_parts.append(" ".join(out))
        if not set_parts:
            return None
        # mixed conjuncts: materialize their event subqueries as further
        # __e<n>__ source columns (numbering continues the SET clause's)
        # and fold the rewritten conjunct into the residual — the round
        # join applies it against the pre-round target row
        for mtoks, mexprs in mixed:
            final: list[str] = []
            for t in mtoks:
                if t.startswith("\x00E"):
                    e_exprs.append(mexprs[int(t[2:])])
                    final += ["(", f"__e{len(e_exprs)}__", ")"]
                else:
                    final.append(t)
            residual.append(final)
        sels = [f"{' '.join(key_expr)} as __k__"]
        sels += [f"{' '.join(e)} as __e{n + 1}__" for n, e in enumerate(e_exprs)]
        src = f"select {', '.join(sels)}, idx as __ord__ from event"
        if ev_conjs:
            src += " where " + " and ".join(
                "( " + " ".join(c) + " )" for c in ev_conjs
            )
        res = " and ".join("( " + " ".join(c) + " )" for c in residual)
        # the round rewrite expresses the update as an upsert on the key;
        # with a NON-unique key the conflict machinery would collapse the
        # multi-row update — require the key be the single-column primary
        # key OR carry a declared single-column UNIQUE constraint / unique
        # index (r12: the register-then-update-by-handle module shape keys
        # on a unique TEXT column, not the rowid pk), and refuse key
        # reassignment (the upsert's conflict target cannot also be SET)
        if [k.lower() for k in tdef.primary_key] != [
            key_col.lower()
        ] and key_col.lower() not in store.unique_key_cols(flat):
            return None
        assigned = {p.split("=", 1)[0].strip().lower() for p in set_parts}
        if key_col.lower() in assigned:
            return None
        others = [
            f.name
            for f in tdef.schema.fields
            if f.name.lower() != key_col.lower()
            and f.name.lower() not in assigned
        ]
        return flat, raw_target, key_col, src, set_parts, res, others
    except Exception:
        return None


def _scalar_event_subq(tokens: list[str], tl: list[str]) -> list[str] | None:
    """``(select <expr> from event)`` → expr tokens, else None."""
    if (
        len(tokens) >= 5
        and tokens[0] == "("
        and tl[1] == "select"
        and tokens[-1] == ")"
    ):
        for m in top_level(tokens, 1, len(tokens) - 1):
            if tl[m] in (
                "from", "where", "group", "order", "limit",
                "union", "intersect", "except",
            ):
                # nothing may follow ``from event``
                tail_ok = m + 2 == len(tokens) - 1 and tl[m + 1] == "event"
                return tokens[2:m] if tl[m] == "from" and tail_ok else None
    return None


def _classify_delete_conj(
    span: list[str],
    slows: list[str],
    key: str,
    flat: str,
    known: set[str],
) -> tuple[str, list[str]] | None:
    """Classify one depth-0 conjunct of a pooled DELETE: ("key", expr
    tokens) | ("event", rewritten tokens) | ("residual", tokens) | None
    (unpoolable)."""
    if not span:
        return None

    # --- key equality: <key> = (select <expr> from event) --------------
    def _is_key_ref(tokens: list[str], tl: list[str]) -> bool:
        if len(tokens) == 1 and tl[0] == key.lower():
            return True
        return (
            len(tokens) == 3
            and tl[0] == flat
            and tokens[1] == "."
            and tl[2] == key.lower()
        )

    # a depth-0 '=' splitting the span; '=' present but not the key shape
    # → the other rules
    m = next((m for m in top_level(span) if span[m] == "="), None)
    if m is not None:
        left, lleft = span[:m], slows[:m]
        right, lright = span[m + 1:], slows[m + 1:]
        for a, la, b, lb in (
            (left, lleft, right, lright),
            (right, lright, left, lleft),
        ):
            if _is_key_ref(a, la):
                expr = _scalar_event_subq(b, lb)
                if expr is not None and _event_expr_ok(expr, known):
                    return "key", expr
    has_select = any(sl == "select" for sl in slows)
    i, n = 0, len(span)
    subq_ok = True
    bare_outside = False  # bare identifier OUTSIDE any subquery = a
    # target column in the original DELETE's scope; moving it into the
    # event-scanning source would rebind it — mixed event/target
    # conjuncts are unpoolable
    out: list[str] = []
    while i < n:
        t = span[i]
        if t == "(" and i + 1 < n and slows[i + 1] == "select":
            k = close_paren(span, i)
            expr = _scalar_event_subq(span[i : k + 1], slows[i : k + 1])
            if expr is None or not _event_expr_ok(expr, known):
                subq_ok = False
                break
            # in the source's FROM event context the subquery collapses
            # to its bare expression
            out += ["(", *expr, ")"]
            i = k + 1
            continue
        if _is_word(t):
            low = slows[i]
            nxt = span[i + 1] if i + 1 < n else ""
            prv = span[i - 1] if i > 0 else ""
            if nxt == "(":
                if low in _DELETE_UNSAFE_FNS:
                    subq_ok = False
                    break
            elif low not in localexec._KEYWORDS and prv != ".":
                bare_outside = True
        out.append(t)
        i += 1
    if has_select:
        if subq_ok and not bare_outside:
            return "event", out
        return None
    # residual (target-only): no event/known-table words, no
    # unsafe/connection fns
    for idx, t in enumerate(span):
        if not _is_word(t):
            continue
        low = slows[idx]
        nxt = span[idx + 1] if idx + 1 < len(span) else ""
        prv = span[idx - 1] if idx > 0 else ""
        if nxt == "(" and low in _DELETE_UNSAFE_FNS:
            return None
        if low in ("event", "events") and prv != ".":
            return None
        if low in known and prv != "." and nxt != ".":
            return None
    return "residual", span


def _classify_mixed_conj(
    span: list[str],
    slows: list[str],
    flat: str,
    fields: set[str],
    known: set[str],
) -> tuple[list[str], list[list[str]]] | None:
    """MIXED event/target conjunct of a pooled keyed UPDATE/DELETE — the
    guarded-counter shape (``… AND n < (SELECT cap FROM event)``):
    contains BOTH scalar ``(select <expr> from event)`` subqueries and
    target-column references. Returns (tokens with ``\\x00E<k>``
    sentinels replacing each subquery, [expr token lists]), or None
    (unpoolable).

    The caller materializes each expr as a ``__e<n>__`` SOURCE column and
    applies the conjunct at round-apply time against the pre-round table
    — which is exactly the sequential fold's guard evaluation
    (lib.rs:543-569) restricted to the op's own key: the key-equality
    conjunct scopes the op to one row, rank r applies after ranks <r of
    the same key, and cross-key ops commute because the guard reads only
    the joined row. Gates: every subquery expr passes ``_event_expr_ok``;
    every bare identifier is a target column (or keyword/number);
    qualified refs only as ``<flat>.<col>``; no aggregates or unsafe fns;
    no EXISTS over the subquery (scalar collapse would change its
    meaning)."""
    if any(f.startswith("__") for f in fields):
        return None  # target cols would collide with __e<n>__ refs
    out: list[str] = []
    exprs: list[list[str]] = []
    saw_target = False
    i, n = 0, len(span)
    while i < n:
        t = span[i]
        if t == "(" and i + 1 < n and slows[i + 1] == "select":
            k = close_paren(span, i)
            expr = _scalar_event_subq(span[i : k + 1], slows[i : k + 1])
            if expr is None or not _event_expr_ok(expr, known):
                return None
            if out and out[-1].lower() == "exists":
                return None
            out.append(f"\x00E{len(exprs)}")
            exprs.append(expr)
            i = k + 1
            continue
        if _is_word(t):
            low = slows[i]
            nxt = span[i + 1] if i + 1 < n else ""
            prv = span[i - 1] if i > 0 else ""
            if low == "select":
                return None  # non-event subquery
            if nxt == "(":
                if low in _DELETE_UNSAFE_FNS or low in _AGG_FNS:
                    return None
            elif prv == ".":
                if low not in fields:
                    return None
                saw_target = True
            elif nxt == ".":
                if low != flat:
                    return None  # only the target may qualify
            elif low in localexec._KEYWORDS:
                pass
            elif low in fields:
                saw_target = True
            elif low in ("event", "events") or low in known:
                return None
            else:
                return None  # unknown identifier: not provably safe
        out.append(t)
        i += 1
    if not exprs or not saw_target:
        return None  # pure shapes belong to the event/residual classes
    return out, exprs


def _event_expr_ok(expr: list[str], known: set[str]) -> bool:
    """An expression destined for the pooled-delete SOURCE select (FROM
    event context): no aggregates (they'd re-scope from the single-row
    per-event table to the whole batch), no unsafe fns, no managed-table
    references."""
    lows = _lowered(expr)
    for i, t in enumerate(expr):
        if not _is_word(t):
            continue
        low = lows[i]
        nxt = expr[i + 1] if i + 1 < len(expr) else ""
        prv = expr[i - 1] if i > 0 else ""
        if nxt == "(":
            if low in _AGG_FNS or low in _DELETE_UNSAFE_FNS:
                return False
            continue
        if low in ("event",) and nxt == ".":
            continue
        if (low in known or low == "events") and prv != ".":
            return False
    return True


# -- set-wise dedup-idiom compilation (round 9, VERDICT r8 #2) -------------


def _compile_dedup_idiom(stmt: str, store: TableStore) -> tuple[str, str] | None:
    """Compile the NOT-EXISTS-on-target dedup idiom

        INSERT INTO t (cols) SELECT … FROM event
        WHERE … AND NOT EXISTS (SELECT … FROM t WHERE k = <expr> …)

    into ONE set-wise statement: elect the first occurrence per probe key
    within the batch (row_number over the key, ordered by event idx —
    exactly the intra-batch blocking the reference's sequential fold
    produces, leaf-stream/src/lib.rs:543-569), then keep the NOT EXISTS
    against the pre-statement table, which is now exact because elected
    keys are unique. A replay fold of such a module becomes one Spark
    statement instead of one per event.

    Exactness conditions enforced here: every correlated equality pairs
    a target column with an event-side expression that is
    TOKEN-IDENTICAL to that column's inserted value (so inserting a row
    blocks exactly the later events the reference would block); rows
    whose key is NULL bypass election and the probe (NULL = NULL is not
    true in SQLite — every NULL-key event inserts and blocks nothing); no
    other managed reference anywhere in the statement. Returns (flat
    target, compiled SQL) or None."""
    try:
        toks = tokenize(stmt)
        lows = _lowered(toks)
        if not lows or lows[0] != "insert" or "returning" in lows:
            return None
        split = split_insert(toks, lows)
        if split is None:
            return None
        isel, icut = split
        if icut >= 0:  # ON CONFLICT is the upsert machinery's job
            return None
        raw_target, flat, j = insert_target(toks, lows)
        tdef = store.defs.get(flat)
        if tdef is None:
            return None
        if any(t.table == flat for t in store.triggers.values()):
            return None
        cols = insert_columns(toks, j, isel, tdef)
        tcols = {f.name.lower() for f in tdef.schema.fields}
        reserved = {"__ord__", "__rn__"}
        if reserved & {c.lower() for c in cols} or reserved & tcols:
            return None
        for a in _DEDUP_ALIASES:
            if a in store.defs or a in store.views:
                return None
        # depth-0 FROM event WHERE …
        ifrom = next((i for i in top_level(toks, isel) if lows[i] == "from"), -1)
        if (
            ifrom < 0
            or ifrom + 2 >= len(toks)
            or lows[ifrom + 1] != "event"
            or lows[ifrom + 2] != "where"
        ):
            return None
        # select list: one expression per target column, optional AS
        exprs: list[list[str]] = []
        for lo, hi in top_spans(toks, ",", isel + 1, ifrom):
            item = toks[lo:hi]
            if len(item) >= 2 and _is_word(item[-1]) and item[-2].lower() == "as":
                item = item[:-2]
            if not item:
                return None
            exprs.append(item)
        if len(exprs) != len(cols):
            return None
        # WHERE region must be a bare conjunction (no trailing clauses)
        wlo = ifrom + 3
        if any(
            lows[i] in (
                "group", "order", "limit", "having", "union",
                "intersect", "except", "window", "on", "or",
            )
            for i in top_level(toks, wlo)
        ):
            return None
        conjs = top_spans(toks, "and", wlo)
        ne = [
            (lo, hi)
            for lo, hi in conjs
            if hi - lo >= 4
            and lows[lo] == "not"
            and lows[lo + 1] == "exists"
            and toks[lo + 2] == "("
            and toks[hi - 1] == ")"
        ]
        if len(ne) != 1:
            return None
        nlo, nhi = ne[0]
        keys = _parse_dedup_probe(
            toks[nlo + 3 : nhi - 1],
            lows[nlo + 3 : nhi - 1],
            flat,
            tdef,
            cols,
            exprs,
        )
        if not keys:
            return None
        # the reduced statement (idiom conjunct removed) must be the
        # plain insert-from-event shape with no other managed refs
        wprime: list[str] = []
        for lo, hi in conjs:
            if (lo, hi) == (nlo, nhi):
                continue
            if wprime:
                wprime.append("and")
            wprime.extend(toks[lo:hi])
        reduced = " ".join(
            toks[: ifrom + 2] + (["where", *wprime] if wprime else [])
        )
        if _stmt_batch_safe(reduced, store) is None:
            return None
        inner_sel = (
            "select "
            + ", ".join(" ".join(exprs[i]) + " as " + c for i, c in enumerate(cols))
            + ", idx as __ord__ from event"
            + ((" where " + " ".join(wprime)) if wprime else "")
        )
        null_bypass = "".join(f" or {k} is null" for k in keys)
        probe = " and ".join(f"__deduptgt__.{k} = __dedupcand__.{k}" for k in keys)
        compiled = (
            " ".join(toks[:isel])
            + " select "
            + ", ".join(cols)
            + ", __ord__ from (select "
            + ", ".join(cols)
            + ", __ord__, row_number() over (partition by "
            + ", ".join(keys)
            + " order by __ord__) as __rn__ from ("
            + inner_sel
            + ") __dedupsrc__) __dedupcand__ where (__rn__ = 1"
            + null_bypass
            + ") and not exists (select 1 from "
            + raw_target
            + " __deduptgt__ where "
            + probe
            + ")"
        )
        return flat, compiled
    except Exception:
        return None


def _parse_dedup_probe(
    inner: list[str],
    inlows: list[str],
    flat: str,
    tdef: TableDef,
    cols: list[str],
    exprs: list[list[str]],
) -> list[str] | None:
    """The NOT EXISTS body must be SELECT … FROM <target> WHERE a
    conjunction of equalities, each pairing a target column with the
    token-identical expression inserted for that column (so the insert
    blocks exactly what the probe would later see). Returns the key
    column list, or None."""
    if not inner or inlows[0] != "select":
        return None
    ifrom = next((i for i in top_level(inner) if inlows[i] == "from"), -1)
    if ifrom < 0:
        return None
    if ifrom + 1 >= len(inner):
        return None
    probe, j = qualified_name(inner, ifrom + 1)
    if flat_name(probe) != flat:
        return None
    if j >= len(inner) or inlows[j] != "where":  # no alias/join forms
        return None
    tname = inner[j - 1].lower()
    tcols = {f.name.lower() for f in tdef.schema.fields}
    colmap = {c.lower(): " ".join(_lowered(exprs[i])) for i, c in enumerate(cols)}

    def colref(ts: list[str], ls: list[str]) -> str | None:
        if len(ts) == 1 and _is_word(ts[0]) and ls[0] in tcols:
            return ls[0]
        if (
            len(ts) == 3
            and ts[1] == "."
            and _is_word(ts[0])
            and ls[0] in (tname, flat)
            and ls[2] in tcols
        ):
            return ls[2]
        return None

    keys: list[str] = []
    for lo, hi in top_spans(inner, "and", j + 1):
        span, slows = inner[lo:hi], inlows[lo:hi]
        ieq = next((i for i in top_level(span) if span[i] == "="), -1)
        if ieq < 0:
            return None
        c = colref(span[:ieq], slows[:ieq])
        evt, evl = span[ieq + 1 :], slows[ieq + 1 :]
        if c is None:
            c = colref(span[ieq + 1 :], slows[ieq + 1 :])
            evt, evl = span[:ieq], slows[:ieq]
        if c is None or not evt:
            return None
        # the event-side expression must not resolve to the inner table
        # (bare target-column names win inner resolution in SQLite and
        # Spark alike) nor nest its own query
        for i, t in enumerate(evt):
            if not _is_word(t):
                continue
            w = evl[i]
            if w in ("select", "exists"):
                return None
            if i + 1 < len(evt) and evt[i + 1] == "(":
                continue  # function name
            if i >= 1 and evt[i - 1] == ".":
                continue  # qualified member; qualifier checked below
            if w in tcols or w in (tname, flat):
                return None
        if c not in colmap:
            return None
        if " ".join(evl) != colmap[c]:
            return None
        if c not in keys:
            keys.append(c)
    return keys or None


# -- pooled rounds (r10, VERDICT r9 #4) ------------------------------------


def _pooled_steps(
    stmts: list[str],
    safe: list[tuple[str, bool] | None],
    acc: list[bool],
    store: TableStore,
) -> list[FoldStep] | None:
    """The POOLED-ROUND tier of ``plan``: scripts where two or more
    conflict-handling INSERT…SELECT FROM event statements share a target
    — the shape ``_shared_target_hazard`` otherwise forces per-event.
    ``safe`` and ``acc`` are the planner's per-statement
    ``_stmt_batch_safe`` and ``_accumulating_upsert`` results. Every
    member of a shared group becomes a ``pooled`` step; the first carries
    the group [(stmt_idx, tagged shape), …], which runs there
    (cross-target statements commute — sources read only event). Returns
    None when the script doesn't qualify.

    Why rounds interleave correctly: each (event, statement) pair is an
    operation touching ONLY the rows of its conflict key (the source
    reads just ``event``), so operations on different keys commute; per
    key, the reference's sequential fold (leaf-stream/src/lib.rs:543-569)
    applies operations in (event idx, statement position) order. Rank
    every pooled operation within its key by that order; round r then
    applies each statement's rank-r operations set-wise, in statement
    order — keys inside one round are unique across the whole pool, so
    the execution order within a round is invisible and the per-key
    subsequence replays exactly. R = max operations per key → O(R·S)
    Spark statements, not O(events).

    Qualification per shared target: every statement on it is a
    conflict-handling insert with a parseable upsert shape and the SAME
    conflict-key column set; no auto-assigned INTEGER PK (row ids would
    assign in pooled order, which is order-visible); no reserved-name
    collisions."""
    if "__poolsrc__" in store.defs or "__poolsrc__" in store.views:
        return None
    # ("insert", tgt, conflict?) | ("delete", tgt) | ("update", tgt)
    per_stmt: list[tuple[str, str, bool]] = []
    for stmt, got in zip(stmts, safe):
        if got is not None:
            per_stmt.append(("insert", got[0], got[1]))
            continue
        dt = _delete_target(stmt)
        if dt is not None:
            per_stmt.append(("delete", dt, True))
            continue
        ut = _update_target(stmt)
        if ut is not None:
            per_stmt.append(("update", ut, True))
            continue
        return None
    by_tgt: dict[str, list[int]] = {}
    for i, (_, tgt, _) in enumerate(per_stmt):
        by_tgt.setdefault(tgt, []).append(i)
    # a target is a pooled GROUP when >1 statement writes it, or when an
    # UPDATE writes it at all: same-key updates must apply sequentially
    # even standalone (n = n + delta twice), so a lone update still needs
    # per-key rounds
    shared = {
        t: idxs
        for t, idxs in by_tgt.items()
        if len(idxs) > 1 or any(per_stmt[i][0] == "update" for i in idxs)
    }
    # a LONE delete is the compiled tier's territory; a lone delete here
    # (reached because something ELSE made the script unpoolable by that
    # tier, e.g. a shared group) compiles the same way
    if not shared:
        return None
    groups: dict[str, list[tuple[int, tuple]]] = {}
    for tgt, idxs in shared.items():
        tdef = store.defs.get(tgt)
        if tdef is None:
            return None
        fields = {f.name.lower() for f in tdef.schema.fields}
        if fields & {"__ord__", "__round__", "__stmt__", "__pk__", "__newid__"}:
            return None
        ins_idxs = [i for i in idxs if per_stmt[i][0] == "insert"]
        del_idxs = [i for i in idxs if per_stmt[i][0] == "delete"]
        upd_idxs = [i for i in idxs if per_stmt[i][0] == "update"]
        if (
            ins_idxs
            and not del_idxs
            and not upd_idxs
            and all(not per_stmt[i][2] for i in ins_idxs)
        ):
            # shared PLAIN inserts: only hazard is the rowid-alias id
            # sequence (why the plain tier rejected them) — compile by
            # assigning ids explicitly as max + global (idx, statement)
            # rank
            shapes = []
            for i in ins_idxs:
                ps = _parse_plain_insert(stmts[i], store)
                if ps is None:
                    return None
                shapes.append((i, ("plainins", ps)))
            groups[tgt] = shapes
            continue
        if not ins_idxs and not upd_idxs:
            # deletes-only shared target: deletes COMMUTE (both only
            # remove; the survivor set is "no statement's predicate
            # matched for any event" regardless of order), so each
            # compiles independently set-wise
            shapes = []
            for i in del_idxs:
                cd = _compile_delete_setwise(stmts[i], store)
                if cd is None:
                    return None
                shapes.append((i, ("delcompiled", cd[1])))
            groups[tgt] = shapes
            continue
        shapes = []
        keyset: set[str] | None = None
        for i in ins_idxs:
            if not per_stmt[i][2]:  # plain insert on a shared
                return None  # conflict target: order-visible dupes
            shape = parse_upsert_shape(stmts[i], store)
            if shape is None:
                return None
            cols, keys, *_ = shape
            ks = {k.lower() for k in keys}
            if keyset is None:
                keyset = ks
            elif ks != keyset:
                return None
            # auto-assigned rowid-alias PK would number rows in pooled
            # order — require it be explicitly inserted
            pk = int_pk(tdef)
            if pk is not None and pk.lower() not in {c.lower() for c in cols}:
                return None
            shapes.append((i, ("upsert", shape)))
        if del_idxs or upd_idxs:
            # interleaved delete/update ops must be keyed by ONE column
            # shared with the inserts' conflict key (when inserts are
            # present) so every op ranks into the pool
            if keyset is not None and len(keyset) != 1:
                return None
            key = next(iter(keyset)) if keyset is not None else None
            for i in upd_idxs:
                us = _parse_pooled_update(stmts[i], key, store)
                if us is None:
                    return None
                _flat, raw, key_col, src, set_sql, res, others = us
                if key is None:
                    key = key_col  # first update fixes the group key
                elif key_col.lower() != key.lower():
                    return None
                shapes.append(
                    (i, ("update", (key_col, raw, src, set_sql, res, others)))
                )
            for i in del_idxs:
                if key is None:
                    return None  # deletes need a keyed sibling
                ds = _parse_pooled_delete(stmts[i], key, store)
                if ds is None:
                    return None
                shapes.append((i, ("delete", (key, *ds))))
        groups[tgt] = sorted(shapes)
    # unshared statements must be safe to run set-wise on their own:
    # non-accumulating (or round-wise-able) — accumulating singles reuse
    # the round-wise executor; unshared deletes compile via the compiled
    # tier's rewrite or refuse the plan
    steps: list[FoldStep] = []
    for i, (kind, tgt, _) in enumerate(per_stmt):
        if tgt in groups:
            first = groups[tgt][0][0] == i
            steps.append(
                FoldStep("pooled", stmts[i], tgt, groups[tgt] if first else None)
            )
        elif kind == "delete":
            cd = _compile_delete_setwise(stmts[i], store)
            if cd is None:
                return None
            steps.append(FoldStep("compiled", cd[1]))
        elif acc[i]:
            if not _roundwise_ok(stmts[i], store):
                return None
            steps.append(FoldStep("roundwise", stmts[i]))
        else:
            steps.append(_plain_step(stmts[i], store))
    return steps


def _parse_plain_insert(
    stmt: str, store: TableStore
) -> tuple[str, list[str], str] | None:
    """(raw target, insert columns, ord-injected source SQL) for a PLAIN
    insert (no conflict clause) into a rowid-alias table whose id column
    is auto-assigned — the shape whose only order visibility is the id
    sequence itself. The pooled compile assigns ids explicitly as
    max+global-rank over (event idx, statement position), exactly the
    sequence the per-event fold produces."""
    try:
        toks = tokenize(_inject_ord(stmt))
        lows = _lowered(toks)
        split = split_insert(toks, lows)
        if split is None:
            return None
        isel, icut = split
        if icut >= 0 or "returning" in lows:
            return None
        raw_target, flat, j = insert_target(toks, lows)
        tdef = store.defs.get(flat)
        if tdef is None:
            return None
        cols = insert_columns(toks, j, isel, tdef)
        if int_pk(tdef) is None:
            return None
        # pk listed in the insert columns is fine (r11): a runtime-NULL id
        # auto-assigns, an explicit one pins — the pooled executor runs
        # the same sequential-fold closed form dml.py uses, over the
        # global (idx, statement) order
        return raw_target, cols, " ".join(toks[isel:])
    except Exception:
        return None


def _update_target(stmt: str) -> str | None:
    """Flat target of a plain UPDATE statement, else None."""
    toks = tokenize(stmt)
    lows = _lowered(toks)
    if len(lows) < 4 or lows[0] != "update" or lows[1] == "or":
        return None
    return flat_name(qualified_name(toks, 1)[0])


def _delete_target(stmt: str) -> str | None:
    """Flat target of a DELETE FROM statement, else None."""
    toks = tokenize(stmt)
    lows = _lowered(toks)
    if len(lows) < 3 or lows[0] != "delete" or lows[1] != "from":
        return None
    return flat_name(qualified_name(toks, 2)[0])


def _ord_needed(stmt: str, store: TableStore) -> bool:
    """True when a set-wise insert must carry ``__ord__``: conflict
    resolution (last-event-wins order) OR rowid-alias auto-assignment
    (the dml layer numbers max+1 ids in __ord__ order when present;
    without it FRAME order decides — which on a replayed multi-file log
    is size-sorted file order, not event order — r10 finding: replayed
    rowid tables came back with permuted ids)."""
    if _has_conflict_clause(stmt):
        return True
    try:
        toks = tokenize(stmt)
        lows = _lowered(toks)
        if not lows or lows[0] != "insert":
            return False
        tdef = store.defs.get(insert_target(toks, lows)[1])
        # rowid-alias targets ALWAYS carry __ord__: even with the pk
        # listed in the insert columns, a runtime-NULL id expression
        # auto-assigns, and the assignment sequence (dml.py's
        # sequential-fold closed form) is defined by event order
        return tdef is not None and int_pk(tdef) is not None
    except Exception:
        return False
