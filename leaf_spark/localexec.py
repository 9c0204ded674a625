"""Driver-side SQLite evaluation of event-only module statements.

The single-event commit floor was ~4 Spark actions x ~250 ms of intrinsic
Python-runner job latency (SCALE.md §3): the authorizer's drisl UDF
branch, the fold insert's constraint scan, and the checkpoint each re-ran
a Python-worker round trip over a one-row batch. But the staged event
batch is DRIVER-LOCAL data (it arrives as Python objects through the
API), and the reference executes these statements in-process in SQLite
(leaf-stream/src/lib.rs:636-644) — so for statements that touch ONLY the
staged ``event`` table, evaluating them in the stdlib ``sqlite3`` on the
driver is both the scale-correct move (no cluster round trip for one
row) and the parity-correct one (the dialect IS SQLite; our Spark
translation layer is the approximation, differential-tested against this
very engine in tests/test_sqlite_differential.py).

Safety model: a statement takes the local path only when
  * every table it references is the staged ``event`` view or a
    mirrored managed table (any other known store table, a
    ``state.``/``main.`` qualifier left after ``flatten_namespaces``,
    or the raw ``events`` log forces the Spark path), and
  * every function it calls is on the curated allowlist below — names
    where native-SQLite semantics and our Spark translation are the
    same tested surface — and is actually available in the linked
    SQLite (checked against ``pragma_function_list`` once), and
  * any sqlite error during evaluation (unknown column, syntax we
    mis-gated) falls back to the Spark path.

Reads (authorize, fold sources, named queries) never write. The one
write path is ``LocalEval.fold``, the mirror fold of small tables
(``Stream._mirror_fold``): it runs inside a SAVEPOINT on the mirror
connection, and any sqlite error or abort, a written table past the
mirror cap, or a value whose Python type is not exactly its declared
Spark field's rolls the SAVEPOINT back — the mirrors are left as they
were and nothing has reached Spark, so falling back to the Spark fold
is always safe. Where the two engines disagree by raising (a UNIQUE or
NOT NULL violation the Spark path does not enforce), the Spark path's
result or error is the one that comes out.

The drisl_* registrations share the exact conversion functions of the
pandas UDFs (_drisl_udfs.conv_extract_*), so both paths are
value-identical by construction. throw()/unauthorized() raise
:class:`LocalAbort` eagerly — strictly earlier than the Spark path's
raise_error-at-collect, same commit outcome (reference lib.rs:592-595:
any authorizer abort rejects the whole batch).
"""

from __future__ import annotations

import json
import re
import sqlite3
from functools import lru_cache

from . import drisl
from ._drisl_udfs import (
    conv_extract_blob,
    conv_extract_int,
    conv_extract_real,
    conv_extract_str,
)
from .module import ANALYSIS_CACHE
from .sqlcompat import _is_word, lex


_DC_MISS = object()


class LocalAbort(Exception):
    """throw()/unauthorized() fired during local evaluation."""

    def __init__(self, detail: str):
        super().__init__(detail)
        self.detail = detail


class LocalEvalError(Exception):
    """Local evaluation could not complete — caller falls back to Spark."""


# Function names where the native-SQLite behavior is exactly the surface
# our Spark translation mimics (the differential suite's territory).
# Deliberately ABSENT: group_concat / json_group_array (our Spark side
# adds a determinism sort the reference lacks — keep one code path for
# those), random/randomblob (nondeterministic), changes/last_insert_rowid
# /total_changes (substituted driver-side before execution; if one
# survives to here it must NOT silently read the wrong connection),
# json_each/json_tree (table-valued — caught by the table gate anyway).
_FN_CANDIDATES = frozenset({
    "abs", "round", "length", "lower", "upper", "substr", "substring",
    "trim", "ltrim", "rtrim", "replace", "instr", "hex", "quote",
    "coalesce", "ifnull", "nullif", "iif", "typeof", "sign", "min",
    "max", "char", "unicode", "printf", "format", "glob", "like",
    "date", "time", "datetime", "strftime", "unixepoch", "julianday",
    "count", "sum", "avg", "total",
    "json", "json_extract", "json_object", "json_array", "json_set",
    "json_insert", "json_replace", "json_remove", "json_patch",
    "json_type", "json_valid", "json_quote", "json_array_length",
    "sqrt", "pow", "power", "floor", "ceil", "ceiling", "mod", "exp",
    "ln", "log", "log2", "log10", "sin", "cos", "tan", "asin", "acos",
    "atan", "atan2", "degrees", "radians", "trunc", "pi",
})

_DRISL_FNS = frozenset({
    "drisl_extract", "drisl_extract_int", "drisl_extract_real",
    "drisl_extract_blob", "drisl_exists", "drisl_to_json",
})

_ABORT_FNS = frozenset({"throw", "unauthorized"})

# SQL keywords that can directly precede '(' without being a function call
_KEYWORDS = frozenset({
    "exists", "in", "not", "and", "or", "case", "when", "then", "else",
    "end", "select", "from", "where", "group", "having", "order", "by",
    "limit", "offset", "distinct", "as", "on", "join", "left", "right",
    "inner", "outer", "cross", "natural", "union", "all", "except",
    "intersect", "values", "between", "is", "null", "escape", "collate",
    "asc", "desc", "cast", "over", "partition", "filter", "range",
    "rows", "current", "preceding", "following", "unbounded",
})


def _available_fns() -> frozenset[str]:
    """Candidates actually present in the linked SQLite (math functions
    are a compile-time option; pragma_function_list is authoritative)."""
    con = sqlite3.connect(":memory:")
    try:
        have = {
            r[0].lower()
            for r in con.execute("select name from pragma_function_list")
        }
    except sqlite3.Error:
        # very old sqlite: fall back to the always-present core
        have = {
            "abs", "round", "length", "lower", "upper", "substr", "trim",
            "ltrim", "rtrim", "replace", "instr", "hex", "quote",
            "coalesce", "ifnull", "nullif", "typeof", "min", "max",
            "count", "sum", "avg", "total", "date", "time", "datetime",
            "strftime", "like", "glob",
        }
    finally:
        con.close()
    return frozenset(_FN_CANDIDATES & have)


_AVAILABLE_FNS = _available_fns()


def write_target(lows: list[str]) -> str | None:
    """Target table of a plain INSERT INTO / UPDATE / DELETE FROM
    (``lows``: lowercased tokens); None for any other statement,
    including OR-clause conflict resolution and REPLACE."""
    if len(lows) < 3:
        return None
    if lows[0] == "update" and lows[1] != "or":
        return lows[1]
    if (lows[0], lows[1]) in (("insert", "into"), ("delete", "from")):
        return lows[2]
    return None


def eligible(
    stmt: str,
    known_tables: frozenset[str] | set[str],
    allow_abort: bool,
    mirrorable: frozenset[str] | set[str] = frozenset(),
    write: bool = False,
    event: bool = True,
) -> bool:
    """True when ``stmt`` provably touches only the staged ``event``
    table (plus tables in ``mirrorable``, which the caller promises to
    stage as literal rows) and allowlisted functions. ``stmt`` is a
    SELECT, or with ``write`` an INSERT/UPDATE/DELETE (``write_target``)
    whose target is in ``mirrorable``. Without ``event`` (no staged
    batch: the named-query path) an unqualified ``event`` says False.
    Conservative: anything unrecognized (an unmirrored managed-table
    name, a ``state.`` qualifier, the raw ``events`` log, an
    un-allowlisted function, RETURNING) says False and the caller uses
    the Spark path. Memoized on exactly these arguments."""
    return _eligible(
        stmt, frozenset(known_tables), allow_abort, frozenset(mirrorable),
        write, event,
    )


@lru_cache(maxsize=ANALYSIS_CACHE)
def _eligible(
    stmt: str,
    known_tables: frozenset[str],
    allow_abort: bool,
    mirrorable: frozenset[str],
    write: bool,
    event: bool,
) -> bool:
    toks, lows = lex(stmt)
    if write:
        if write_target(lows) not in mirrorable:
            return False
    elif not lows or lows[0] != "select":
        return False
    fn_ok = _AVAILABLE_FNS | _DRISL_FNS
    if allow_abort:
        fn_ok = fn_ok | _ABORT_FNS
    n = len(lows)
    for i, low in enumerate(lows):
        t = toks[i]
        if not _is_word(t):
            continue
        nxt = toks[i + 1] if i + 1 < n else ""
        if (low in known_tables and low not in mirrorable) or low == "events":
            return False
        if low == "event" and not event and (i == 0 or toks[i - 1] != "."):
            return False
        if low in ("state", "main") and nxt == ".":
            return False
        if low == "returning":
            return False
        if nxt == "(":
            if low in _KEYWORDS:
                continue
            # INSERT INTO t (cols…) / ON CONFLICT (keys…)
            if write and (low == "conflict" or (i and lows[i - 1] == "into")):
                continue
            if low not in fn_ok:
                return False
        if low in ("from", "join"):
            # FROM/JOIN target must be the event view, a mirrored table,
            # or a subquery (comma-joined extras are caught by the
            # known-table / sqlite-error gates)
            if (
                nxt
                and nxt != "("
                and nxt.lower() != "event"
                and nxt.lower() not in mirrorable
            ):
                return False
    return True


@lru_cache(maxsize=ANALYSIS_CACHE)
def flatten_namespaces(stmt: str) -> str:
    """``state.t`` → ``state_t`` and ``main.t`` → ``t`` at the token
    level — the store's flat table naming (the same mapping the Spark
    translate layer applies), so read-path statements referencing state
    tables can hit their mirrors. Quoted qualifiers ('"state".t') are
    left alone: they fail the eligibility gate or error in sqlite, both
    of which fall back to Spark. Memoized."""
    toks, lows = lex(stmt)
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        if (
            lows[i] in ("state", "main")
            and _is_word(t)
            and i + 2 < n
            and toks[i + 1] == "."
            and _is_word(toks[i + 2])
            and (not out or out[-1] != ".")
        ):
            if lows[i] == "state":
                out.append(f"state_{toks[i + 2]}")
            else:
                out.append(toks[i + 2])
            i += 3
            continue
        out.append(t)
        i += 1
    return " ".join(out)


# result column names that are plain identifiers are named identically
# by SQLite and Spark (bare columns and explicit aliases); anything else
# (unaliased expressions: 'count(*)' vs 'count(1)') may differ between
# the engines, so the read path falls back to Spark for those
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def plain_ident(name: str) -> bool:
    return bool(_IDENT_RE.match(name or ""))


@lru_cache(maxsize=ANALYSIS_CACHE)
def table_refs(stmt: str, known_tables: frozenset[str]) -> frozenset[str]:
    """Known managed tables the statement mentions (unqualified).
    Memoized on (statement, known-table set)."""
    toks, lows = lex(stmt)
    return frozenset(
        low
        for i, low in enumerate(lows)
        if low in known_tables
        and _is_word(toks[i])
        and (i == 0 or toks[i - 1] != ".")
    )


# Python value types a mirrored table row may carry — anything else
# (Decimal, datetime, arrays/structs) has engine-specific comparison
# semantics and disqualifies the mirror.
_MIRRORABLE_TYPES = (int, float, str, bytes, bool, type(None))

# Spark field type (dml._SQLITE_TYPE_MAP's image) → (declared sqlite
# type of a typed mirror column, the exact Python type sqlite3 returns
# for a value the Spark field can hold)
_DECL = {
    "bigint": ("integer", int),
    "double": ("real", float),
    "string": ("text", str),
    "binary": ("blob", bytes),
}

# DEFAULT clauses a typed mirror declares: literals only, which both
# engines evaluate identically (an expression default — unixepoch(),
# current_timestamp — is evaluated by each engine its own way)
_LITERAL_DEFAULT = re.compile(r"^(null|[+-]?\d+(\.\d+)?|'([^']|'')*')$", re.I)


def _typed_ddl(name: str, tdef, unique: set[str]) -> str | None:
    """CREATE TABLE for a mirror that carries what sqlite needs to fold
    the table natively: declared types (affinity), INTEGER PRIMARY KEY
    (rowid auto-assignment), the primary key and UNIQUE columns (ON
    CONFLICT targets), NOT NULL and literal DEFAULTs — the constraints
    the Spark insert path applies from the same ``TableDef``. Key
    columns get no NOT NULL: the Spark path exempts them too (SQLite's
    NULL-in-PRIMARY-KEY quirk). Declared affinity converts values as the
    reference's SQLite does; the one known difference from the Spark
    cast is a REAL stored into a TEXT column (sqlite's 15-digit text
    form, not Java's). None when a field type or a default has no exact
    declaration here (the mirror is then staged untyped)."""
    pk = tuple(tdef.primary_key)
    ipk = None
    if len(pk) == 1:
        f0 = next((f for f in tdef.schema.fields if f.name == pk[0]), None)
        if f0 is not None and f0.dataType.simpleString() == "bigint":
            ipk = f0.name
    cols = []
    for f in tdef.schema.fields:
        decl = _DECL.get(f.dataType.simpleString())
        default = tdef.defaults.get(f.name)
        if decl is None or (
            default is not None and not _LITERAL_DEFAULT.match(default.strip())
        ):
            return None
        col = f'"{f.name}" {decl[0]}'
        if f.name == ipk:
            col += " primary key"
        elif not f.nullable and f.name not in pk:
            col += " not null"
        if default is not None:
            col += f" default ({default})"
        cols.append(col)
    if pk and ipk is None:
        cols.append("primary key (" + ", ".join(f'"{c}"' for c in pk) + ")")
    cols += [f'unique ("{c}")' for c in sorted(unique)]
    return f'create table "{name}" ({", ".join(cols)})'


def _spark_str(v) -> str | None:
    """Mirror Spark's cast(x AS STRING) for abort-message args."""
    if v is None:
        return None
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


class LocalEval:
    """One in-memory SQLite connection with the module-fn surface
    registered. NOT thread-safe — owned by a Stream, used under its
    lock (the same discipline as the store snapshot)."""

    def __init__(self):
        self._pending_abort: LocalAbort | None = None
        # content-keyed payload-decode memo: the authorizer + fold of one
        # commit call drisl UDFs ~5× per event on the SAME payload bytes,
        # and each call re-ran the full CBOR decode — a top slice of the
        # per-event GIL time that sets the multi-stream convoy ceiling.
        # decode() is a pure function of the bytes, so the memo is safe;
        # size-bounded (cleared wholesale) instead of per-batch so the
        # authorize staging and the fold's run_select share hits.
        self._dcache: dict[bytes, object] = {}
        # mirrors staged with their declared types and constraints
        self._typed: set[str] = set()
        # check_same_thread=False: the owning Stream serializes access
        # under its RLock, but server threads rotate — the sqlite default
        # would refuse the (safe) cross-thread reuse
        con = sqlite3.connect(":memory:", check_same_thread=False)

        def _decode_cached(payload) -> object:
            b = bytes(payload)
            v = self._dcache.get(b, _DC_MISS)
            if v is _DC_MISS:
                if len(self._dcache) > 100_000:
                    self._dcache.clear()
                v = drisl.decode(b)
                self._dcache[b] = v
            return v

        def _wrap2(fn):
            def g(payload, path):
                try:
                    return fn(payload, path)
                except Exception:
                    return None
            return g

        def _extract(conv):
            def g(payload, path):
                if payload is None or path is None:
                    return None
                try:
                    v = drisl.to_sql_value(
                        drisl.extract_value(_decode_cached(payload), path)
                    )
                except Exception:
                    return None
                return conv(None if v is drisl.MISSING else v)
            return g

        con.create_function("drisl_extract", 2, _extract(conv_extract_str),
                            deterministic=True)
        con.create_function("drisl_extract_int", 2,
                            _extract(conv_extract_int), deterministic=True)
        con.create_function("drisl_extract_real", 2,
                            _extract(conv_extract_real), deterministic=True)
        con.create_function("drisl_extract_blob", 2,
                            _extract(conv_extract_blob), deterministic=True)

        def _exists(payload, path):
            if payload is None or path is None:
                return 0
            try:
                return (
                    0
                    if drisl.extract_value(_decode_cached(payload), path)
                    is drisl.MISSING
                    else 1
                )
            except Exception:
                return 0

        con.create_function("drisl_exists", 2, _exists, deterministic=True)
        con.create_function(
            "drisl_to_json", 1,
            _wrap2(
                lambda p, _=None: json.dumps(
                    _decode_cached(p),
                    separators=(",", ":"),
                    sort_keys=False,
                    default=drisl._json_default,
                )
                if p is not None
                else None
            ),
            deterministic=True,
        )

        def _abort(prefix):
            def g(*args):
                parts = [s for s in (_spark_str(a) for a in args)
                         if s is not None]
                msg = " ".join(([prefix] if prefix else []) + parts)
                ab = LocalAbort(msg)
                self._pending_abort = ab
                raise ab
            return g

        # sqlite has no varargs-with-registration-per-arity shortcut in
        # the stdlib wrapper besides narg=-1
        con.create_function("throw", -1, _abort(""))
        con.create_function("unauthorized", -1, _abort("Unauthorized:"))
        self._con = con

    def close(self) -> None:
        self._con.close()

    def reset_decode_cache(self) -> None:
        """Called at batch start: the memo's hits are all within one
        commit, so per-batch lifetime keeps the speedup with O(batch)
        driver memory (the 100k in-batch backstop still applies)."""
        self._dcache.clear()

    # -- execution ---------------------------------------------------------

    def _stage_event(self, columns: list[str], rows: list[tuple]) -> None:
        con = self._con
        con.execute("drop table if exists event")
        decl = {"idx": "integer", "user": "text", "payload": "blob"}
        cols = ", ".join(
            f'"{c}" {decl.get(c, "")}'.strip() for c in columns
        )
        con.execute(f"create table event ({cols})")
        if rows:
            ph = ", ".join("?" for _ in columns)
            con.executemany(f"insert into event values ({ph})", rows)

    def _execute(self, sql: str, args: dict | None = None):
        """Run one statement; LocalAbort propagates as itself (the stdlib
        wrapper surfaces callback exceptions as OperationalError, so the
        pending-abort cell restores the typed one). ``args`` binds
        ``$name`` parameters (native SQLite syntax; unused keys are
        ignored, a referenced-but-missing name errors → fallback)."""
        self._pending_abort = None
        try:
            cur = (
                self._con.execute(sql, args)
                if args
                else self._con.execute(sql)
            )
            rows = cur.fetchall()
            return cur.description, rows
        except LocalAbort:
            raise
        except sqlite3.Error as e:
            if self._pending_abort is not None:
                raise self._pending_abort from None
            raise LocalEvalError(str(e)) from e

    def stage_table(
        self,
        name: str,
        columns: list[str],
        rows: list[tuple],
        tdef=None,
        unique: set[str] = frozenset(),
    ) -> bool:
        """Mirror a small managed table as literal rows. Returns False
        when any value's type has engine-specific comparison semantics —
        any previously staged mirror is dropped either way, so a stale
        version can never answer (absence surfaces as a sqlite error →
        Spark fallback).

        With the table's ``TableDef`` (and its ``unique`` columns) the
        mirror is TYPED (``_typed_ddl``), which ``fold`` requires of
        every table it writes. Rows the typed declaration rejects — the
        Spark path does not enforce UNIQUE on plain inserts, so a table
        can hold duplicate keys — stage untyped instead."""
        con = self._con
        con.execute(f'drop table if exists "{name}"')
        self._typed.discard(name)
        for r in rows:
            for v in r:
                if not isinstance(v, _MIRRORABLE_TYPES):
                    return False
        ph = ", ".join("?" for _ in columns)
        rows = [tuple(r) for r in rows]
        ddl = (
            _typed_ddl(name, tdef, unique)
            if tdef is not None and tdef.schema.fieldNames() == list(columns)
            else None
        )
        if ddl is not None:
            try:
                con.execute(ddl)
                con.executemany(f'insert into "{name}" values ({ph})', rows)
                self._typed.add(name)
                return True
            except sqlite3.Error:
                con.execute(f'drop table if exists "{name}"')
        cols = ", ".join(f'"{c}"' for c in columns)
        con.execute(f'create table "{name}" ({cols})')
        if rows:
            con.executemany(f'insert into "{name}" values ({ph})', rows)
        return True

    def typed(self, name: str) -> bool:
        """True when ``name``'s mirror was staged typed (``stage_table``)."""
        return name in self._typed

    def insert_rows(
        self, name: str, columns: list[str], rows: list[tuple]
    ) -> bool:
        """Append delta rows to an existing mirror (incremental mirror
        maintenance for provable pure-append tables — Stream._advance_mirror).
        Type-checks every value BEFORE inserting so a single call is
        all-or-nothing; returns False on unmirrorable values (caller drops
        the whole mirror)."""
        for r in rows:
            for v in r:
                if not isinstance(v, _MIRRORABLE_TYPES):
                    return False
        if not rows:
            return True
        cols = ", ".join(f'"{c}"' for c in columns)
        ph = ", ".join("?" for _ in columns)
        try:
            self._con.executemany(
                f'insert into "{name}" ({cols}) values ({ph})',
                [tuple(r) for r in rows],
            )
        except sqlite3.Error:
            return False
        return True

    def drop_table(self, name: str) -> None:
        self._con.execute(f'drop table if exists "{name}"')
        self._typed.discard(name)

    def authorize(self, stmts: list[str], rows: list[tuple]) -> None:
        """Per-event authorizer evaluation: each statement sees a
        single-row (user, payload) event table — the reference's exact
        authorize-context shape (basic.rs:134-158). Raises LocalAbort on
        the first throw()/unauthorized(); LocalEvalError → caller falls
        back to Spark (nothing was written).

        The table is created ONCE and the row swapped with delete+insert:
        a per-event DROP/CREATE invalidates sqlite's compiled-statement
        cache, and the loop re-runs identical statement text per event —
        measured ~3x on 2000-event batches."""
        self._stage_event(["user", "payload"], [])
        con = self._con
        for row in rows:
            try:
                con.execute("delete from event")
                con.execute("insert into event values (?, ?)", row)
            except sqlite3.Error as e:
                raise LocalEvalError(str(e)) from e
            for stmt in stmts:
                self._execute(stmt)

    def authorize_setwise(self, stmts: list[str], rows: list[tuple]) -> None:
        """Vectorized authorizer evaluation: each statement (already
        rewritten by ``stream._vectorize_auth_stmt`` to scan ``event``
        as ``__ev__``) runs ONCE over the whole staged batch — one
        sqlite table scan instead of an N-event statement loop, so the
        driver's per-event GIL cost drops to per-batch. Within a
        statement, throw()/unauthorized() fires on the first offending
        row in event order (rowid scan order = insertion order);
        across statements evaluation is statement-major, the same
        order the Spark vectorized fast path uses. LocalAbort
        propagates; LocalEvalError → caller falls back to Spark."""
        self._stage_event(["user", "payload"], rows)
        for stmt in stmts:
            self._execute(stmt)

    def fold(
        self,
        stmts: list[str],
        rows: list[tuple],
        written: dict,
        cap: int,
        appends: bool = False,
    ) -> dict[str, list[tuple]] | None:
        """Fold the (idx, user, payload) ``rows`` through the write
        statements (``eligible(write=True)``, names flattened) over the
        typed mirrors, event-major: per event a single-row ``event``
        table, then every statement in order — the reference's fold
        order (lib.rs:543-569), with native ON CONFLICT, rowid
        assignment and NOT NULL.

        Runs inside one SAVEPOINT. Returns each table in ``written``
        (name → Spark schema) as rows in rowid order, with the SAVEPOINT
        released: the mirrors now hold the result. With ``appends``
        (every statement a plain INSERT) it returns only the rows each
        INSERT appended, in insertion order — a temp trigger per table
        logs ``new.rowid`` — and ``cap`` bounds those instead of the
        whole table. Returns None with the SAVEPOINT rolled back — every
        mirror as it was — on any sqlite error or abort, a table past
        ``cap`` rows, or a value whose Python type is not exactly its
        field's (``_DECL``)."""
        want = {
            name: [_DECL.get(f.dataType.simpleString()) for f in schema.fields]
            for name, schema in written.items()
        }
        if any(None in w for w in want.values()):
            return None
        con = self._con
        self._stage_event(["idx", "user", "payload"], [])
        con.execute("savepoint mirror_fold")
        try:
            if appends:
                con.execute("create temp table __appended (tbl text, rid integer)")
                for i, name in enumerate(written):
                    con.execute(
                        f'create temp trigger __appended_{i} after insert on "{name}" '
                        f"begin insert into __appended values ({i}, new.rowid); end"
                    )
            for row in rows:
                con.execute("delete from event")
                con.execute("insert into event values (?, ?, ?)", row)
                for stmt in stmts:
                    self._execute(stmt)
            out = {}
            for i, (name, schema) in enumerate(written.items()):
                q = f'"{name}"'
                cols = ", ".join(f'{q}."{c}"' for c in schema.fieldNames())
                src = (
                    f"__appended join {q} on {q}.rowid = __appended.rid "
                    f"where __appended.tbl = {i} order by __appended.rowid"
                    if appends
                    else f"{q} order by rowid"
                )
                got = con.execute(
                    f"select {cols} from {src} limit {cap + 1}"
                ).fetchall()
                if len(got) > cap:
                    raise LocalEvalError(f"{name}: more than {cap} rows")
                for r in got:
                    for v, (_, t) in zip(r, want[name]):
                        if v is not None and type(v) is not t:
                            raise LocalEvalError(f"{name}: {v!r} is not {t}")
                out[name] = got
            if appends:
                for i in range(len(written)):
                    con.execute(f"drop trigger __appended_{i}")
                con.execute("drop table __appended")
        except (sqlite3.Error, LocalEvalError, LocalAbort):
            con.execute("rollback to mirror_fold")
            con.execute("release mirror_fold")
            return None
        con.execute("release mirror_fold")
        return out

    def run_readonly(
        self, stmts: list[str], args: dict
    ) -> tuple[list[str], list[tuple]]:
        """Evaluate a named-query script against the staged table
        mirrors (the reference's in-process query shape,
        leaf-stream/src/lib.rs:842-862); rows of the LAST statement
        return. The caller gates statements to SELECTs over mirrored
        tables only — in particular none may reference ``event``.
        Defense in depth: the staged ``event`` table from the last
        authorize is DROPPED first, so even a reference the token gate
        misses (e.g. a quoted '"event"' identifier, which _is_word
        skips) errors out and falls back to Spark instead of being
        answered by stale authorize staging; the next authorize
        restages from scratch, so dropping costs nothing (r10 review
        finding)."""
        self._con.execute("drop table if exists event")
        desc, out = None, []
        for s in stmts:
            desc, out = self._execute(s, args)
        names = [d[0] for d in desc] if desc else []
        return names, out

    def run_select(
        self, sql: str, rows: list[tuple]
    ) -> tuple[list[str], list[tuple]]:
        """Evaluate a fold-source SELECT over the whole staged batch
        (idx, user, payload — the materializer event view, basic.rs:60-74).
        Returns (column names, result rows)."""
        self._stage_event(["idx", "user", "payload"], rows)
        desc, out = self._execute(sql)
        names = [d[0] for d in desc] if desc else []
        return names, out


def infer_spark_schema(names: list[str], rows: list[tuple]):
    """Best-effort Spark schema for dynamically-typed sqlite output.
    Returns None (caller falls back to Spark evaluation) when a column
    mixes incompatible Python types. All-NULL columns become STRING —
    the insert path casts every column to its declared type, and a
    string NULL casts to anything."""
    from pyspark.sql import types as T

    py_types: list[set] = [set() for _ in names]
    for r in rows:
        for i, v in enumerate(r):
            if v is not None:
                py_types[i].add(type(v))
    fields = []
    for name, ts in zip(names, py_types):
        if not ts or ts == {str}:
            dt = T.StringType()
        elif ts == {int}:
            dt = T.LongType()
        elif ts <= {float, int}:
            dt = T.DoubleType()
        elif ts == {bytes}:
            dt = T.BinaryType()
        else:
            return None
        fields.append(T.StructField(name, dt, True))
    return T.StructType(fields)
