"""SQLite-dialect → Spark SQL translation + statement authorization.

The reference executes module SQL verbatim on SQLite (queries gated by a
function allowlist, leaf-stream/src/lib.rs:1104-1110; statement-class ×
database authorizer callbacks, lib.rs:989-1122 — written but disabled).
We translate the SQLite dialect surface (SURVEY §2.B) to Spark SQL with a
token-level rewriter (no sqlglot in this container):

- function renames + argument reshuffles (iif→if, printf→format_string,
  strftime fmt conversion, unixepoch→unix_timestamp, …)
- structural rewrites with balanced-paren argument parsing
  (total → coalesce(sum(cast …)), group_concat → array_join(collect_list),
  json_object → to_json(named_struct), throw/unauthorized → raise_error)
- operator rewrites (``a ->> 'k'`` → get_json_object, GLOB → rlike)
- namespace mapping (``state.t`` → ``state_t`` view names)
- ``$param`` → ``:param`` named parameters for spark.sql(sql, args=...)

plus the A17-equivalent *pre-execution authorizer*: statement-class
classification and a query-time function allowlist, shipped enforceable with
a permissive default to match the reference's actual (bypassed) behavior.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache

from .module import ANALYSIS_CACHE, split_statements

# ---------------------------------------------------------------------------
# Tokenizer — minimal SQL-aware scanning (strings, identifiers, parens)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<blob>[xX]'(?:[0-9A-Fa-f][0-9A-Fa-f])*')
    | (?P<str>'(?:[^']|'')*')
    | (?P<qid>"(?:[^"]|"")*")
    | (?P<bqid>`(?:[^`]|``)*`)
    | (?P<brid>\[[^\]]*\])
    | (?P<hex>0[xX][0-9A-Fa-f]+)
    | (?P<num>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<arrow2>->>)
    | (?P<arrow>->)
    | (?P<param>\$[A-Za-z_][A-Za-z_0-9]*)
    | (?P<param2>:[A-Za-z_][A-Za-z_0-9]*)
    | (?P<word>[A-Za-z_][A-Za-z_0-9]*)
    | (?P<dot>\.)
    | (?P<op><=|>=|<>|!=|<<|>>|=|<|>|\|\||&|\||~|[(),;*+\-/%])
    | (?P<ws>\s+)
    """,
    re.VERBOSE,
)


def tokenize(sql: str) -> list[str]:
    out, pos = [], 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise ValueError(f"cannot tokenize SQL at {pos}: {sql[pos:pos+30]!r}")
        tok = m.group(0)
        if m.group("hex"):
            # SQLite hex literals are 64-bit two's-complement integers
            # (0xFFFFFFFFFFFFFFFF == -1); Spark has no 0x syntax, so fold
            # to the decimal value at tokenize time
            v = int(tok, 16) & 0xFFFFFFFFFFFFFFFF
            if v >= 1 << 63:
                v -= 1 << 64
            tok = str(v)
        if not m.group("ws"):
            out.append(tok)
        pos = m.end()
    return out


_WORD_START_RE = re.compile(r"[A-Za-z_]")


def _is_word(tok: str) -> bool:
    return _WORD_START_RE.match(tok) is not None


@lru_cache(maxsize=ANALYSIS_CACHE)
def lex(sql: str) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """``tokenize(sql)`` and the same tokens with words lowercased, as
    tuples. Memoized for the per-commit gates that re-read fixed module
    statements; the translation and replay paths call ``tokenize``."""
    toks = tuple(tokenize(sql))
    return toks, tuple(t.lower() if _is_word(t) else t for t in toks)


# ---------------------------------------------------------------------------
# Token scanner — the one paren-depth walk every token-level parser uses
# ---------------------------------------------------------------------------


def close_paren(toks: list[str], i: int) -> int:
    """Index of the ``)`` closing ``toks[i] == "("`` (len(toks) when
    unbalanced)."""
    d = 0
    for k in range(i, len(toks)):
        if toks[k] == "(":
            d += 1
        elif toks[k] == ")":
            d -= 1
            if d == 0:
                return k
    return len(toks)


def top_level(toks: list[str], start: int = 0, end: int | None = None):
    """Yield the indices in [start, end) at paren depth 0 relative to
    ``start``, stepping over parenthesized groups (their parens
    included). An unmatched ``)`` is yielded and ends the walk."""
    end = len(toks) if end is None else end
    i = start
    while i < end:
        t = toks[i]
        if t == "(":
            i = close_paren(toks, i) + 1
            continue
        yield i
        if t == ")":
            return
        i += 1


def top_spans(
    toks: list[str], sep: str, start: int = 0, end: int | None = None
) -> list[tuple[int, int]]:
    """[start, end) split on depth-0 occurrences of ``sep`` (a word
    matches case-insensitively); returns (lo, hi) spans excluding the
    separators."""
    end = len(toks) if end is None else end
    spans: list[tuple[int, int]] = []
    lo = start
    for i in top_level(toks, start, end):
        if toks[i].lower() == sep:
            spans.append((lo, i))
            lo = i + 1
    spans.append((lo, end))
    return spans


def on_conflict_at(toks: list[str], lows: list[str], start: int = 0) -> int:
    """Index of the first depth-0 ``on conflict`` pair at or after
    ``start`` (``lows``: the lowercased tokens), or -1."""
    return next(
        (
            i
            for i in top_level(toks, start)
            if lows[i] == "on" and i + 1 < len(toks) and lows[i + 1] == "conflict"
        ),
        -1,
    )


def split_top(toks: list[str], sep: str = ",") -> list[list[str]]:
    """``toks`` split on depth-0 ``sep`` as token lists; an empty last
    item (trailing separator, empty input) is dropped."""
    parts = [toks[lo:hi] for lo, hi in top_spans(toks, sep)]
    if not parts[-1]:
        parts.pop()
    return parts


# ---------------------------------------------------------------------------
# Function-call rewriting with balanced parens
# ---------------------------------------------------------------------------


def _find_args(tokens: list[str], open_idx: int) -> tuple[list[list[str]], int]:
    """tokens[open_idx] == '(' → ([arg token lists], index of closing ')')."""
    assert tokens[open_idx] == "("
    close = close_paren(tokens, open_idx)
    if close >= len(tokens):
        raise ValueError("unbalanced parens in SQL")
    args = [tokens[lo:hi] for lo, hi in top_spans(tokens, ",", open_idx + 1, close)]
    return ([] if args == [[]] else args), close


def _j(tokens: list[str]) -> str:
    """Join tokens back into SQL text with minimal spacing."""
    out = []
    for i, t in enumerate(tokens):
        if i > 0 and _needs_space(tokens[i - 1], t):
            out.append(" ")
        out.append(t)
    return "".join(out)


def _needs_space(a: str, b: str) -> bool:
    if a in ("(", ".") or b in ("(", ")", ",", ".", ";"):
        # keep `f(` tight but allow `( x`
        return b == "(" and (_is_word(a) or a in (")",)) and False or b not in (
            "(",
            ")",
            ",",
            ".",
            ";",
        ) and a not in ("(", ".")
    return True


# strftime → date_format pattern conversion (SQLite %-codes → JDK patterns)
_STRFTIME_MAP = [
    ("%Y", "yyyy"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%H", "HH"),
    ("%M", "mm"),
    ("%S", "ss"),
    ("%j", "DDD"),
    ("%W", "ww"),
]


def _convert_strftime_fmt(lit: str) -> str:
    body = lit[1:-1]
    for a, b in _STRFTIME_MAP:
        body = body.replace(a, b)
    return f"'{body}'"


_TYPEOF_CASE = (
    # SQLite typeof is DYNAMIC: a NULL value reports 'null' whatever the
    # column type — test the value before the static type
    "case when {x} is null then 'null' "
    "when typeof({x}) in ('bigint', 'int', 'smallint', 'tinyint') "
    "then 'integer' "
    # non-ANSI Spark parses the literal 1.5 as DECIMAL(2,1) — SQLite calls
    # every non-integer numeric 'real', so decimals map there too
    "when typeof({x}) in ('double', 'float') or typeof({x}) like 'decimal%' "
    "then 'real' "
    "when typeof({x}) = 'string' then 'text' "
    "when typeof({x}) = 'binary' then 'blob' "
    "when typeof({x}) = 'void' then 'null' else typeof({x}) end"
)


def _glob_to_regex(lit: str) -> str:
    """SQLite GLOB pattern literal (transport-encoded) → anchored Java
    regex as a Spark literal. The pattern's characters are decoded
    first, the regex is built with REAL backslash escapes, and the
    result is re-encoded for Spark's C-style literal parser (so a
    regex ``\\.`` survives as backslash-dot instead of Spark's
    unknown-escape rule silently eating the backslash). GLOB character
    classes translate to regex classes: ``[seq]``, ``[^seq]``, ranges,
    a literal ``]`` first in the class; an UNTERMINATED ``[`` makes the
    whole pattern match nothing (SQLite: 'a[' does not even match
    'a['), emitted as the never-matching ``(?!)``."""
    body = _lit_content(lit)
    out = []
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch == "[":
            j = i + 1
            cls = []
            if j < len(body) and body[j] == "^":
                cls.append("^")
                j += 1
            if j < len(body) and body[j] == "]":
                cls.append("\\]")
                j += 1
            while j < len(body) and body[j] != "]":
                c = body[j]
                cls.append("\\" + c if c in "\\^][&" else c)
                j += 1
            if j >= len(body):  # unterminated class: match NOTHING
                return _lit_encode("(?!)")
            out.append("[" + "".join(cls) + "]")
            i = j + 1
            continue
        elif ch in ".^$+{}]|()\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
        i += 1
    return _lit_encode("^" + "".join(out) + "$")


def _normalize_like_pattern(pc: str, ec: str) -> str | None:
    """Normalize a LIKE pattern (character content) carrying an explicit
    1-char escape for Spark's stricter matcher: SQLite allows the escape
    before ANY character (escape + ordinary char = that char), Spark
    raises ESC_IN_THE_MIDDLE unless the escaped char is a wildcard or
    the escape itself. Returns None for a DANGLING trailing escape,
    which never matches in SQLite (Spark raises ESC_AT_THE_END)."""
    out = []
    j = 0
    while j < len(pc):
        c = pc[j]
        if ec and c == ec:
            if j + 1 >= len(pc):
                return None
            nxt = pc[j + 1]
            out.append(ec + nxt if nxt in ("%", "_", ec) else nxt)
            j += 2
        else:
            out.append(c)
            j += 1
    return "".join(out)


class SqlTranslationError(ValueError):
    pass


_CAST_TYPE_MAP = {
    "text": "string", "clob": "string", "varchar": "string", "char": "string",
    "any": "string",
    "integer": "bigint", "int": "bigint", "bigint": "bigint",
    "smallint": "bigint", "tinyint": "bigint",
    "real": "double", "double": "double", "float": "double", "numeric": "double",
    "blob": "binary",
}


_SECONDS_PER = {"day": 86400, "hour": 3600, "minute": 60, "second": 1}


def _time_base(args: list[str]) -> tuple[str, list[str]]:
    """(timestamp expression, remaining modifiers) for a SQLite time value.

    Handles the 'now' keyword and the 'unixepoch' first-modifier (value is
    unix seconds, reference modules use it for event timestamps)."""
    first, mods = args[0], list(args[1:])
    if first.strip("'").lower() == "now":
        return "current_timestamp()", mods
    if mods and mods[0].strip().strip("'").lower() == "unixepoch":
        return f"cast(from_unixtime({first}) as timestamp)", mods[1:]
    return f"cast({first} as timestamp)", mods


def _apply_time_modifiers(ts: str, mods: list[str]) -> str:
    """Fold SQLite date-function modifiers ('+N days', 'start of month',
    'weekday N', 'localtime'/'utc') into interval arithmetic / date_trunc.
    Only literal modifiers are supported (what modules actually write);
    anything else raises rather than silently ignoring the modifier."""
    out = ts
    for raw in mods:
        m = raw.strip()
        if len(m) < 2 or m[0] != "'" or m[-1] != "'":
            raise SqlTranslationError(f"unsupported non-literal time modifier: {raw}")
        body = m[1:-1].strip().lower()
        step = re.match(
            r"^([+-]?\d+(?:\.\d+)?)\s+(year|month|day|hour|minute|second)s?$", body
        )
        if step:
            val, unit = step.group(1), step.group(2)
            if "." in val:
                if unit in ("year", "month"):
                    raise SqlTranslationError(
                        f"fractional {unit} modifier not supported: {body!r}"
                    )
                out = (
                    f"({out} + make_interval(0, 0, 0, 0, 0, 0, "
                    f"{float(val) * _SECONDS_PER[unit]}))"
                )
            elif unit in ("year", "month"):
                # SQLite does NOT clamp month arithmetic: Jan 31 + 1 month
                # = "Feb 31" -> normalizes to Mar 2 (Spark's add_months /
                # INTERVAL MONTH clamp to month-end). Reproduce the
                # normalization: land on the FIRST of the target month,
                # then add the original (day - 1) as DAYS (overflow rolls
                # forward exactly like SQLite), then restore the
                # time-of-day.
                months = int(val) * (12 if unit == "year" else 1)
                first = (
                    f"cast(add_months(date_trunc('MM', {out}), {months}) "
                    f"as timestamp)"
                )
                mid = f"timestampadd(DAY, day({out}) - 1, {first})"
                secs = (
                    f"cast(unix_timestamp({out}) "
                    f"- unix_timestamp(date_trunc('DAY', {out})) as bigint)"
                )
                out = f"timestampadd(SECOND, {secs}, {mid})"
            else:
                out = f"({out} + INTERVAL {val.lstrip('+')} {unit.upper()})"
        elif body in ("start of day", "start of month", "start of year"):
            out = f"date_trunc('{body.rsplit(' ', 1)[1].upper()}', {out})"
        elif re.match(r"^weekday [0-6]$", body):
            # advance to the next date with that weekday, same time of day;
            # no move when already there (SQLite stays put, Spark's
            # next_day always advances — hence the pmod arithmetic)
            n = int(body.split()[1])
            out = (
                f"({out} + make_interval(0, 0, 0, "
                f"pmod({n + 1} - dayofweek({out}), 7), 0, 0, 0))"
            )
        elif body == "localtime":
            out = f"from_utc_timestamp({out}, current_timezone())"
        elif body == "utc":
            out = f"to_utc_timestamp({out}, current_timezone())"
        else:
            raise SqlTranslationError(f"unsupported time modifier {body!r}")
    return out


def _sqlite_int_cast(e: str) -> str:
    """SQLite CAST-to-INTEGER semantics as one Spark expression: TEXT
    operands take the longest integer prefix, fall back to 0, and
    SATURATE to ±int64 max when the prefix overflows (SQLite clamps
    where Spark's cast nulls); numeric operands keep the plain
    truncating cast. Dispatches on static typeof so numeric columns
    never pay the regexp path."""
    p = f"regexp_extract({e}, '^\\\\s*([-+]?[0-9]+)', 1)"
    return (
        f"(case when typeof({e}) = 'string' then "
        f"(case when ({e}) is null then cast(null as bigint) "
        f"when {p} = '' then cast(0 as bigint) "
        f"else coalesce(cast({p} as bigint), "
        f"if({p} like '-%', cast(-9223372036854775807 as bigint) - 1, "
        f"cast(9223372036854775807 as bigint))) end) "
        f"else cast({e} as bigint) end)"
    )


def _sqlite_truthy(e: str) -> str:
    """SQLite truthiness of one expression as a Spark BOOLEAN: a value
    is true when its numeric coercion is nonzero — TEXT takes the
    longest numeric PREFIX ('1.5x' → 1.5 → true, 'true' → 0 → FALSE,
    where Spark's cast-to-boolean says NULL and true respectively),
    NULL and blobs are false, booleans pass through. Dispatches on
    static typeof; the operand is inlined several times, so callers
    should wrap whole filter clauses only on the retry path (Catalyst
    reuses duplicated scalar subqueries, but the text grows)."""
    num = (
        f"coalesce(cast(regexp_extract({e}, "
        f"'^\\\\s*([-+]?([0-9]+\\\\.?[0-9]*|\\\\.[0-9]+)"
        f"([eE][-+]?[0-9]+)?)', 1) as double), 0.0)"
    )
    return (
        f"(case when ({e}) is null then false "
        f"when typeof({e}) = 'boolean' then cast({e} as boolean) "
        f"when typeof({e}) = 'binary' then false "
        f"when typeof({e}) = 'string' then {num} <> 0.0 "
        f"else cast({e} as double) <> 0.0 end)"
    )


def _char_codepoint(a: str) -> str:
    """One char() argument → the one-character string for its Unicode
    CODEPOINT (SQLite semantics; Spark's chr() wraps at 256). The
    argument coerces through the SQLite integer cast (text numeric
    prefix, truncate-toward-zero, NULL → 0); codepoint 0 emits a NUL
    byte, out-of-range and surrogate values emit U+FFFD. The character
    is built as its UTF-8 byte image: format_string renders the 1-4
    byte sequence in hex, unhex + decode turn it into the string —
    whole-stage-codegen friendly, no Python."""
    k = f"coalesce({_sqlite_int_cast(a)}, 0)"
    return (
        f"decode(unhex(case "
        f"when {k} = 0 then '00' "
        f"when {k} < 0 or {k} > 1114111 "
        f"or ({k} >= 55296 and {k} <= 57343) then 'EFBFBD' "
        f"when {k} < 128 then format_string('%02X', {k}) "
        f"when {k} < 2048 then format_string('%02X%02X', "
        f"192 + {k} div 64, 128 + {k} % 64) "
        f"when {k} < 65536 then format_string('%02X%02X%02X', "
        f"224 + {k} div 4096, 128 + ({k} div 64) % 64, 128 + {k} % 64) "
        f"else format_string('%02X%02X%02X%02X', "
        f"240 + {k} div 262144, 128 + ({k} div 4096) % 64, "
        f"128 + ({k} div 64) % 64, 128 + {k} % 64) end), 'utf-8')"
    )


def _rw_call(name: str, args: list[str]) -> str:
    """Rewrite one function call (args already translated SQL strings)."""
    n = name.lower()
    # SQLite's SCALAR max/min (>= 2 args) = greatest/least — but SQLite
    # returns NULL if ANY argument is NULL, where Spark's greatest/least
    # skip NULLs
    if n in ("max", "min") and len(args) >= 2:
        fn = "greatest" if n == "max" else "least"
        any_null = " or ".join(f"({a}) is null" for a in args)
        return (
            f"(case when {any_null} then null "
            f"else {fn}({', '.join(args)}) end)"
        )
    if n == "json_array":
        # SQLite json_array is HETEROGENEOUS (json_array(1, 'a') ->
        # [1,"a"]); Spark's array() unifies types, so render each element
        # to its own JSON fragment: numbers verbatim, strings through
        # to_json's escaper (named_struct keeps the per-field type, and
        # the value part of '{"q":...}' starts at offset 6)
        frags = []
        for a in args:
            frags.append(
                f"case when ({a}) is null then 'null' "
                f"when typeof({a}) in {_INT_TYPES_SQL} "
                f"then cast(cast({a} as bigint) as string) "
                f"when typeof({a}) in ('double', 'float') "
                f"or typeof({a}) like 'decimal%' "
                f"then cast(cast({a} as double) as string) "
                f"else substring(to_json(named_struct('q', "
                f"cast({a} as string))), 6, "
                f"length(to_json(named_struct('q', cast({a} as string)))) "
                f"- 6) end"
            )
        inner = ", ".join(frags)
        return f"concat('[', concat_ws(',', {inner}), ']')"
    if n == "cast":
        # cast(x as TEXT) — SQLite type names → Spark type names
        m = re.search(r"\s+as\s+(\w+)\s*$", args[0], re.IGNORECASE)
        if m and m.group(1).lower() in _CAST_TYPE_MAP:
            tgt = _CAST_TYPE_MAP[m.group(1).lower()]
            e = args[0][: m.start()]
            # SQLite TEXT→number cast takes the longest NUMERIC PREFIX and
            # falls back to 0 ('12abc'→12, 'abc'→0, ''→0) where Spark
            # yields NULL for any trailing junk. Dynamic dispatch on
            # typeof keeps numeric operands on the plain (truncating)
            # cast; verified against sqlite3 in test_sqlite_differential.
            if tgt == "bigint":
                return _sqlite_int_cast(e)
            if tgt == "double":
                return (
                    f"(case when typeof({e}) = 'string' then "
                    f"(case when ({e}) is null then cast(null as double) "
                    f"else coalesce(cast(regexp_extract({e}, "
                    f"'^\\\\s*([-+]?([0-9]+\\\\.?[0-9]*|\\\\.[0-9]+)"
                    f"([eE][-+]?[0-9]+)?)', 1) as double), 0.0) end) "
                    f"else cast({e} as double) end)"
                )
            return f"cast({e} as {tgt})"
        return f"cast({args[0]})"
    if n == "iif":
        # SQLite truthiness: nonzero numeric coercion is true (text takes
        # its numeric prefix — NOT Spark's cast-to-boolean, which parses
        # 'true' and rejects '1.5'); boolean exprs pass through unchanged
        return f"if({_sqlite_truthy(args[0])}, {args[1]}, {args[2]})"
    if n == "total":
        return f"coalesce(cast(sum(cast({args[0]} as double)) as double), 0.0)"
    if n == "log" and len(args) == 1:
        # SQLite log(X) is base-10 (ln is the natural log there); Spark's
        # one-arg log(X) is the natural log — silent wrong-answers otherwise
        return f"log10({args[0]})"
    if n == "trunc" and len(args) == 1:
        # numeric truncate-toward-zero; Spark's trunc() is date-only
        return f"cast(cast({args[0]} as bigint) as double)"
    if n == "char":
        # SQLite char() maps UNICODE CODEPOINTS (char(256) = 'Ā'), where
        # Spark's chr() wraps at 256. Each argument coerces through the
        # SQLite integer cast (char('73x') = 'I', char(66.9) = 'B',
        # NULL → 0 → a NUL byte); 0 emits NUL, out-of-range values emit
        # U+FFFD. The codepoint becomes its UTF-8 byte image
        # (format_string hex → unhex → decode), all JVM-side. Documented
        # divergence: SQLite renders surrogate codepoints as invalid
        # UTF-8 bytes no UTF-8 string type can hold — we emit U+FFFD.
        return "concat(" + ", ".join(_char_codepoint(a) for a in args) + ")"
    if n == "unicode":
        # SQLite unicode('') is NULL; Spark ascii('') is 0
        return f"(case when ({args[0]}) = '' then null else ascii({args[0]}) end)"
    if n == "quote":
        tc = _TYPEOF_CASE.format(x=args[0])
        q = "chr(39)"  # quote chars via chr() — keeps the rewrite re-tokenizable
        return (
            f"case when ({args[0]}) is null then 'NULL' "
            f"when {tc} = 'integer' then cast({args[0]} as string) "
            # the string compare normalizes -0.0 (SQLite quotes it
            # '0.0') without arithmetic a binary-typed argument couldn't
            # type-check against; e-notation renderings outside Spark's
            # plain range stay the documented double→TEXT divergence
            f"when {tc} = 'real' then "
            f"(case when cast({args[0]} as string) = '-0.0' then '0.0' "
            f"else cast({args[0]} as string) end) "
            f"when {tc} = 'blob' then concat('X', {q}, hex({args[0]}), {q}) "
            f"else concat({q}, replace(cast({args[0]} as string), {q}, "
            f"concat({q}, {q})), {q}) end"
        )
    if n == "random" and not args:
        # SQLite: uniform signed 64-bit int; xxhash64 of a fresh uuid is
        # exactly that, and stays JVM-side
        return "xxhash64(uuid())"
    if n == "zeroblob":
        return f"unhex(repeat('00', cast({args[0]} as int)))"
    if n == "randomblob":
        return (
            f"unhex(substring(repeat(sha2(uuid(), 256), "
            f"cast(ceil(cast({args[0]} as double) / 32) as int)), "
            f"1, cast({args[0]} as int) * 2))"
        )
    if n in ("likely", "unlikely"):
        return f"({args[0]})"
    if n == "likelihood":
        return f"({args[0]})"  # drop the planner hint, keep the value
    if n == "julianday":
        ts, mods = _time_base(args)
        chain = _apply_time_modifiers(ts, mods)
        return f"(cast(unix_timestamp({chain}) as double) / 86400.0 + 2440587.5)"
    if n == "sqlite_version":
        return "'3.50.0'"  # compat shim: modules probing the dialect version
    if n == "concat":
        # SQLite (3.44+) concat ignores NULL arguments; Spark concat is
        # NULL if any argument is NULL
        return f"concat_ws('', {', '.join(args)})"
    if n == "json_array_length" and len(args) == 2:
        return f"json_array_length(get_json_object({args[0]}, {args[1]}))"
    if n in ("group_concat", "string_agg"):
        # SQLite concatenates in arrival order; Spark's collect_list order is
        # undefined across retries/partitionings. Documented divergence: we
        # pin a deterministic sorted order so module results are stable
        # under re-execution (retry-safety beats arrival-order parity).
        sep = args[1] if len(args) > 1 else "','"
        return (
            f"array_join(sort_array(collect_list(cast({args[0]} as string))), {sep})"
        )
    if n in ("printf", "format"):
        return _rw_printf(args)
    if n == "unixepoch":
        if not args:
            return "unix_timestamp()"
        if len(args) == 2 and args[1].strip("'\"").lower() == "unixepoch":
            return f"cast({args[0]} as bigint)"
        if len(args) == 1:
            return f"unix_timestamp({args[0]})"
        ts, mods = _time_base(args)
        return f"unix_timestamp({_apply_time_modifiers(ts, mods)})"
    if n == "strftime":
        fmt = args[0]
        ts, mods = _time_base(args[1:])
        chain = _apply_time_modifiers(ts, mods) if mods else args[1]
        if fmt.strip() == "'%s'":
            return f"cast(unix_timestamp({chain}) as string)"
        return f"date_format({chain}, {_convert_strftime_fmt(fmt)})"
    # SQLite's date()/datetime() return TEXT, never a typed date — modules
    # compare/concatenate the result as a string, so the shims must too
    # (typeof(date(x)) is 'text' in the reference).
    if n == "date":
        if len(args) == 1:
            if args[0].strip("'").lower() == "now":
                return "cast(current_date() as string)"
            return f"cast(to_date({args[0]}) as string)"
        ts, mods = _time_base(args)
        return f"cast(to_date({_apply_time_modifiers(ts, mods)}) as string)"
    if n == "datetime":
        if args and args[0].strip("'").lower() == "now" and len(args) == 1:
            return "date_format(current_timestamp(), 'yyyy-MM-dd HH:mm:ss')"
        ts, mods = _time_base(args)
        return (
            f"date_format(cast({_apply_time_modifiers(ts, mods)} as timestamp), "
            f"'yyyy-MM-dd HH:mm:ss')"
        )
    if n == "time":
        ts, mods = _time_base(args)
        return f"date_format({_apply_time_modifiers(ts, mods)}, 'HH:mm:ss')"
    if n == "typeof":
        return _TYPEOF_CASE.format(x=args[0])
    if n in ("substr", "substring"):
        if len(args) == 3:
            # SQLite's phantom-position semantics: the string is indexed
            # from 1, Y<=0 addresses positions BEFORE the start (they
            # consume length without producing characters: substr(x,0,3)
            # = first 2 chars), negative Y counts from the end, and
            # negative Z takes the |Z| characters PRECEDING Y. Model the
            # selection as the half-open position interval [LO, HI) and
            # clamp to [1, len] — one expression covers every sign
            # combination (verified against sqlite3).
            x, y, z = args
            pos = (
                f"(case when ({y}) < 0 then length({x}) + ({y}) + 1 "
                f"else ({y}) end)"
            )
            lo = f"(case when ({z}) >= 0 then {pos} else {pos} + ({z}) end)"
            hi = f"(case when ({z}) >= 0 then {pos} + ({z}) else {pos} end)"
            # NULL y/z must yield NULL (SQLite); without the guard Spark's
            # greatest() SKIPS null arguments and produces a real substring
            return (
                f"(case when ({y}) is null or ({z}) is null "
                f"then cast(null as string) "
                f"else substring({x}, greatest({lo}, 1), "
                f"greatest({hi} - greatest({lo}, 1), 0)) end)"
            )
        return f"substring({', '.join(args)})"
    if n == "json_extract":
        return f"get_json_object({args[0]}, {args[1]})"
    if n == "json_object":
        pairs = ", ".join(args)
        return f"to_json(named_struct({pairs}))"
    if n == "json_group_array":
        # same determinism rationale as group_concat above
        return f"to_json(sort_array(collect_list({args[0]})))"
    # (json_array is handled above — heterogeneous per-element rendering)
    if n in ("json_set", "json_patch"):
        # registered as python UDFs (no Spark builtin)
        return f"{n}({', '.join(args)})"
    if n == "throw":
        msg = ", ".join(f"cast({a} as string)" for a in args)
        return f"raise_error(concat_ws(' ', {msg}))"
    if n == "unauthorized":
        msg = ", ".join(f"cast({a} as string)" for a in args)
        return f"raise_error(concat_ws(' ', 'Unauthorized:', {msg}))"
    if n == "ltrim" and len(args) == 2:
        return f"ltrim({args[1]}, {args[0]})"  # SQLite(str, chars) → Spark(trimStr, str)… see note
    if n == "rtrim" and len(args) == 2:
        return f"rtrim({args[1]}, {args[0]})"
    if n == "trim" and len(args) == 2:
        # Spark two-arg trim is trim(trimStr, str) — reversed, same as
        # the ltrim/rtrim pair above; the BOTH…FROM form is unambiguous
        return f"trim(both {args[1]} from {args[0]})"
    if n == "like" and len(args) in (2, 3):
        # SQLite's FUNCTION form is like(PATTERN, STRING[, ESCAPE]) —
        # pattern first, the reverse of the operator — and folds case
        # (ASCII) exactly like the operator, so route through ilike
        p = args[0].strip()
        if len(args) == 2:
            # no ESCAPE: SQLite backslash is ordinary → escape it for
            # Spark's matcher when the pattern is a literal
            if p.startswith("'") and p.endswith("'"):
                p = _lit_encode(_lit_content(p).replace("\\", "\\\\"))
            return f"(({args[1]}) ilike ({p}))"
        e = args[2].strip()
        if not (e.startswith("'") and e.endswith("'")):
            raise SqlTranslationError("like() escape must be a literal")
        if p.startswith("'") and p.endswith("'"):
            # normalize for Spark's stricter matcher (escape-before-
            # ordinary is legal in SQLite); a DANGLING trailing escape
            # never matches in SQLite where Spark raises ESC_AT_THE_END
            norm = _normalize_like_pattern(_lit_content(p), _lit_content(e))
            if norm is None:
                return (
                    f"(case when ({p}) is null or ({args[1]}) is null "
                    f"then cast(null as boolean) else false end)"
                )
            p = _lit_encode(norm)
        return f"(({args[1]}) ilike ({p}) escape {e})"
    if n == "glob" and len(args) == 2:
        # glob(PATTERN, STRING) — same literal-pattern restriction as
        # the operator form
        p = args[0].strip()
        if not p.startswith("'"):
            raise SqlTranslationError("glob() requires a literal pattern")
        return f"(({args[1]}) rlike {_glob_to_regex(p)})"
    if n == "mod" and len(args) == 2:
        # SQLite mod() always returns REAL, coerces numeric-looking TEXT
        # (non-numeric → NULL, which Spark's double cast matches), and
        # yields NULL on a zero divisor (Spark's fractional % already
        # does); nanvl catches the residual fmod NaN edges
        return (
            f"nanvl(cast(({args[0]}) as double) "
            f"% cast(({args[1]}) as double), cast(null as double))"
        )
    if n in ("ceil", "ceiling", "floor") and len(args) == 1:
        # SQLite returns the int unchanged for INTEGER input and REAL
        # otherwise; Spark's ceil/floor return BIGINT. One Spark
        # expression must pick one type: double (values agree; the
        # INTEGER-input storage class is the documented per-row-affinity
        # non-goal). TEXT coerces strictly (non-numeric → NULL), as the
        # double cast gives for free.
        f = "ceil" if n in ("ceil", "ceiling") else "floor"
        return f"cast({f}(cast(({args[0]}) as double)) as double)"
    if n == "sign" and len(args) == 1:
        # INTEGER -1/0/1; non-numeric TEXT → NULL (strict coercion —
        # sign('7x') is NULL in SQLite even though abs('7x') is 7.0)
        return f"cast(signum(cast(({args[0]}) as double)) as bigint)"
    if n == "unhex" and len(args) == 1:
        # SQLite unhex() is strict: an ODD number of digits is NULL
        # (Spark pads a leading zero); non-hex chars are NULL on both.
        # The 2-arg ignore-chars form stays unsupported.
        x = f"cast({args[0]} as string)"
        return (
            f"(case when length({x}) % 2 = 1 then cast(null as binary) "
            f"else unhex({x}) end)"
        )
    if n in ("sqrt", "asin", "acos", "acosh", "atanh", "pow", "power"):
        # SQLite math functions return NULL outside the domain where
        # Java returns NaN (sqrt(-1), asin(2), pow(-8, 1.0/3), …)
        return (
            f"nanvl({n}({', '.join(args)}), cast(null as double))"
        )
    if n == "hex":
        # SQLite hex() renders the argument's BLOB image: numbers hex their
        # TEXT rendering (hex(255)='323535'), blobs hex their bytes, and
        # NULL yields '' (not NULL). Spark's hex(255)='FF' — so route
        # non-binary operands through a string cast.
        a = args[0]
        return (
            f"coalesce(case when typeof({a}) = 'binary' then hex({a}) "
            f"else hex(cast({a} as string)) end, '')"
        )
    if n in ("lower", "upper"):
        # SQLite lower/upper fold ASCII ONLY (lower('ÄBC')='Äbc'); Spark's
        # fold Unicode. translate() over the ASCII alphabet is the exact
        # SQLite behavior and stays JVM-side.
        lo, up = "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        src, dst = (up, lo) if n == "lower" else (lo, up)
        return f"translate({args[0]}, '{src}', '{dst}')"
    # pass-through (coalesce, ifnull, nullif, abs, round, min, max, sum, avg,
    # count, length, trim, replace, instr, drisl_*, …)
    return f"{name}({', '.join(args)})"


_PRINTF_SPEC = re.compile(
    r"%([-+ 0#]*)(\d+)?(\.\d+)?([diouxXeEfFgGsc%])"
)


def _strip0(e: str) -> str:
    """Strip trailing zeros, then a trailing '.', from a decimal string."""
    return (
        f"regexp_replace(regexp_replace({e}, '0+$', ''), '\\\\.$', '')"
    )


def _c_bare_g(a: str) -> str:
    """C's bare %g as one Spark expression: round to 6 significant digits
    (via Java's %.5e, whose e+NN exponent form matches C), choose decimal
    form for exponents in [-4, 5] and scientific outside, strip trailing
    zeros. The decimal form is rebuilt from the 6 mantissa DIGITS with
    per-exponent literal substrings — never a float re-multiplication
    (power(10, e) products reintroduce representation error) and never a
    dynamic round() scale (Spark requires a foldable scale). Verified
    against sqlite3 by the printf fuzz cases."""
    d = f"cast(coalesce({a}, 0) as double)"
    sci = f"format_string('%.5e', {d})"
    m = f"substring_index({sci}, 'e', 1)"
    et = f"substring_index({sci}, 'e', -1)"
    ex = f"cast({et} as int)"
    digs = f"regexp_replace({m}, '[-.]', '')"
    sgn = f"(case when substring({m}, 1, 1) = '-' then '-' else '' end)"
    branches = []
    for k in range(-4, 6):
        if k >= 0:
            ipart = f"substring({digs}, 1, {k + 1})"
            frac = _strip0(f"substring({digs}, {k + 2})")
            body = (
                f"concat({ipart}, case when {frac} = '' then '' "
                f"else concat('.', {frac}) end)"
            )
        else:
            body = (
                f"concat('0.', repeat('0', {-k - 1}), "
                + _strip0(digs)
                + ")"
            )
        branches.append(f"when {ex} = {k} then concat({sgn}, {body})")
    sci_out = f"concat({_strip0(m)}, 'e', {et})"
    return f"(case {' '.join(branches)} else {sci_out} end)"


def _rw_printf(args: list[str]) -> str:
    """printf/format → format_string, with SQLite's semantics: NULL
    arguments print as 0 for numeric conversions and '' for %s; %d/%o/
    %x/%X route through the SQLite integer cast (exact bigints — never
    a double round-trip — plus the text numeric-prefix rule); %i ≡ %d
    (flags/width preserved, '%%i' literals untouched); %u renders the
    two's-complement unsigned value via decimal(20,0); %c prints the
    first character of the argument's text form (SQLite's behavior);
    bare %g applies C's 6-significant-digit form choice. Only possible
    when the format is a string literal; otherwise pass through
    unchanged (documented fallback). SQLite's %q/%Q/%w and '*' widths
    stay unsupported."""
    fmt = args[0].strip()
    if not (fmt.startswith("'") and fmt.endswith("'")) or "*" in fmt:
        return f"format_string({', '.join(args)})"
    pieces, last, wrapped, idx = [], 0, [], 1
    for m in _PRINTF_SPEC.finditer(fmt):
        flags, width, prec, conv = m.groups()
        if conv == "%":
            continue
        if idx >= len(args):  # too few args: SQLite prints 0/'' — supply
            args = [*args, "null"]
        a = args[idx]
        spec_head = fmt[last : m.start(4)]  # includes '%', flags, width, prec
        if conv == "i":  # %i ≡ %d in C; Java lacks it
            pieces.append(spec_head + "d")
            last = m.end()
            wrapped.append(f"coalesce({_sqlite_int_cast(a)}, 0)")
        elif conv in "doxX":
            wrapped.append(f"coalesce({_sqlite_int_cast(a)}, 0)")
        elif conv == "u":
            # two's-complement unsigned rendering; Java has no %u
            pieces.append(spec_head + "s")
            last = m.end()
            v = f"coalesce({_sqlite_int_cast(a)}, 0)"
            wrapped.append(
                f"cast((case when {v} < 0 then cast({v} as decimal(20,0)) "
                f"+ 18446744073709551616 else cast({v} as decimal(20,0)) "
                f"end) as string)"
            )
        elif conv == "c":
            # SQLite %c prints the FIRST CHARACTER of the text rendering;
            # a NULL argument renders as character code 0 (a NUL byte)
            pieces.append(spec_head + "s")
            last = m.end()
            wrapped.append(
                f"(case when ({a}) is null then chr(0) "
                f"else substring(cast({a} as string), 1, 1) end)"
            )
        elif conv in "gG" and not (flags or width or prec):
            pieces.append(fmt[last : m.start()] + "%s")
            last = m.end()
            wrapped.append(_c_bare_g(a))
        elif conv in "eEfFgG":
            wrapped.append(f"cast(coalesce({a}, 0) as double)")
        else:  # s
            wrapped.append(f"coalesce(cast({a} as string), '')")
        idx += 1
    pieces.append(fmt[last:])
    rest = wrapped + args[idx:]
    if not rest:
        return f"format_string({''.join(pieces)})"
    return f"format_string({''.join(pieces)}, {', '.join(rest)})"


# note: Spark SQL two-arg ltrim is ltrim(trimStr, str); SQLite is
# ltrim(str, chars) — hence the swap above keeps SQLite argument order
# working for module authors.


# json_each(X[, path]) as a TABLE source (SQLite json1 table-valued
# function): rewritten to LATERAL VIEW inline() over a key/value struct
# array built at runtime — arrays enumerate with stringified indexes as
# keys, objects with their keys; values surface as text (nested JSON stays
# JSON text), matching json_each's key/value columns for the flat case.
# The argument is bound ONCE through explode(array(X)) so an expensive X
# (a UDF call) is never evaluated per branch of the case expression. The
# rewrite runs AFTER token translation so the generated lambda arrows are
# never mistaken for SQLite's JSON -> operator, and the lateral view is
# inserted at the END of the enclosing FROM clause so relations/joins
# written after the json_each stay valid Spark grammar (lateral views must
# follow all relations). NON-outer on purpose: SQLite's json_each emits
# ZERO rows for an empty document ('{}' / '[]'), so the source row must
# drop, not null-pad — except for the LEFT JOIN spelling, which maps to
# lateral view OUTER (malformed JSON yields no rows / null-pad; SQLite
# errors there — documented compat divergence).
_JE_ENTRIES = (
    "case when substring(ltrim({x}), 1, 1) = '[' "
    "then transform(from_json({x}, 'array<string>'), "
    "(v, i) -> struct(cast(i as string) as key, v as value)) "
    "when substring(ltrim({x}), 1, 1) = '{{' "
    "then transform(map_entries(from_json({x}, 'map<string,string>')), "
    "e -> struct(e.key as key, e.value as value)) "
    # scalar document (json_each('5'), or a 2-arg path landing on a
    # scalar): SQLite emits ONE row with key NULL and the scalar as the
    # value. get_json_object(x, '$') both validates and unquotes; invalid
    # JSON yields NULL -> the row drops (the documented divergence —
    # SQLite errors there).
    "when get_json_object({x}, '$') is not null "
    "then array(struct(cast(null as string) as key, "
    "get_json_object({x}, '$') as value)) "
    "else cast(null as array<struct<key:string,value:string>>) end"
)

_JE_ALIAS_STOP = frozenset(
    {"where", "group", "order", "limit", "on", "join", "left", "right",
     "inner", "outer", "cross", "union", "intersect", "except", "having",
     "lateral", "as"}
)

_JE_RE = re.compile(r"(\bfrom\b|,|\bjoin\b)(\s*)json_each\s*\(", re.IGNORECASE)

# keywords that terminate a FROM clause (depth-0): the lateral view goes
# right before the first of these
_JE_FROM_END_KW = frozenset(
    {"where", "group", "order", "having", "limit", "union", "intersect",
     "except", "window", "qualify"}
)


def _string_spans(sql: str) -> list[tuple[int, int]]:
    """[start, end] index spans of single-quoted literals ('' = escape)."""
    spans, i = [], 0
    while i < len(sql):
        if sql[i] == "'":
            j = i + 1
            while j < len(sql):
                if sql[j] == "'":
                    if j + 1 < len(sql) and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, j))
            i = j + 1
        else:
            i += 1
    return spans


def _je_args(sql: str, open_idx: int) -> tuple[list[str], int]:
    """Split the parenthesized argument list at top-level commas
    (string-aware). Returns (args, index of the closing paren)."""
    depth, i, args, cur_start = 0, open_idx, [], open_idx + 1
    while i < len(sql):
        c = sql[i]
        if c == "'":
            i += 1
            while i < len(sql):
                if sql[i] == "'":
                    if i + 1 < len(sql) and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                args.append(sql[cur_start:i].strip())
                return args, i
        elif c == "," and depth == 1:
            args.append(sql[cur_start:i].strip())
            cur_start = i + 1
        i += 1
    raise SqlTranslationError("unbalanced parens in json_each()")


def _je_insert_point(s: str) -> int:
    """Offset in ``s`` where the enclosing FROM clause ends: the first
    depth-0 clause keyword, ';', an unmatched ')' (subquery close), or
    end-of-string. JOIN/ON tokens are part of the FROM clause and are
    skipped over."""
    depth, i = 0, 0
    while i < len(s):
        c = s[i]
        if c == "'":
            i += 1
            while i < len(s):
                if s[i] == "'":
                    if i + 1 < len(s) and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return i
            depth -= 1
        elif c == ";" and depth == 0:
            return i
        elif depth == 0 and (c.isalpha() or c == "_"):
            mm = re.match(r"[A-Za-z_][A-Za-z_0-9]*", s[i:])
            if mm.group(0).lower() in _JE_FROM_END_KW:
                return i
            i += mm.end() - 1
        i += 1
    return len(s)


def _rewrite_json_each(sql: str) -> str:
    counter = 0
    while True:
        spans = _string_spans(sql)
        m = None
        for cand in _JE_RE.finditer(sql):
            # skip matches living inside a string literal
            if any(a <= cand.end() - 1 <= b for a, b in spans):
                continue
            m = cand
            break
        if m is None:
            return sql
        sep = m.group(1).lower()
        open_idx = sql.index("(", m.end() - 1)
        args, close_idx = _je_args(sql, open_idx)
        if not 1 <= len(args) <= 2:
            raise SqlTranslationError("json_each takes 1 or 2 arguments")
        # json_each(X, '$.path') enumerates the value AT the path
        doc = (
            args[0]
            if len(args) == 1
            else f"get_json_object({args[0]}, {args[1]})"
        )
        # alias (optional AS, case-insensitive); default = SQLite's
        alias, alias_end = "json_each", close_idx + 1
        am = re.match(
            r"\s*(?:as\s+)?([A-Za-z_][A-Za-z_0-9]*)",
            sql[close_idx + 1 :],
            re.IGNORECASE,
        )
        if am and am.group(1).lower() not in _JE_ALIAS_STOP:
            alias = am.group(1)
            alias_end = close_idx + 1 + am.end()
        if re.match(r"\s*on\b", sql[alias_end:], re.IGNORECASE):
            raise SqlTranslationError(
                "json_each with an ON clause is not supported; "
                "use the comma (lateral) form"
            )
        # JOIN spelling: absorb a preceding LEFT/INNER/CROSS; LEFT keeps
        # rows with no json rows, i.e. lateral view OUTER
        seg_start, outer = m.start(), False
        if sep == "join":
            pre = re.search(
                r"(\bleft\s+outer\b|\bleft\b|\binner\b|\bcross\b"
                r"|\bright(?:\s+outer)?\b|\bfull(?:\s+outer)?\b)\s*$",
                sql[: m.start()],
                re.IGNORECASE,
            )
            if pre:
                kind = pre.group(1).split()[0].lower()
                if kind in ("right", "full"):
                    # json_each can't drive the preserved side of a
                    # right/full join through a lateral view — fail loudly
                    # rather than emit dangling tokens
                    raise SqlTranslationError(
                        f"{kind} join json_each(...) is not supported; "
                        "use the comma (lateral) or LEFT JOIN form"
                    )
                seg_start = pre.start()
                outer = kind == "left"
        counter += 1
        bind = f"__je_doc{counter}__"
        ov = "outer " if outer else ""
        lv = (
            f" lateral view {ov}explode(array({doc})) __je_b{counter}__ "
            f"as {bind} lateral view {ov}inline("
            f"{_JE_ENTRIES.format(x=bind)}) {alias} as key, value"
        )
        if sep == "from":
            head = (
                sql[: m.start()]
                + f"from (select 1 as __je_one__) __je_base{counter}__"
            )
        else:  # ',' or JOIN: drop the separator, keep the left relations
            head = sql[:seg_start]
        tail = sql[alias_end:]
        ins = _je_insert_point(tail)
        sql = head + tail[:ins] + lv + " " + tail[ins:]


def _sqldiv_tree(arg: str):
    """Parse a (possibly nested / parenthesized) __sqldiv__ expression
    into a binary tree: ('div', left, right) nodes, leaf strings."""
    a = arg.strip()
    while (
        a.startswith("(")
        and a.endswith(")")
        # the unmatched ')' seen from a[1:] must be a's own last char
        and _je_insert_point(a[1:]) == len(a) - 2
    ):
        a = a[1:-1].strip()
    if a.startswith("__sqldiv__"):
        open_idx = a.index("(")
        args, close = _je_args(a, open_idx)
        if close == len(a) - 1 and len(args) == 2:
            return ("div", _sqldiv_tree(args[0]), _sqldiv_tree(args[1]))
    return a


def _sqldiv_leaves(node) -> list[str]:
    if isinstance(node, str):
        return [node]
    return _sqldiv_leaves(node[1]) + _sqldiv_leaves(node[2])


def _sqldiv_render(node, op: str, leaf_fmt: str) -> str:
    if isinstance(node, str):
        return leaf_fmt.format(x=node)
    l = _sqldiv_render(node[1], op, leaf_fmt)
    r = _sqldiv_render(node[2], op, leaf_fmt)
    return f"({l} {op} {r})"


def _expand_sqldiv(sql: str) -> str:
    """Expand __sqldiv__ placeholders into SQLite division semantics.

    SQLite '/' truncates toward zero when BOTH operands are integers.
    A division TREE (chains, parenthesized sub-divisions) expands with
    ONE typeof test over every leaf: all-integer trees run through
    Spark's ``div`` applied in the ORIGINAL tree shape (truncates toward
    zero, null on /0 — exact SQLite behavior for integer trees of any
    nesting), anything else runs fully fractional. The case expression
    unifies to DOUBLE, so 7/2 yields 3.0 where SQLite yields 3 (value
    right, affinity documented); a MIXED tree like 7/2/2.0 runs fully
    fractional where SQLite decides per step — the one documented
    divergence.
    """
    while True:
        pos = sql.find("__sqldiv__(")
        if pos < 0:
            return sql
        open_idx = sql.index("(", pos)
        _, close = _je_args(sql, open_idx)
        tree = _sqldiv_tree(sql[pos : close + 1])
        leaves = _sqldiv_leaves(tree)
        all_int = " and ".join(
            f"typeof({o}) in {_INT_TYPES_SQL}" for o in leaves
        )
        int_tree = _sqldiv_render(tree, "div", "cast({x} as bigint)")
        frac_tree = _sqldiv_render(tree, "/", "cast({x} as double)")
        repl = (
            f"(case when {all_int} then cast({int_tree} as double) "
            f"else {frac_tree} end)"
        )
        sql = sql[:pos] + repl + sql[close + 1 :]


def _lit_content(tok: str) -> str:
    """Decode a TRANSPORT-ENCODED string-literal token back to its
    character content (undo the translate-entry backslash doubling and
    the '' quote doubling) for rewrites that must inspect it."""
    return tok[1:-1].replace("\\\\", "\\").replace("''", "'")


def _lit_encode(content: str) -> str:
    """Character content → Spark string-literal token (backslashes
    doubled for Spark's C-style literal parser, quotes doubled)."""
    return "'" + content.replace("\\", "\\\\").replace("'", "''") + "'"


# Keywords that terminate a depth-0 WHERE/HAVING clause (ON covers the
# upsert's trailing ON CONFLICT after an INSERT…SELECT…WHERE)
_FILTER_CLAUSE_ENDS = frozenset({
    "group", "order", "limit", "offset", "window", "union", "except",
    "intersect", "returning", "having", "on",
})


# tokens a PREFIX ``not`` can follow (vs the postfix ``x not in/like/…``
# and ``is not`` forms, where the previous token is an expression/`is`)
_NOT_PREFIX_PREV = frozenset(
    {"(", ",", "and", "or", "not", "where", "having", "when", "then",
     "else", "on", "=", "<>", "!=", "<", ">", "<=", ">="}
)
_NOT_OPERAND_STOPS = frozenset(
    {"and", "or", "group", "order", "limit", "having", "union",
     "intersect", "except", "window", "then", "else", "end", "when"}
)


def _rewrite_prefix_not(toks: list[str], lows: list[str]) -> list[str]:
    """Rewrite every prefix ``not <operand>`` (any depth) into
    ``not (case when (op) is null then cast(null as boolean) else
    truthy(op) end)`` — SQLite's NOT coerces its operand through numeric
    truthiness and propagates NULL (``WHERE NOT NULL`` excludes the
    row), while Spark's NOT demands a BOOLEAN operand outright.
    ``not exists(…)`` is left alone (already boolean); rightmost-first
    so earlier indices stay valid."""
    toks = list(toks)
    lows = list(lows)
    sites = [
        i
        for i, low in enumerate(lows)
        if low == "not"
        and _is_word(toks[i])
        and (i == 0 or lows[i - 1] in _NOT_PREFIX_PREV)
        and not (i + 1 < len(lows) and lows[i + 1] == "exists")
    ]
    for i in reversed(sites):
        j = next(
            (
                k
                for k in top_level(toks, i + 1)
                if toks[k] in (")", ",", ";")
                or (_is_word(toks[k]) and lows[k] in _NOT_OPERAND_STOPS)
            ),
            len(toks),
        )
        op = " ".join(toks[i + 1 : j])
        if not op:
            continue
        repl = (
            f"not (case when ({op}) is null then cast(null as boolean) "
            f"else {_sqlite_truthy('(' + op + ')')} end)"
        )
        toks[i : j] = [repl]
        lows[i : j] = [repl]
    return toks


def _coerce_filter_tokens(toks: list[str], lows: list[str]) -> list[str]:
    out: list[str] = []
    i, n = 0, len(toks)
    while i < n:
        t, low = toks[i], lows[i]
        out.append(t)
        if _is_word(t) and low in ("where", "having"):
            j = next(
                (
                    k
                    for k in top_level(toks, i + 1)
                    if toks[k] == ")"
                    or (_is_word(toks[k]) and lows[k] in _FILTER_CLAUSE_ENDS)
                ),
                n,
            )
            inner = _coerce_filter_tokens(toks[i + 1 : j], lows[i + 1 : j])
            inner_lows = [
                t.lower() if _is_word(t) else t for t in inner
            ]
            inner = _rewrite_prefix_not(inner, inner_lows)
            out.append(_sqlite_truthy("( " + " ".join(inner) + " )"))
            i = j
            continue
        i += 1
    return out


def coerce_filter_truthiness(sql: str) -> str:
    """Wrap every WHERE/HAVING clause (all nesting depths) in the
    SQLite truthiness coercion (``_sqlite_truthy``) — SQLite filters
    accept numeric truthiness (``WHERE drisl_exists(p, '.k')``,
    ``WHERE 1``, ``WHERE '1.5'`` via the text numeric-prefix rule)
    while Spark demands BOOLEAN, and Spark's own cast-to-boolean
    DIVERGES on strings ('true'→true vs SQLite's 0→false, '1.5'→NULL
    vs SQLite's true). Boolean clauses pass through the wrap unchanged,
    so this is semantics-preserving, but it can hide pushdown-able
    conjuncts from Catalyst — callers apply it only as a RETRY after a
    FILTER_NOT_BOOLEAN analysis error (DmlExecutor._sql), keeping the
    common path's plans clean. Same truthiness rule the iif()
    translation applies."""
    toks = tokenize(sql)
    lows = [t.lower() if _is_word(t) else t for t in toks]
    return " ".join(_coerce_filter_tokens(toks, lows))


def translate(sql: str) -> str:
    """Translate one SQLite-dialect statement/expression to Spark SQL.

    Memoized on the exact text: translation is a pure token rewrite, and
    module folds re-execute the SAME materializer/query statements on
    every commit/push — re-tokenizing them per execution was measurable
    GIL-held Python work on the commit hot path."""
    return _translate_cached(sql)


@lru_cache(maxsize=4096)
def _translate_cached(sql: str) -> str:
    tokens = tokenize(sql)
    # SQLite string literals are VERBATIM (no escape sequences); Spark's
    # parser processes C-style backslash escapes. Double every backslash
    # at the transport layer so the value Spark sees is the value SQLite
    # saw — rewrites that inspect literal CONTENT decode via _lit_content.
    tokens = [
        t.replace("\\", "\\\\") if t.startswith("'") else t for t in tokens
    ]
    tokens = _scalar_subquery_limit(tokens)
    return _rewrite_json_each(_expand_sqldiv(_j(_translate_tokens(tokens))))


# prev-token classes for _scalar_subquery_limit: a ``( select`` group in
# one of these positions is definitely NOT a scalar expression
_SUBQ_NONSCALAR_PREV = frozenset(
    {"in", "exists", "from", "join", "union", "intersect", "except",
     "all", "as", "insert", "into", "values", "view", "trigger",
     "begin", ";"}
)
_SUBQ_SCALAR_OPS = frozenset(
    {"=", "<", ">", "<=", ">=", "<>", "!=", "+", "-", "*", "/", "%", "||"}
)
_SUBQ_SCALAR_WORDS = frozenset(
    {"select", "set", "where", "having", "when", "then", "else", "on",
     "by", "limit", "offset", "and", "or", "not", "return", "returning"}
)


def _scalar_subquery_limit(toks: list[str]) -> list[str]:
    """Append ``limit 1`` to subqueries in SCALAR expression position:
    SQLite evaluates a scalar subquery to its FIRST row (extra rows are
    silently ignored), while Spark raises SCALAR_SUBQUERY_TOO_MANY_ROWS
    at runtime — so the rewrite only ever turns an error into the
    reference's answer. Conservative by construction: ambiguous
    positions (derived tables in comma-joins, compound members, VALUES
    tuples) and subqueries that already carry a top-level LIMIT are left
    untouched (unchanged behavior)."""
    lows = [t.lower() if _is_word(t) else t for t in toks]
    out = list(toks)
    sites = [
        i
        for i in range(len(toks) - 1)
        if toks[i] == "(" and lows[i + 1] == "select"
    ]
    for i in reversed(sites):
        prev = lows[i - 1] if i > 0 else None
        scalar = False
        if prev in _SUBQ_SCALAR_OPS or prev in _SUBQ_SCALAR_WORDS:
            scalar = True
        elif prev == "(":
            # function argument (coalesce((select …), 0)) is scalar; a
            # parenthesized FROM/IN/compound member is not — classify by
            # what precedes the OUTER paren
            pp = lows[i - 2] if i > 1 else None
            # scalar iff the outer paren is a function CALL: preceded by
            # a plausible function-name identifier (not a clause keyword,
            # not IN/EXISTS/FROM grouping)
            scalar = (
                pp is not None
                and _is_word(out[i - 2])
                and pp not in _SUBQ_NONSCALAR_PREV
                and pp not in _NOT_FN_WORDS
            )
        elif prev == ",":
            # walk back at this depth: a SELECT-list comma is scalar, a
            # FROM-list (comma join) or tuple comma is not
            k, d = i - 2, 0
            ctx = None
            while k >= 0:
                tk = out[k]
                if tk == ")":
                    d += 1
                elif tk == "(":
                    if d == 0:
                        ctx = "paren"
                        break
                    d -= 1
                elif d == 0 and _is_word(tk):
                    lw = lows[k]
                    if lw == "select":
                        ctx = "select"
                        break
                    if lw in ("from", "values"):
                        ctx = lw
                        break
                k -= 1
            scalar = ctx == "select"
        if not scalar:
            continue
        # matching close paren + top-level LIMIT check inside the group
        j = close_paren(out, i)
        if j >= len(out) or any(
            lows[k] == "limit" for k in top_level(out, i + 1, j)
        ):
            continue
        out[j:j] = ["limit", "1"]
        lows[j:j] = ["limit", "1"]
    return out


_INT_TYPES_SQL = "('bigint', 'int', 'smallint', 'tinyint')"

# words that can precede a parenthesized group WITHOUT being a function
# name — never absorb them into a popped operand
_NOT_FN_WORDS = frozenset(
    {"select", "where", "when", "then", "else", "and", "or", "not", "in",
     "on", "from", "by", "as", "case", "end", "between", "exists",
     "values", "having", "set", "distinct", "all", "union", "intersect",
     "except", "like", "ilike", "glob", "is", "escape", "limit", "offset",
     "group", "order", "join", "over"}
)


# words that terminate an expression sweep (clause structure, logical
# and comparison keywords) — an operand never crosses these
_EXPR_BOUNDARY_WORDS = frozenset(
    {"select", "where", "when", "then", "else", "and", "or", "not", "in",
     "on", "from", "by", "as", "case", "end", "between", "exists",
     "values", "having", "set", "distinct", "all", "union", "intersect",
     "except", "like", "ilike", "glob", "is", "escape", "limit", "offset",
     "group", "order", "join", "over", "collate", "asc", "desc",
     "returning", "cross", "inner", "outer", "left", "right", "window"}
)

_CMP_OPS = frozenset({"=", "<", ">", "<=", ">=", "<>", "!="})


def _pop_tier_operand(out: list[str], boundary_ops: frozenset) -> list[str]:
    """Pop the longest already-translated suffix of ``out`` that forms one
    operand for an operator of a given precedence tier: sweep backwards
    over balanced groups and tighter-tier operators, stopping at
    ``boundary_ops``, comparison/clause keywords, an enclosing '(' or
    ','/';'. Left-associativity falls out: everything tighter that was
    already emitted belongs to the left operand."""
    unit: list[str] = []
    while out:
        t = out[-1]
        if t == ")":
            depth = 0
            while out:
                u = out.pop()
                unit.append(u)
                if u == ")":
                    depth += 1
                elif u == "(":
                    depth -= 1
                    if depth == 0:
                        break
            if (
                out
                and _is_word(out[-1])
                and out[-1].lower() not in _NOT_FN_WORDS
            ):
                unit.append(out.pop())
            continue
        if t in ("(", ",", ";") or t in boundary_ops or t in _CMP_OPS:
            break
        if _is_word(t) and t.lower() in _EXPR_BOUNDARY_WORDS:
            break
        unit.append(out.pop())
    if not unit:
        raise SqlTranslationError("missing left operand")
    unit.reverse()
    return unit


def _take_tier_operand(
    tokens: list[str], i: int, boundary_ops: frozenset
) -> tuple[list[str], int]:
    """Forward counterpart of _pop_tier_operand over RAW tokens: sweep the
    right operand up to (excluding) the next same-or-looser-tier operator,
    comparison, clause keyword, or depth-0 ')'/','/';'."""
    unit: list[str] = []
    n = len(tokens)
    first = True
    while i < n:
        t = tokens[i]
        if t == "(" or (
            _is_word(t) and i + 1 < n and tokens[i + 1] == "("
            and t.lower() not in _NOT_FN_WORDS
        ):
            j = close_paren(tokens, i if t == "(" else i + 1)
            unit.extend(tokens[i : j + 1])
            i = j + 1
            first = False
            continue
        if t in (")", ",", ";"):
            break
        if not first and (t in boundary_ops or t in _CMP_OPS):
            break
        if first and t in ("-", "+", "~"):
            unit.append(t)
            i += 1
            continue
        if t in boundary_ops or t in _CMP_OPS:
            break
        if _is_word(t) and t.lower() in _EXPR_BOUNDARY_WORDS:
            break
        unit.append(t)
        i += 1
        first = False
    if not unit:
        raise SqlTranslationError("missing right operand")
    return unit, i


# '/' tier: * % share it (stay in the operand); everything looser stops
_DIV_BOUNDARY = frozenset({"+", "-", "&", "|", "<<", ">>", "||", "/"})
# bitwise tier: looser than all arithmetic and concat — only comparisons,
# logic and clause keywords bound the operands
_BIT_BOUNDARY = frozenset({"&", "|", "<<", ">>"})


def _pop_operand(out: list[str]) -> list[str]:
    """Pop one complete already-translated primary operand off ``out``:
    a ')'-balanced group (with its function name), a literal/identifier,
    plus any dotted qualification. Used by binary-operator rewrites."""
    if not out:
        raise SqlTranslationError("missing left operand")
    unit = [out.pop()]
    if unit[0] == ")":
        depth = 1
        while out and depth:
            u = out.pop()
            unit.append(u)
            if u == ")":
                depth += 1
            elif u == "(":
                depth -= 1
        if out and _is_word(out[-1]) and out[-1].lower() not in _NOT_FN_WORDS:
            unit.append(out.pop())
    while len(out) >= 2 and out[-1] == ".":
        unit.append(out.pop())
        unit.append(out.pop())
    unit.reverse()
    return unit


def _take_operand(tokens: list[str], i: int) -> tuple[list[str], int]:
    """(raw tokens of the primary operand starting at ``i``, next index):
    optional unary sign, then literal/identifier/function-call/
    parenthesized group, plus dotted chains."""
    unit: list[str] = []
    if i < len(tokens) and tokens[i] in ("-", "+", "~"):
        unit.append(tokens[i])
        i += 1
    if i >= len(tokens):
        raise SqlTranslationError("missing right operand")
    t = tokens[i]
    if _is_word(t) and i + 1 < len(tokens) and tokens[i + 1] == "(":
        _, close = _find_args(tokens, i + 1)
        unit.extend(tokens[i : close + 1])
        i = close + 1
    elif t == "(":
        j = close_paren(tokens, i)
        unit.extend(tokens[i : j + 1])
        i = j + 1
    else:
        unit.append(t)
        i += 1
    while i + 1 < len(tokens) and tokens[i] == ".":
        unit.append(".")
        unit.append(tokens[i + 1])
        i += 2
    return unit, i


_COLLATE_FOLDS = {
    "binary": lambda e: e,
    # SQLite NOCASE folds ASCII only — same translate() as lower()
    "nocase": lambda e: (
        f"translate({e}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
        f"'abcdefghijklmnopqrstuvwxyz')"
    ),
    "rtrim": lambda e: f"rtrim({e})",
}


def _translate_tokens(tokens: list[str]) -> list[str]:
    out: list[str] = []
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        low = t.lower() if _is_word(t) else t
        # $param → :param
        if t.startswith("$"):
            out.append(":" + t[1:])
            i += 1
            continue
        # expr COLLATE name — Spark has no collations; apply the
        # collation as a key FOLD (nocase → ASCII-lower, rtrim → rtrim)
        # to every operand of the comparison/ordering the collation
        # governs. SQLite derives a comparison's collation from either
        # operand's subtree, so folding the WHOLE swept operand is the
        # comparison semantics. In pure value position (select list,
        # function args) the collate is dropped — the value is the
        # original; ordering-by-that-alias keeps the documented
        # limitation. DISTINCT folds (count(distinct s collate nocase)).
        if (
            _is_word(t)
            and low == "collate"
            and i + 1 < n
            and _is_word(tokens[i + 1])
        ):
            cname = tokens[i + 1].lower()
            fold = _COLLATE_FOLDS.get(cname)
            if fold is None:
                raise SqlTranslationError(f"unsupported collation {cname}")
            lhs = _j(_pop_tier_operand(out, frozenset()))
            i += 2
            nxt = tokens[i] if i < n else ""
            nxt_low = nxt.lower() if _is_word(nxt) else nxt
            if out and out[-1] in _CMP_OPS:  # tagged RIGHT comparison side
                op = out.pop()
                left = _j(_pop_tier_operand(out, frozenset()))
                out.extend(
                    tokenize(f"{fold(f'({left})')} {op} {fold(f'({lhs})')}")
                )
                continue
            if nxt in _CMP_OPS:  # tagged LEFT side: fold the right too
                right_raw, i2 = _take_tier_operand(tokens, i + 1, frozenset())
                right = _j(_translate_tokens(right_raw))
                out.extend(
                    tokenize(f"{fold(f'({lhs})')} {nxt} {fold(f'({right})')}")
                )
                i = i2
                continue
            if nxt_low == "between":
                x_raw, i2 = _take_tier_operand(tokens, i + 1, frozenset())
                if i2 >= n or tokens[i2].lower() != "and":
                    raise SqlTranslationError("COLLATE BETWEEN missing AND")
                y_raw, i3 = _take_tier_operand(tokens, i2 + 1, frozenset())
                x = _j(_translate_tokens(x_raw))
                y = _j(_translate_tokens(y_raw))
                out.extend(
                    tokenize(
                        f"{fold(f'({lhs})')} between {fold(f'({x})')} "
                        f"and {fold(f'({y})')}"
                    )
                )
                i = i3
                continue
            if nxt_low == "in" and i + 1 < n and tokens[i + 1] == "(":
                j = close_paren(tokens, i + 1)
                folded = ", ".join(
                    fold(f"({_j(_translate_tokens(e))})")
                    for e in split_top(tokens[i + 2 : j])
                )
                out.extend(tokenize(f"{fold(f'({lhs})')} in ({folded})"))
                i = j + 1
                continue
            # bare: fold in key/boolean positions, drop in value position
            ctx = ""
            for prev in reversed(out):
                pl = prev.lower() if _is_word(prev) else prev
                if pl in (
                    "select", "by", "where", "on", "having", "when",
                    "then", "set", "values", "distinct",
                ):
                    ctx = pl
                    break
            if ctx in ("by", "where", "on", "having", "when", "distinct"):
                out.extend(tokenize(fold(f"({lhs})")))
            else:
                out.extend(tokenize(f"({lhs})"))
            continue
        # state.tbl / events.tbl namespace flattening (identifier '.' identifier)
        if (
            _is_word(t)
            and low in ("state", "temp", "main", "events")
            and i + 2 < n
            and tokens[i + 1] == "."
            and _is_word(tokens[i + 2])
        ):
            if low == "main":
                out.append(tokens[i + 2])
            elif low == "events" and tokens[i + 2].lower() == "events":
                out.append("events")
            else:
                out.append(f"{low}_{tokens[i + 2]}")
            i += 3
            continue
        # function call? — not when the word sits in table-name position
        # (e.g. ``insert into log (idx)``: a table named like a builtin
        # followed by its column list must not be rewritten as a call)
        prev_low = tokens[i - 1].lower() if i > 0 and _is_word(tokens[i - 1]) else ""
        in_table_pos = prev_low in ("into", "table", "join", "from", "update")
        if _is_word(t) and not in_table_pos and i + 1 < n and tokens[i + 1] == "(" and low not in (
            "select",
            "where",
            "from",
            "and",
            "or",
            "not",
            "in",
            "exists",
            "on",
            "values",
            "as",
            "between",
            "case",
            "when",
            "then",
            "else",
            "end",
        ):
            args_tok, close = _find_args(tokens, i + 1)
            args = [_j(_translate_tokens(a)) for a in args_tok]
            out.extend(tokenize(_rw_call(t, args)))
            i = close + 1
            continue
        # a ->> 'k'  /  a -> 'k'
        if t in ("->>", "->"):
            prev = out.pop()
            # reconstruct a parenthesized or simple operand
            operand = prev
            while out and (out[-1] == "." or (operand.startswith("(") and False)):
                operand = out.pop() + operand
            key = tokens[i + 1]
            if key.startswith("'"):
                path = "'$." + key[1:-1] + "'" if not key[1:-1].startswith("$") else key
            else:
                path = f"concat('$.', {key})"
            out.extend(tokenize(f"get_json_object({operand}, {path})"))
            i += 2
            continue
        # SQLite '/' does INTEGER division (truncating toward zero) when
        # both operands are integers; Spark '/' is always fractional. The
        # rewrite dispatches on runtime typeof — Spark `div` truncates
        # toward zero and nulls on /0 exactly like SQLite. The case
        # expression unifies to DOUBLE, so int/int yields 3.0 where
        # SQLite yields 3 — the VALUE is right, the affinity divergence
        # is documented (same class as '7'+1 -> 8.0). Operands are pure
        # expressions evaluated twice; SQLite's deterministic query fns
        # make that safe. Integer '%' already matches Spark; float '%'
        # (SQLite casts operands to int) is a documented divergence.
        if t == "/" and out:
            # left operand sweeps the already-emitted same-tier chain
            # (a * b / c == (a*b)/c); right operand is one primary
            # (a / b * c == (a/b)*c)
            a = _j(_pop_tier_operand(out, _DIV_BOUNDARY))
            b_toks, i2 = _take_operand(tokens, i + 1)
            b = _j(_translate_tokens(b_toks))
            # placeholder; division trees expand in _expand_sqldiv so the
            # integer-ness decision covers the WHOLE tree
            out.extend(tokenize(f"__sqldiv__({a}, {b})"))
            i = i2
            continue
        # SQLite bitwise ops cast BOTH operands to INTEGER (so they work
        # on reals and on our double-typed division results); Spark's
        # operators are strict about operand types — cast explicitly.
        # NULL propagates through the casts exactly like SQLite.
        if t in ("&", "|", "<<", ">>") and out:
            # SQLite bitwise binds LOOSER than all arithmetic: both
            # operand sweeps cross +,-,*,/,% chains (2 + n & n ==
            # (2+n) & n), stopping only at other bitwise/comparison/
            # clause boundaries
            a = _j(_pop_tier_operand(out, _BIT_BOUNDARY))
            b_toks, i2 = _take_tier_operand(tokens, i + 1, _BIT_BOUNDARY)
            b = _j(_translate_tokens(b_toks))
            ca, cb = f"cast({a} as bigint)", f"cast({b} as bigint)"
            if t in ("<<", ">>"):
                # SQLite shift semantics: amounts >= 64 saturate (0 for
                # the vacated direction, sign for arithmetic right);
                # NEGATIVE amounts shift the OTHER way. Spark/Java shift
                # modulo 64 — emulate exactly. NULLs fall through every
                # branch to null.
                left_first = t == "<<"
                sat_right = f"(case when {ca} < 0 then -1 else 0 end)"
                if left_first:
                    expr = (
                        f"(case when {cb} >= 64 then cast(0 as bigint) "
                        f"when {cb} <= -64 then {sat_right} "
                        f"when {cb} >= 0 then {ca} << {cb} "
                        f"else {ca} >> (- {cb}) end)"
                    )
                else:
                    expr = (
                        f"(case when {cb} >= 64 then {sat_right} "
                        f"when {cb} <= -64 then cast(0 as bigint) "
                        f"when {cb} >= 0 then {ca} >> {cb} "
                        f"else {ca} << (- {cb}) end)"
                    )
                out.extend(tokenize(expr))
            else:
                out.extend(tokenize(f"({ca} {t} {cb})"))
            i = i2
            continue
        if t == "~":
            b_toks, i2 = _take_operand(tokens, i + 1)
            b = _j(_translate_tokens(b_toks))
            out.extend(tokenize(f"(~ cast({b} as bigint))"))
            i = i2
            continue
        # SQLite LIKE is case-insensitive (ASCII) by default — Spark's
        # ILIKE is the faithful operator (ESCAPE clauses pass through).
        # Without an ESCAPE clause SQLite treats backslash as an
        # ORDINARY character while Spark's matcher treats it as the
        # default escape — so a literal pattern's backslashes are
        # escaped for the matcher (dynamic patterns keep the documented
        # divergence).
        if _is_word(t) and low == "like":
            out.append("ilike")
            nxt = tokens[i + 1] if i + 1 < len(tokens) else ""
            has_escape = (
                i + 2 < len(tokens) and tokens[i + 2].lower() == "escape"
            )
            if nxt.startswith("'") and not has_escape:
                tokens[i + 1] = _lit_encode(
                    _lit_content(nxt).replace("\\", "\\\\")
                )
            elif (
                nxt.startswith("'")
                and has_escape
                and i + 3 < len(tokens)
                and tokens[i + 3].startswith("'")
            ):
                # escape-before-ordinary is legal in SQLite; normalize
                # for Spark's matcher (a dangling trailing escape stays
                # as-is — pathological, Spark raises where SQLite
                # returns 0; the function form handles it exactly)
                norm = _normalize_like_pattern(
                    _lit_content(nxt), _lit_content(tokens[i + 3])
                )
                if norm is not None:
                    tokens[i + 1] = _lit_encode(norm)
            i += 1
            continue
        # x GLOB 'pat'
        if _is_word(t) and low == "glob":
            prev = out.pop()
            pat = tokens[i + 1]
            if not pat.startswith("'"):
                raise SqlTranslationError("GLOB requires a literal pattern")
            out.extend(tokenize(f"{prev} rlike {_glob_to_regex(pat)}"))
            i += 2
            continue
        out.append(t)
        i += 1
    return out


# ---------------------------------------------------------------------------
# Statement classification + authorization (A17-equivalent)
# ---------------------------------------------------------------------------

_QUERY_FN_ALLOWLIST = {
    # reference leaf-stream/src/lib.rs:1104-1110
    "unauthorized", "throw",
    "coalesce", "ifnull", "nullif", "iif",
    "drisl_extract", "drisl_exists",
    "json_object", "json_group_array", "json_array", "json_patch", "json_set",
    "json_extract", "json_each",
    "max", "min", "sum", "avg", "count", "total", "group_concat",
    "abs", "round",
    "length", "substr", "substring", "trim", "ltrim", "rtrim",
    "upper", "lower", "replace", "instr", "printf", "format", "typeof",
    "date", "time", "datetime", "strftime", "unixepoch",
}

_WRITE_WORDS = {"insert", "update", "delete", "replace"}
_DDL_WORDS = {"create", "drop", "alter", "reindex", "analyze", "vacuum"}


@dataclass(frozen=True)
class StatementInfo:
    kind: str  # 'select' | 'insert' | 'update' | 'delete' | 'create_table' |
    #            'create_index' | 'create_view' | 'drop' | 'other'
    target: str | None = None  # table the statement writes/creates
    functions: tuple[str, ...] = ()
    reads_event: bool = False
    temp: bool = False  # CREATE TEMP/TEMPORARY — exempt from ns guards


def _unquote_ident(tok: str) -> str | None:
    """Identifier text of a (possibly quoted) token, lowercased — None for
    non-identifiers. Covers "x", `x`, [x] (the SQLite quote styles): a
    write guard that only sees bare identifiers is bypassable by quoting
    the target name."""
    if _is_word(tok):
        return tok.lower()
    if len(tok) >= 2:
        if tok[0] == '"' and tok[-1] == '"':
            return tok[1:-1].replace('""', '"').lower()
        if tok[0] == "`" and tok[-1] == "`":
            return tok[1:-1].replace("``", "`").lower()
        if tok[0] == "[" and tok[-1] == "]":
            return tok[1:-1].lower()
    return None


def trigger_body(toks: list[str], lows: list[str], start: int = 0) -> tuple[str, ...]:
    """The statements of a CREATE TRIGGER's BEGIN … END body: from the
    first ``begin`` at or after ``start`` to the LAST ``end`` (the body
    may contain CASE … END expressions)."""
    begin_idx = lows.index("begin", start)
    end_idx = len(lows) - 1 - lows[::-1].index("end")
    return tuple(
        s for s in split_statements(_j(toks[begin_idx + 1 : end_idx])) if s.strip()
    )


def classify(sql: str) -> StatementInfo:
    toks = tokenize(sql)
    if not toks:
        return StatementInfo("other")
    lows = [t.lower() if _is_word(t) else t for t in toks]
    # WITH-prefixed statements: the real verb is the first depth-0 verb
    # after the CTE list (SQLite allows WITH ... INSERT/UPDATE/DELETE —
    # head-keyword dispatch alone would classify those as harmless
    # selects). CTE bodies sit inside parens, so depth-0 scanning skips
    # them.
    if lows[0] == "with":
        verbs = {"select", "insert", "replace", "update", "delete",
                 "create", "drop", "alter"}
        for i in top_level(toks, 1):
            if lows[i] in verbs:
                if lows[i] == "select":
                    break
                inner = classify(" ".join(toks[i:]))
                fns_all = tuple(sorted(set(inner.functions) | {
                    lows[j]
                    for j in range(len(toks) - 1)
                    if _is_word(toks[j]) and toks[j + 1] == "("
                    and lows[j] not in (
                        "select", "where", "from", "and", "or", "not", "in",
                        "exists", "on", "values", "as", "between",
                    )
                }))
                return StatementInfo(
                    inner.kind, inner.target, fns_all,
                    inner.reads_event or "event" in lows,
                )
    fns = tuple(
        sorted(
            {
                lows[i]
                for i in range(len(toks) - 1)
                if _is_word(toks[i]) and toks[i + 1] == "(" and lows[i] not in (
                    "select", "where", "from", "and", "or", "not", "in", "exists",
                    "on", "values", "as", "between",
                )
            }
        )
    )
    reads_event = "event" in lows
    head = lows[0]

    def _after(word: str) -> str | None:
        try:
            k = lows.index(word)
        except ValueError:
            return None
        j = k + 1
        while j < len(lows) and lows[j] in ("if", "not", "exists", "or", "replace", "temp", "temporary"):
            j += 1
        if j < len(lows) and _unquote_ident(toks[j]) is not None:
            # db.tbl — quoted or bare ("state".m must still read as state.m)
            if j + 2 < len(lows) and toks[j + 1] == ".":
                tail = _unquote_ident(toks[j + 2])
                if tail is not None:
                    return f"{_unquote_ident(toks[j])}.{tail}"
            return _unquote_ident(toks[j])
        return None

    if head == "select" or head == "with":
        return StatementInfo("select", None, fns, reads_event)
    if head == "insert" or head == "replace":
        return StatementInfo("insert", _after("into") or _after("replace"), fns, reads_event)
    if head == "update":
        return StatementInfo("update", _after("update"), fns, reads_event)
    if head == "delete":
        return StatementInfo("delete", _after("from"), fns, reads_event)
    if head == "create":
        # TEMP/TEMPORARY before the object keyword: temp objects are
        # policy-exempt (the reference allows temp writes in every scope)
        tmp = len(lows) > 1 and lows[1] in ("temp", "temporary")
        if "table" in lows:
            return StatementInfo("create_table", _after("table"), fns, reads_event, tmp)
        if "index" in lows:
            return StatementInfo("create_index", _after("on"), fns, reads_event, tmp)
        if "view" in lows:
            return StatementInfo("create_view", _after("view"), fns, reads_event, tmp)
        if "trigger" in lows:
            return StatementInfo("create_trigger", _after("on"), fns, reads_event, tmp)
    if head == "drop":
        return StatementInfo("drop", _after("table") or _after("view") or _after("index") or _after("trigger"), fns, reads_event)
    if head == "alter":
        return StatementInfo("alter", _after("table"), fns, reads_event)
    return StatementInfo("other", None, fns, reads_event)


class AuthorizationError(PermissionError):
    pass


@dataclass
class Authorizer:
    """Pre-execution statement authorization (reference A17 policies).

    Policies mirror leaf-stream/src/lib.rs:989-1122: ``materialize`` may
    write main/temp (read all), ``state_materialize`` may write state/temp,
    ``authorize`` and ``query`` are read-only with the function allowlist.
    ``enforce=False`` (default) matches the reference's shipped behavior —
    every callback short-circuits Allow (lib.rs:997,1046,1095).
    """

    enforce: bool = False
    extra_allowed_functions: set[str] = field(default_factory=set)

    def check(self, sql: str, policy: str) -> None:
        if not self.enforce:
            return
        # compound input authorizes per statement — "select 1; drop table x"
        # must not hide the drop behind the select's head keyword. The
        # module splitter is the one the engine executes with: quotes and
        # a trigger's BEGIN … END body never split a statement.
        stmts = split_statements(sql)
        if len(stmts) > 1:
            for s in stmts:
                self.check(s, policy)
            return
        info = classify(sql)
        if policy in ("authorize", "query"):
            if info.kind not in ("select",):
                raise AuthorizationError(f"{policy}: only SELECT allowed, got {info.kind}")
            allowed = _QUERY_FN_ALLOWLIST | self.extra_allowed_functions
            for fn in info.functions:
                if fn not in allowed:
                    raise AuthorizationError(f"{policy}: function {fn!r} not in allowlist")
        elif policy in ("materialize", "state_materialize"):
            if info.kind == "create_trigger":
                # the body runs whenever the trigger fires, with no
                # authorizer call of its own — authorize each body
                # statement now, under the creating policy
                toks = tokenize(sql)
                lows = [t.lower() if _is_word(t) else t for t in toks]
                if "begin" in lows and "end" in lows:
                    for body_stmt in trigger_body(toks, lows):
                        self.check(body_stmt, policy)
            # every statement kind that creates/writes a table counts —
            # CREATE TABLE state.m is namespace squatting just as surely
            # as INSERT INTO state.m
            write_kinds = (
                "insert", "update", "delete", "drop", "alter",
                "create_table", "create_view", "create_index",
                "create_trigger",
            )
            if info.kind in write_kinds and info.target and not info.temp:
                # 'main.state_x' and 'state_x' are the SAME flattened
                # table (dml.py strips the main. qualifier), so the guard
                # must normalize before matching; temp-namespace objects
                # are policy-exempt in every scope
                target = info.target
                if target.startswith("main."):
                    target = target[len("main."):]
                if target.startswith("temp."):
                    return
                in_state = target.startswith("state.") or target.startswith("state_")
                if policy == "materialize" and in_state:
                    raise AuthorizationError("materialize: cannot write state namespace")
                if policy == "state_materialize" and not (in_state or target == "event"):
                    raise AuthorizationError(
                        f"state_materialize: may only write state namespace, got {info.target}"
                    )
        else:
            raise ValueError(f"unknown policy {policy}")


# ---------------------------------------------------------------------------
# json_set / json_patch runtime UDFs (SQLite semantics; no Spark builtin)
# ---------------------------------------------------------------------------


def _json_min(v) -> str:
    import json as _json

    return _json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _json_path_steps(path: str) -> list:
    """'$.a.b[2]' → ['a', 'b', 2] (the SQLite path subset used by modules)."""
    if not path.startswith("$"):
        raise ValueError(f"json path must start with $: {path!r}")
    steps: list = []
    for m in re.finditer(r"\.([A-Za-z_][A-Za-z_0-9]*)|\[(\d+)\]", path[1:]):
        steps.append(m.group(1) if m.group(1) is not None else int(m.group(2)))
    return steps


def _json_set_mode(j: str, path: str, value, mode: str) -> str | None:
    """Shared body for json_set / json_insert / json_replace: set the value
    at ``path``; ``insert`` only creates, ``replace`` only overwrites,
    ``set`` does both (SQLite json1 semantics)."""
    import json as _json

    if j is None:
        return None
    doc = _json.loads(j)
    steps = _json_path_steps(path)
    if not steps:
        return _json_min(value) if mode != "insert" else _json_min(doc)
    cur = doc
    for i, s in enumerate(steps[:-1]):
        nxt_container: dict | list = {} if isinstance(steps[i + 1], str) else []
        if isinstance(s, str):
            if not isinstance(cur, dict):
                return _json_min(doc)  # SQLite: path mismatch → unchanged
            if s not in cur or not isinstance(cur[s], (dict, list)):
                if mode == "replace":
                    return _json_min(doc)
                cur[s] = nxt_container
            cur = cur[s]
        else:
            if not isinstance(cur, list) or s > len(cur):
                return _json_min(doc)
            if s == len(cur):
                if mode == "replace":
                    return _json_min(doc)
                cur.append(nxt_container)
            cur = cur[s]
    last = steps[-1]
    if isinstance(last, str):
        if isinstance(cur, dict):
            exists = last in cur
            if (exists and mode != "insert") or (not exists and mode != "replace"):
                cur[last] = value
    else:
        if isinstance(cur, list):
            if last < len(cur):
                if mode != "insert":
                    cur[last] = value
            elif last == len(cur) and mode != "replace":
                cur.append(value)
    return _json_min(doc)


def json_set_py(j: str, path: str, value) -> str | None:
    """SQLite ``json_set(json, path, value)``: set (create if missing) the
    value at ``path``. SQL NULL json → NULL; scalar values keep their SQL
    type (text stays a JSON string — SQLite needs json() to inline objects,
    which modules can emulate by building with json_object)."""
    return _json_set_mode(j, path, value, "set")


def json_insert_py(j: str, path: str, value) -> str | None:
    """SQLite ``json_insert``: create the value at path only if absent."""
    return _json_set_mode(j, path, value, "insert")


def json_replace_py(j: str, path: str, value) -> str | None:
    """SQLite ``json_replace``: overwrite the value at path only if present."""
    return _json_set_mode(j, path, value, "replace")


def json_remove_py(j: str, path: str) -> str | None:
    """SQLite ``json_remove(json, path)``: delete the value at path
    (unchanged doc when the path does not resolve)."""
    import json as _json

    if j is None or path is None:
        return None
    doc = _json.loads(j)
    steps = _json_path_steps(path)
    if not steps:
        return None  # SQLite: json_remove(j, '$') is NULL
    cur = doc
    for s in steps[:-1]:
        if isinstance(s, str):
            if not isinstance(cur, dict) or s not in cur:
                return _json_min(doc)
            cur = cur[s]
        else:
            if not isinstance(cur, list) or s >= len(cur):
                return _json_min(doc)
            cur = cur[s]
    last = steps[-1]
    if isinstance(last, str) and isinstance(cur, dict):
        cur.pop(last, None)
    elif isinstance(last, int) and isinstance(cur, list) and last < len(cur):
        del cur[last]
    return _json_min(doc)


def json_type_py(j: str) -> str | None:
    """SQLite ``json_type(json)`` top-level type name."""
    import json as _json

    if j is None:
        return None
    try:
        v = _json.loads(j)
    except ValueError:
        return None
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "real"
    if isinstance(v, str):
        return "text"
    return "array" if isinstance(v, list) else "object"


def json_valid_py(j: str) -> int | None:
    import json as _json

    if j is None:
        return None
    try:
        _json.loads(j)
        return 1
    except ValueError:
        return 0


def json_quote_py(v) -> str | None:
    """SQLite ``json_quote(value)``: the JSON representation of a scalar."""
    return None if v is None else _json_min(v)


def json_norm_py(j: str) -> str | None:
    """SQLite ``json(json)``: validate + minify."""
    import json as _json

    if j is None:
        return None
    return _json_min(_json.loads(j))


def json_patch_py(target: str, patch: str) -> str | None:
    """SQLite ``json_patch`` = RFC-7386 merge patch: null removes keys,
    nested objects merge recursively, everything else replaces."""
    import json as _json

    if target is None or patch is None:
        return None

    def merge(t, p):
        if not isinstance(p, dict):
            return p
        out = dict(t) if isinstance(t, dict) else {}
        for k, v in p.items():
            if v is None:
                out.pop(k, None)
            else:
                out[k] = merge(out.get(k), v)
        return out

    return _json_min(merge(_json.loads(target), _json.loads(patch)))


def register_json_udfs(spark) -> None:
    """Register the compat UDFs the translator references (idempotent).

    Arrow-optimized (``useArrow=True``): the per-row JSON logic stays
    Python, but row transfer is Arrow-batched (ArrowEvalPython, not
    row-at-a-time BatchEvalPython) — the difference between a usable and
    an unusable operator on a wide scan at scale.

    Memoized per SparkSession: DmlExecutor is constructed per statement /
    trigger fire / recursive-CTE step, and re-wrapping + re-registering
    nine UDFs on each construction is pure driver overhead on the fold
    hot path."""
    if getattr(spark, "_leaf_json_udfs_registered", False):
        return
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from pyspark.sql.types import IntegerType

    spark.udf.register("json_set", F.udf(json_set_py, StringType(), useArrow=True))
    spark.udf.register("json_patch", F.udf(json_patch_py, StringType(), useArrow=True))
    spark.udf.register("json_insert", F.udf(json_insert_py, StringType(), useArrow=True))
    spark.udf.register("json_replace", F.udf(json_replace_py, StringType(), useArrow=True))
    spark.udf.register("json_remove", F.udf(json_remove_py, StringType(), useArrow=True))
    spark.udf.register("json_type", F.udf(json_type_py, StringType(), useArrow=True))
    spark.udf.register("json_valid", F.udf(json_valid_py, IntegerType(), useArrow=True))
    spark.udf.register("json_quote", F.udf(json_quote_py, StringType(), useArrow=True))
    spark.udf.register("json", F.udf(json_norm_py, StringType(), useArrow=True))
    spark._leaf_json_udfs_registered = True
