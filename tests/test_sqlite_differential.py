"""Differential parity: the module-SQL path vs ACTUAL SQLite.

The reference executes module SQL on SQLite; Python ships SQLite in the
stdlib — the strongest possible oracle for the dialect shim, far beyond
hand-written expected values. Every case runs on sqlite3 AND through
DmlExecutor (translate + UDF registration) over identical data, and
values must agree under affinity coercion (the documented divergences:
int results may surface as float with the same value — 7/2 -> 3.0 vs 3,
'7'+1 -> 8.0 vs 8 — and booleans surface as True/False vs 1/0).

Known, documented non-goals (excluded here): float '%' (SQLite casts
operands to int), mixed int/float division CHAINS (SQLite decides per
step), group_concat arrival order (we pin sorted), random()/blob fns,
cross-affinity comparisons (TEXT column vs numeric literal — SQLite
applies the column's affinity to the literal; our translator is
schema-less), LIKE on non-ASCII case pairs (SQLite folds ASCII only;
ilike folds Unicode), double→TEXT renderings outside Spark's plain
range (hex(1e7) / printf('%s', 1e7) hex/print Spark's '1.0E7' where
SQLite renders '10000000.0'), junk-prefix TEXT coerced by
arithmetic or numeric functions ('12abc'+1 → 13, abs('-5x') → 5.0 —
the same class as the documented '7'+1 → 8.0 affinity surfacing; CAST
does implement the prefix rule), coalesce/case branches of mixed
types (SQLite keeps per-row storage classes; Spark unifies the column
type), and COLLATE beyond comparison/ordering/IN/BETWEEN/DISTINCT
positions (a collated select-list alias does not propagate its
collation to ORDER BY on the alias; aggregate arguments and
column-level DDL collations stay BINARY — propagating those needs the
schema the translator deliberately does not have).
"""

from __future__ import annotations

import sqlite3

import pytest

from leaf_spark.dml import DmlExecutor, TableStore


@pytest.fixture(scope="module")
def engines(spark):
    st = TableStore(spark, "t_sqldiff_")
    ex = DmlExecutor(st)
    con = sqlite3.connect(":memory:")
    ddl = "create table t (id integer, n integer, f real, s text)"
    rows = [
        (1, 7, 2.5, "Alpha"),
        (2, -3, 0.5, "beta"),
        (3, 0, -1.25, "ALPHA"),
        (4, 12, 3.0, None),
        (5, None, None, "delta"),
    ]
    ex.execute(ddl)
    con.execute(ddl)
    for r in rows:
        ph = ", ".join(
            "null" if v is None else (f"'{v}'" if isinstance(v, str) else str(v))
            for v in r
        )
        ex.execute(f"insert into t values ({ph})")
        con.execute(f"insert into t values ({ph})")
    return ex, con


def _norm(v):
    """Affinity-tolerant normalization: ints/floats of equal value unify,
    booleans become ints, floats round to 9 places."""
    if isinstance(v, bool):
        return 1 if v else 0
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return repr(v)  # cast('1e310' as real) → Inf on both engines
    if isinstance(v, float) and v == int(v) and abs(v) < 2**53:
        return int(v)
    if isinstance(v, float):
        return round(v, 9)
    try:  # Decimal
        from decimal import Decimal

        if isinstance(v, Decimal):
            return _norm(float(v)) if v != int(v) else int(v)
    except Exception:
        pass
    return v


CASES = [
    # division / arithmetic (the SQLite integer-division semantics)
    "select n / 2 as v from t",
    "select n / 2 / 2 as v from t",
    "select (n + 1) / (id + 1) as v from t",
    "select 100 / (7 / (4 / 2)) as v",
    "select n / 0 as v from t",
    "select f / 2 as v from t",
    "select n % 3 as v from t",
    "select -n as v from t",
    # bitwise
    "select n & 3 as v from t",
    "select n | 8 as v from t",
    "select ~n as v from t",
    "select 1 << id as v from t",
    "select 16 >> id as v from t",
    # scalar max/min vs aggregates
    "select max(n, id) as v from t",
    "select min(n, id, 2) as v from t",
    "select max(n) as v from t",
    "select min(s) as v from t",
    # LIKE case-insensitivity + GLOB case sensitivity
    "select s like 'alpha' as v from t",
    "select s like 'AL%' as v from t",
    "select s not like '%a' as v from t",
    "select s glob 'A*' as v from t",
    # string fns
    "select upper(s) as v from t",
    "select substr(s, 2, 3) as v from t",
    "select replace(s, 'a', 'X') as v from t",
    "select instr(s, 'l') as v from t",
    "select length(s) as v from t",
    "select s || '-' || id as v from t",
    "select trim('  x  ') as v",
    "select printf('%d:%s', id, coalesce(s, '?')) as v from t",
    # conditional / null
    "select coalesce(n, -1) as v from t",
    "select ifnull(s, 'none') as v from t",
    "select nullif(id, 3) as v from t",
    "select iif(n > 0, 'pos', 'neg') as v from t",
    "select case when n is null then 'x' else 'y' end as v from t",
    # casts + typeof
    "select cast(f as integer) as v from t",
    "select cast(id as text) as v from t",
    "select typeof(n) as v from t",
    # json
    "select json_object('k', id) as v from t",
    "select json_array(id, s) as v from t",
    # aggregates
    "select count(*) as v from t",
    "select count(n) as v from t",
    "select sum(n) as v from t",
    "select avg(n) as v from t",
    "select total(n) as v from t",
    "select sum(n) as v from t where n > 100",  # NULL on empty
    "select total(n) as v from t where n > 100",  # 0.0 on empty
    # grouping / having / order / limit
    "select id % 2 as g, count(*) as v from t group by id % 2 order by g",
    "select id as g, n as v from t order by id limit 2",
    "select id as g, n as v from t order by id limit 2 offset 1",
    # subqueries + exists
    "select (select max(id) from t) as v",
    "select exists(select 1 from t where n > 5) as v",
    # date/time (TEXT results, SQLite rendering)
    "select date('2024-03-05 10:00:00') as v",
    "select datetime(86400, 'unixepoch', '+1 hour') as v",
    "select strftime('%Y-%m', '2024-03-05') as v",
    "select unixepoch('1970-01-02 00:00:00') as v",
    # blob literal
    "select length(x'00112233') as v",
    # TEXT→number casts take the longest numeric prefix, fall back to 0
    "select cast('12abc' as integer) as v",
    "select cast('abc' as integer) as v",
    "select cast('' as integer) as v",
    "select cast('12.5abc' as real) as v",
    "select cast('1e3x' as real) as v",
    "select cast('.5' as real) as v",
    "select cast(s as integer) as v from t",
    # hex() renders the BLOB image: numbers hex their text, NULL → ''
    "select hex(s) as v from t",
    "select hex(n) as v from t",
    "select hex(x'00ff') as v",
    # substr phantom positions (Y<=0 consumes length) and negative Z
    "select substr(s, 0, 3) as v from t",
    "select substr(s, 3, -2) as v from t",
    "select substr(s, -3, 2) as v from t",
    "select substr('hello', -10, 5) as v",
    # printf: NULL args print as 0/'', %d truncates reals, bare %g strips
    "select printf('%5.2f', f) as v from t",
    "select printf('%d', f) as v from t",
    "select printf('%g', f) as v from t",
    "select printf('%i!', id) as v from t",
    "select printf('100%%') as v",
    # lower/upper fold ASCII only
    "select lower('ÄBC') as v",
    "select upper('äbc') as v",
    # numeric args flow through string functions as their text rendering
    "select length(n) as v from t",
    "select length(f) as v from t",
    "select trim(n) as v from t",
    "select upper(5) as v",
    "select instr(n, 2) as v from t",
    "select replace('a1b1', 1, 2) as v",
    "select min(s, 'zz') as v from t",
    # clean numeric text coerces in arithmetic ('7'+1 class)
    "select '3' * '4' as v",
    # unicode('') is NULL, not 0
    "select unicode('') as v",
    # printf conversions Java lacks: %c (first char of text form, NUL for
    # NULL), %u (two's-complement unsigned), flagged %i; '%%i' is literal
    "select printf('%c', 65) as v",
    "select printf('%c', s) as v from t",
    "select printf('%c', null) as v",
    "select printf('%u', 5) as v",
    "select printf('%u', -1) as v",
    "select printf('%u', n) as v from t",
    "select printf('%05i', 42) as v",
    "select printf('100%%i') as v",
    # %d is exact above 2^53 and applies the text numeric-prefix rule
    "select printf('%d', 9007199254740993) as v",
    "select printf('%d', '12abc') as v",
    "select printf('%x', -1) as v",
    "select printf('%o', 8) as v",
    # bare %g: C's 6-significant-digit form choice, zeros stripped
    "select printf('%g', 0.123456789) as v",
    "select printf('%g', 1234567.0) as v",
    "select printf('%g', 0.000012345678) as v",
    "select printf('%g', 1e20) as v",
    "select printf('%g', -1e-20) as v",
    # substr with NULL bounds is NULL (greatest() would otherwise skip it)
    "select substr('hello', 2, null) as v",
    "select substr('hello', null, 3) as v",
    # TEXT→INTEGER saturates on overflow like SQLite
    "select cast('99999999999999999999' as integer) as v",
    "select cast('-99999999999999999999' as integer) as v",
    "select cast('9223372036854775807' as integer) as v",
    # scientific and hex literals tokenize (1e20 REAL, 0x two's-complement)
    "select 1e20 as v",
    "select 1.5e-3 as v",
    "select 0xFF as v",
    "select 0xFFFFFFFFFFFFFFFF as v",
    "select 1e2 + 1 as v",
    # ---- string literals are VERBATIM in SQLite (no escape processing);
    # the transport layer doubles backslashes for Spark's C-style parser
    r"select length('\n') as v",
    r"select replace('a\b', '\', '/') as v",
    r"select 'c:\dir\file' like 'c:\dir\%' as v",
    r"select 'a\b' glob 'a\b' as v",
    # ---- function-form like()/glob(): pattern FIRST (reverse of the
    # operator), ASCII case folding, explicit escapes incl. SQLite-legal
    # escape-before-ordinary and the dangling-escape never-match
    "select like('A%', 'abc') as v",
    "select like('%b_', 'abzc') as v",
    "select like('a%', s) as v from t",
    r"select like('10\%', '10%', '\') as v",
    "select like('xa%b', 'a%b', 'x') as v",
    "select like('xab', 'xab', 'x') as v",
    "select like('10%x', '10%', 'x') as v",
    "select like('a%', null) as v",
    "select glob('a*', 'abc') as v",
    "select glob('a*', null) as v",
    # ---- GLOB character classes (and the unterminated-[ never-match)
    "select glob('a[bc]c', 'abc') as v",
    "select 'adc' glob 'a[^bc]c' as v",
    "select 'acc' glob 'a[b-d]c' as v",
    "select 'a]c' glob 'a[]b]c' as v",
    "select 'a[' glob 'a[' as v",
    "select '[x' glob '[[]x' as v",
    "select 'a]b' glob 'a]b' as v",
    "select 'a-c' glob 'a[-b]c' as v",
    # ---- char() maps Unicode CODEPOINTS with SQLite integer coercion
    "select char(72, 105, 256) as v",
    "select char(n) as v from t",
    "select char('73x', 66.9, -0.5) as v",
    "select char(-3) as v",
    "select char(963, 128169) as v",
    "select char(1114112) as v",
    # ---- quote(): blob image, -0.0 normalization, text escaping
    "select quote(x'ab12') as v",
    "select quote(-0.0) as v",
    "select quote('it''s') as v",
    "select quote(f) as v from t",
    "select quote(n) as v from t",
    "select quote(s) as v from t",
    # ---- two-arg trim (Spark's arg order is reversed)
    "select trim('xxabcx', 'x') as v",
    "select trim(s, 'Aa') as v from t",
    # ---- math-fn coercion: mod() is REAL with strict TEXT coercion and
    # NULL on zero divisors; ceil/floor type-unify to REAL; sign() is
    # INTEGER with strict coercion; domain errors are NULL, never NaN
    "select mod(7, 3) as v",
    "select mod(7.5, 2) as v",
    "select mod(' 7 ', 3) as v",
    "select mod('7x', 3) as v",
    "select mod(7, 0) as v",
    "select mod(n, 4) as v from t",
    "select ceiling(4.2) as v",
    "select ceil('4.2') as v",
    "select ceil('abc') as v",
    "select floor(f) as v from t",
    "select sign(n) as v from t",
    "select sign('0012abc') as v",
    "select sign(2.5) as v",
    "select sqrt(-1) as v",
    "select asin(2) as v",
    "select acos(-2) as v",
    "select pow(-8, 0.333) as v",
    "select pow(2, 10) as v",
    "select atan2(1, 2) as v",
    # ---- COLLATE: applied as a comparison/ordering key fold (NOCASE =
    # ASCII lower, RTRIM, BINARY no-op); value positions keep originals
    "select s as v from t where s = 'alpha' collate nocase order by id",
    "select s as v from t where s collate nocase = 'alpha' order by id",
    "select s as v from t where 'ALPHA' collate nocase = s order by id",
    "select s as v from t order by s collate nocase, id",
    "select s as v from t order by s collate nocase desc, id",
    "select count(distinct s collate nocase) as v from t",
    "select s as v from t where s collate nocase between 'a' and 'b' order by id",
    "select s as v from t where s collate nocase in ('alpha', 'BETA') order by id",
    "select 'a' = 'A' collate nocase as v",
    "select 'a  ' collate rtrim = 'a' as v",
    "select s as v from t order by s collate binary, id",
    "select s collate nocase as v from t order by id",
    "select s as v from t where id < 3 and s collate nocase = 'alpha' order by id",
    # numeric truthiness in filters (SQLite: nonzero → true; Spark path
    # FILTER_NOT_BOOLEAN retry in DmlExecutor._sql — found by the
    # localexec parity fuzz, round 8)
    "select id as v from t where 1 order by id",
    "select id as v from t where 0",
    "select id as v from t where n order by id",
    "select id as v from t where f order by id",
    "select id as v from t where n + 1 order by id",
    "select id as v from t where length(coalesce(s, '')) order by id",
    "select id as v from t where id < 4 group by id having count(*) order by id",
    "select id as v from t where (select n from t where id = 1) order by id",
    "select id as v from t where iif(n, 1, 0) order by id",
    # string truthiness: SQLite takes the numeric PREFIX of text ('1.5'
    # → true, 'true' → 0 → FALSE) where Spark's cast-to-boolean parses
    # 'true'/'1' and NULLs everything else — advice-found divergence,
    # round 9 (_sqlite_truthy)
    "select id as v from t where '1.5' order by id",
    "select id as v from t where 'true'",
    "select id as v from t where '0.0x'",
    "select id as v from t where ' 2abc' order by id",
    "select id as v from t where '-.5e1' order by id",
    "select id as v from t where s order by id",
    "select id as v from t where iif('1.5', 1, 0) order by id",
    "select id as v from t where iif('true', 1, 0)",
    "select id as v from t where iif(s, 1, 0)",
]


@pytest.mark.parametrize("sql", CASES)
def test_matches_sqlite(engines, sql):
    ex, con = engines
    want = [tuple(_norm(v) for v in r) for r in con.execute(sql).fetchall()]
    got_rows = ex.execute(sql).collect()
    got = [tuple(_norm(v) for v in r) for r in got_rows]
    ordered = "order by" in sql.lower()
    if ordered:
        assert got == want, sql
    else:
        assert sorted(got, key=repr) == sorted(want, key=repr), sql


def test_json_extract_value_matches_as_text(engines):
    """json_extract scalars: SQLite returns TYPED values (5), Spark's
    get_json_object returns text ('5') — the documented affinity
    divergence. Values must still agree under string rendering."""
    ex, con = engines
    sql = """select json_extract('{"a": [1, 2, {"b": 5}]}', '$.a[2].b') as v"""
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    assert str(got) == str(want)


def test_random_integer_arithmetic_matches_sqlite(engines):
    """Deterministic pseudo-random integer expression fuzz: +,-,*,/,%,
    bitwise over column n and literals — SQLite computes the reference."""
    import itertools

    ex, con = engines
    ops = ["+", "-", "*", "/", "%", "&", "|"]
    lits = ["2", "3", "n", "(n + 1)", "id"]
    exprs = []
    for i, (a, op1, b, op2, c) in enumerate(
        itertools.product(lits, ops, lits, ops, lits)
    ):
        if i % 97 == 0:  # ~33 deterministic samples from the grid
            exprs.append(f"{a} {op1} {b} {op2} {c}")
    sql_template = "select {e} as v from t where n is not null"
    for e in exprs:
        sql = sql_template.format(e=e)
        want = sorted(
            (_norm(r[0]) for r in con.execute(sql).fetchall()), key=repr
        )
        got = sorted(
            (_norm(r["v"]) for r in ex.execute(sql).collect()), key=repr
        )
        assert got == want, e


# ---------------------------------------------------------------------------
# json1 family — stdlib sqlite3 ships json1, so the compat UDFs and
# rewrites get a real oracle instead of hand-written expectations
# ---------------------------------------------------------------------------

JSON_CASES = [
    """select json_set('{"a":1}', '$.b', 9) as v""",
    """select json_set('{}', '$.a', 'txt') as v""",
    """select json_replace('{"a":1}', '$.a', 2) as v""",
    """select json_replace('{"a":1}', '$.b', 2) as v""",  # no-op
    """select json_insert('{"a":1}', '$.a', 2) as v""",   # no-op
    """select json_insert('{"a":1}', '$.b', 2) as v""",
    """select json_remove('{"a":1,"b":2}', '$.a') as v""",
    """select json_patch('{"a":1,"b":2}', '{"b":null,"c":3}') as v""",
    """select json_type('{"a":1}') as v""",
    """select json_type('[1]') as v""",
    """select json_type('5') as v""",
    """select json_valid('{"a":1}') as v""",
    """select json_valid('nope') as v""",
    """select json_quote('it''s') as v""",
    """select json('  {"a"  :  1}  ') as v""",
    """select json_array_length('[1,2,3]') as v""",
    """select json_extract('{"a":{"b":[10,20]}}', '$.a.b[1]') as v""",
]


@pytest.mark.parametrize("sql", JSON_CASES)
def test_json1_family_matches_sqlite(engines, sql):
    ex, con = engines
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    # json_extract scalars surface as text (documented affinity note)
    assert str(_norm(got)) == str(_norm(want)), sql


# ---------------------------------------------------------------------------
# date/time modifier matrix — every modifier chain against SQLite itself
# ---------------------------------------------------------------------------

DATE_CASES = [
    "select date('2024-01-31', '+1 month') as v",
    "select date('2024-02-29', '+1 year') as v",
    "select date('2024-03-10', '-45 days') as v",
    "select date('2024-03-10', 'start of month') as v",
    "select date('2024-03-10', 'start of year') as v",
    "select date('2024-03-10', 'start of month', '+1 month', '-1 day') as v",
    "select date('2024-03-10', 'weekday 1') as v",
    "select datetime('2024-03-10 05:06:07', '+90 minutes') as v",
    "select datetime('2024-03-10 05:06:07', 'start of day') as v",
    "select datetime(86400, 'unixepoch') as v",
    "select datetime(86400, 'unixepoch', '+2 hours', '+30 seconds') as v",
    "select time('2024-03-10 23:59:58') as v",
    "select strftime('%Y|%m|%d|%H|%M|%S', '2024-03-10 05:06:07') as v",
    "select strftime('%j', '2024-03-10') as v",
    "select unixepoch('2024-03-10 00:00:00') as v",
    "select julianday('2000-01-01 12:00:00') as v",
]


@pytest.mark.parametrize("sql", DATE_CASES)
def test_datetime_matrix_matches_sqlite(engines, sql):
    ex, con = engines
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    if isinstance(want, float):
        assert abs(float(got) - want) < 1e-6, sql
    else:
        assert _norm(got) == _norm(want), sql


# ---------------------------------------------------------------------------
# DML state parity — run the same statement sequence on both engines and
# compare the FINAL TABLE STATE (covers defaults, ON CONFLICT upserts,
# INSERT OR REPLACE/IGNORE, UPDATE ... FROM-less arithmetic, DELETE)
# ---------------------------------------------------------------------------

DML_SCRIPTS = [
    # upsert via ON CONFLICT DO UPDATE
    [
        "create table u (k integer primary key, c integer default 0)",
        "insert into u (k) values (1), (2)",
        "insert into u (k, c) values (1, 5) on conflict(k) do update set c = c + 5",
        "insert into u (k, c) values (3, 7) on conflict(k) do update set c = c + 7",
    ],
    # INSERT OR IGNORE / OR REPLACE
    [
        "create table u (k integer primary key, s text)",
        "insert into u values (1, 'a'), (2, 'b')",
        "insert or ignore into u values (1, 'X'), (3, 'c')",
        "insert or replace into u values (2, 'Y')",
    ],
    # UPDATE with integer-division arithmetic + DELETE
    [
        "create table u (k integer primary key, n integer)",
        "insert into u values (1, 7), (2, 10), (3, 3)",
        "update u set n = n / 2 where n > 4",
        "delete from u where n <= 1",
    ],
    # prefix NOT over numeric / NULL / text operands (SQLite truthiness +
    # NULL propagation — r11: NOT previously failed Spark analysis on
    # non-boolean operands; WHERE NOT NULL must exclude, not include)
    [
        "create table u (k integer primary key, n integer, s text)",
        "insert into u values (1, 0, '0'), (2, 3, '1.5x'), "
        "(3, null, 'true'), (4, 1, null)",
        "delete from u where not n",
        "delete from u where not s",
    ],
]


@pytest.mark.parametrize(
    "script",
    DML_SCRIPTS,
    ids=["upsert", "or_clauses", "update_div", "not_truthiness"],
)
def test_dml_state_matches_sqlite(spark, script):
    ex = DmlExecutor(TableStore(spark, f"t_dml_{abs(hash(tuple(script))) % 10**8}_"))
    con = sqlite3.connect(":memory:")
    for stmt in script:
        ex.execute(stmt)
        con.execute(stmt)
    want = sorted(
        (tuple(_norm(v) for v in r) for r in con.execute("select * from u")),
        key=repr,
    )
    got = sorted(
        (tuple(_norm(v) for v in r) for r in ex.execute("select * from u").collect()),
        key=repr,
    )
    assert got == want


# ---------------------------------------------------------------------------
# hypothesis-driven differential fuzz — random inputs, sqlite3 as oracle
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st

_jkeys = st.text(alphabet="abcd", min_size=1, max_size=3)
_jvals = st.one_of(
    st.integers(min_value=-99, max_value=99),
    st.none(),
    st.text(alphabet="xyz", max_size=3),
)
_jobjs = st.dictionaries(_jkeys, _jvals, max_size=4)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(target=_jobjs, patch=_jobjs)
def test_json_patch_matches_sqlite_on_random_objects(engines, target, patch):
    """RFC-7386 merge-patch semantics (null removes, nested replace) on
    random flat objects — byte-identical JSON both engines."""
    import json

    ex, con = engines
    t = json.dumps(target).replace("'", "''")
    p = json.dumps(patch).replace("'", "''")
    sql = f"select json_patch('{t}', '{p}') as v"
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    assert json.loads(got) == json.loads(want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pat=st.text(alphabet="aAbB%_\\", min_size=1, max_size=6),
    val=st.text(alphabet="aAbB\\", min_size=0, max_size=6),
)
def test_like_matches_sqlite_on_random_patterns(engines, pat, val):
    """SQLite LIKE: ASCII case-insensitive with %/_ wildcards, and
    backslash is an ORDINARY character (no default escape) — random
    pattern/value pairs must classify identically."""
    ex, con = engines
    sql = f"select '{val}' like '{pat}' as v"
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    assert int(got) == want, (pat, val)


# ---------------------------------------------------------------------------
# trigger + recursive-CTE parity — sqlite3 executes both natively, so the
# trigger folding and the fixpoint operator get a real oracle
# ---------------------------------------------------------------------------

TRIGGER_SCRIPTS = [
    # AFTER INSERT audit trail with NEW references
    [
        "create table items (id integer, name text, qty integer)",
        "create table u (op text, item_id integer, detail text)",
        "create trigger tg after insert on items begin "
        "insert into u values ('ins', new.id, new.name); end",
        "insert into items values (1, 'a', 5), (2, 'b', 6)",
    ],
    # WHEN-filtered trigger with arithmetic on NEW
    [
        "create table items (id integer, qty integer)",
        "create table u (item_id integer, half integer)",
        "create trigger tg after insert on items when new.qty > 4 begin "
        "insert into u values (new.id, new.qty / 2); end",
        "insert into items values (1, 3), (2, 9), (3, 10)",
    ],
    # AFTER UPDATE trigger sees OLD and NEW
    [
        "create table items (id integer, qty integer)",
        "create table u (item_id integer, old_q integer, new_q integer)",
        "insert into items values (1, 5), (2, 7)",
        "create trigger tg after update on items begin "
        "insert into u values (new.id, old.qty, new.qty); end",
        "update items set qty = qty + 10 where id = 2",
    ],
]


@pytest.mark.parametrize(
    "script", TRIGGER_SCRIPTS, ids=["after_insert", "when_filtered", "after_update"]
)
def test_trigger_state_matches_sqlite(spark, script):
    ex = DmlExecutor(TableStore(spark, f"t_tg_{abs(hash(tuple(script))) % 10**8}_"))
    con = sqlite3.connect(":memory:")
    for stmt in script:
        ex.execute(stmt)
        con.execute(stmt)
    want = sorted(
        (tuple(_norm(v) for v in r) for r in con.execute("select * from u")),
        key=repr,
    )
    got = sorted(
        (tuple(_norm(v) for v in r) for r in ex.execute("select * from u").collect()),
        key=repr,
    )
    assert got == want


RECURSIVE_CASES = [
    # counter
    "with recursive c(x) as (select 1 union all select x + 1 from c "
    "where x < 7) select x as v from c",
    # accumulating arithmetic (integer division inside the step)
    "with recursive c(x, y) as (select 16, 0 union all "
    "select x / 2, y + 1 from c where x > 1) select x as v, y as w from c",
    # graph reachability with cycle (UNION dedup terminates it)
    "with recursive r(n) as (select 1 union select e.dst from edges e "
    "join r on e.src = r.n) select n as v from r",
]


@pytest.mark.parametrize("sql", RECURSIVE_CASES, ids=["counter", "div_steps", "graph"])
def test_recursive_cte_matches_sqlite(spark, sql):
    ex = DmlExecutor(TableStore(spark, f"t_rc_{abs(hash(sql)) % 10**8}_"))
    con = sqlite3.connect(":memory:")
    ddl = "create table edges (src integer, dst integer)"
    rows = [(1, 2), (2, 3), (3, 1), (3, 4)]
    ex.execute(ddl)
    con.execute(ddl)
    for s, d in rows:
        ex.execute(f"insert into edges values ({s}, {d})")
        con.execute(f"insert into edges values ({s}, {d})")
    want = sorted(
        (tuple(_norm(v) for v in r) for r in con.execute(sql)), key=repr
    )
    got = sorted(
        (tuple(_norm(v) for v in r) for r in ex.execute(sql).collect()),
        key=repr,
    )
    assert got == want


# ---------------------------------------------------------------------------
# FULL MODULE-FOLD PARITY — the reference folds events by executing the
# module's materializer SQL on SQLite. Here sqlite3 does exactly that
# (per event, with `event` as a one-row temp table, drisl_* registered
# as Python functions, `state.` as an attached database) and the final
# queryable state must match the real Stream's.
# ---------------------------------------------------------------------------


def _sqlite_module_engine():
    from leaf_spark import drisl as dr

    con = sqlite3.connect(":memory:")
    con.execute("attach ':memory:' as state")
    con.create_function(
        "drisl_extract", 2, lambda p, q: dr.drisl_extract(p, q)
    )
    con.create_function(
        "drisl_extract_int",
        2,
        lambda p, q: (
            None
            if dr.drisl_extract(p, q) is None
            else int(dr.drisl_extract(p, q))
        ),
    )
    con.create_function("drisl_exists", 2, lambda p, q: dr.drisl_exists(p, q))

    def _unauthorized(msg):
        raise ValueError(f"Unauthorized: {msg}")

    def _throw(msg, *rest):
        raise ValueError(str(msg))

    con.create_function("unauthorized", 1, _unauthorized)
    con.create_function("throw", -1, _throw)
    return con


def _sqlite_fold(con, sql_script, idx, ev):
    con.execute("create temp table event (idx integer, user text, payload blob)")
    con.execute("insert into event values (?, ?, ?)", (idx, ev.user, ev.payload))
    try:
        for stmt in sql_script.split(";"):
            if stmt.strip():
                con.execute(stmt)
    finally:
        con.execute("drop table event")


def test_chat_module_fold_matches_sqlite(spark, tmp_path):
    """CHAT: authorizer + batch-safe INSERT...SELECT materializer + state
    upsert. Every named query must return identical rows on the real
    Stream and on sqlite3 executing the same module SQL per event."""
    from leaf_spark.stream import Stream
    from leaf_spark.types import LeafQuery, SqlValue

    from .fixtures import CHAT, marker, msg

    events = [
        msg("did:plc:u1", "hello", 100),
        msg("did:plc:u2", "there", 105),
        msg("did:plc:u1", "again", 110),
        msg("did:plc:u2", "it's ok", 112),
    ]
    markers = [marker("did:plc:u1", 2)]

    s = Stream(spark, str(tmp_path / "st"), "did:plc:diff")
    s.provide_module(CHAT)
    s.add_events(events)
    s.add_state_events(markers)

    con = _sqlite_module_engine()
    for stmt in (CHAT.init_sql + ";" + CHAT.state_init_sql).split(";"):
        if stmt.strip():
            con.execute(stmt)
    for i, ev in enumerate(events):
        for stmt in CHAT.authorizer.split(";"):
            if stmt.strip():
                con.execute(
                    "create temp table event (idx integer, user text, payload blob)"
                )
                con.execute(
                    "insert into event values (?, ?, ?)", (i + 1, ev.user, ev.payload)
                )
                con.execute(stmt)
                con.execute("drop table event")
        _sqlite_fold(con, CHAT.materializer, i + 1, ev)
    for j, ev in enumerate(markers):
        _sqlite_fold(con, CHAT.state_materializer, 10_000 + j, ev)

    for qname, params in [
        ("messages", {"start": 1, "limit": 50}),
        ("messages_by_sender", {"sender": "did:plc:u1", "start": 1, "limit": 50}),
        ("message_stats", {}),
        ("my_unread", {}),
    ]:
        lq = LeafQuery(
            qname,
            params={
                k: SqlValue("text", v)
                for k, v in params.items()
                if k == "sender"
            },
            start=params.get("start"),
            limit=params.get("limit", 100),
        )
        got = s.query("did:plc:u1", lq)
        qdef = next(q for q in CHAT.queries if q.name == qname)
        sql = qdef.sql
        bind = dict(params)
        bind["requesting_user"] = "did:plc:u1"
        want = [
            dict(zip([c[0] for c in cur.description], row))
            for cur in [con.execute(
                sql.replace("$start", ":start")
                .replace("$limit", ":limit")
                .replace("$sender", ":sender")
                .replace("$requesting_user", ":requesting_user"),
                bind,
            )]
            for row in cur.fetchall()
        ]
        if qname == "message_stats":
            # n DESC ties are unordered between engines — both orders
            # are valid answers to this query
            got = sorted(got, key=repr)
            want = sorted(want, key=repr)
        assert got == want, qname


def test_counter_module_fold_matches_sqlite(spark, tmp_path):
    """COUNTER uses UPDATE in its materializer — the per-event fallback
    path — and upserts with ON CONFLICT DO NOTHING. Interleaved
    increments/decrements across names must fold identically."""
    from leaf_spark.stream import Stream
    from leaf_spark.types import LeafQuery

    from .fixtures import COUNTER, bump

    events = [
        bump("did:plc:u", "a", 3),
        bump("did:plc:u", "b", -2),
        bump("did:plc:u", "a", 4),
        bump("did:plc:u", "c", 0),
        bump("did:plc:u", "b", 7),
    ]
    s = Stream(spark, str(tmp_path / "st"), "did:plc:diff")
    s.provide_module(COUNTER)
    s.add_events(events)

    con = _sqlite_module_engine()
    for stmt in COUNTER.init_sql.split(";"):
        if stmt.strip():
            con.execute(stmt)
    for i, ev in enumerate(events):
        _sqlite_fold(con, COUNTER.materializer, i + 1, ev)

    got = s.query(None, LeafQuery("counters"))
    want = [
        {"name": n, "value": v}
        for n, v in con.execute("select name, value from counters order by name")
    ]
    assert got == want


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    bumps=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-9, max_value=9),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_counter_fold_matches_sqlite_on_random_sequences(
    spark, tmp_path_factory, bumps
):
    """ANY bump sequence folds to the same counters on the real Stream
    and on sqlite3 running the module SQL — the randomized closure of the
    fixed-script parity above."""
    from leaf_spark.stream import Stream
    from leaf_spark.types import LeafQuery

    from .fixtures import COUNTER, bump

    events = [bump("did:plc:u", n, d) for n, d in bumps]
    s = Stream(
        spark, str(tmp_path_factory.mktemp("cfold")), "did:plc:diff"
    )
    s.provide_module(COUNTER)
    s.add_events(events)

    con = _sqlite_module_engine()
    for stmt in COUNTER.init_sql.split(";"):
        if stmt.strip():
            con.execute(stmt)
    for i, ev in enumerate(events):
        _sqlite_fold(con, COUNTER.materializer, i + 1, ev)

    got = s.query(None, LeafQuery("counters"))
    want = [
        {"name": n, "value": v}
        for n, v in con.execute("select name, value from counters order by name")
    ]
    assert got == want


# ---------------------------------------------------------------------------
# window functions — SQLite 3.25+ ships them; module queries may use them
# ---------------------------------------------------------------------------

WINDOW_CASES = [
    "select id, row_number() over (order by n, id) as v from t "
    "where n is not null order by id",
    "select id, rank() over (order by n) as v from t "
    "where n is not null order by id",
    "select id, sum(n) over (order by id rows between unbounded preceding "
    "and current row) as v from t where n is not null order by id",
    "select id, lag(n) over (order by id) as v from t "
    "where n is not null order by id",
    "select id, n - avg(n) over () as v from t "
    "where n is not null order by id",
]


@pytest.mark.parametrize("sql", WINDOW_CASES)
def test_window_functions_match_sqlite(engines, sql):
    ex, con = engines
    want = [tuple(_norm(v) for v in r) for r in con.execute(sql).fetchall()]
    got = [tuple(_norm(v) for v in r) for r in ex.execute(sql).collect()]
    assert got == want, sql


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pat=st.text(alphabet="ab*?[]^-.\\", min_size=1, max_size=5),
    val=st.text(alphabet="ab-.[]\\", min_size=0, max_size=5),
)
def test_glob_matches_sqlite_on_random_patterns(engines, pat, val):
    """GLOB (case-SENSITIVE, * and ? wildcards, [seq]/[^seq]/[a-b]
    classes, unterminated-[ matches nothing, backslash literal) →
    rlike rewrite must
    classify identically to SQLite for random pattern/value pairs."""
    ex, con = engines
    sql = f"select '{val}' glob '{pat}' as v"
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    assert int(got) == want, (pat, val)


# ---------------------------------------------------------------------------
# fuzz: TEXT→number cast prefix rule and substr phantom positions
# ---------------------------------------------------------------------------


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(txt=st.text(alphabet="0123456789.e+-x ", min_size=0, max_size=8))
def test_text_cast_matches_sqlite_on_random_strings(engines, txt):
    """cast(TEXT as integer/real) must take the same longest-numeric-
    prefix (falling back to 0) as SQLite for arbitrary digit/sign/
    exponent soup."""
    ex, con = engines
    lit = txt.replace("'", "")
    for ty in ("integer", "real"):
        sql = f"select cast('{lit}' as {ty}) as v"
        want = _norm(con.execute(sql).fetchone()[0])
        got = _norm(ex.execute(sql).first()["v"])
        assert got == want, (sql, got, want)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    y=st.integers(min_value=-7, max_value=7),
    z=st.integers(min_value=-7, max_value=7),
)
def test_substr_matches_sqlite_on_random_bounds(engines, y, z):
    """Three-arg substr over every sign combination of start/length,
    including the phantom positions before index 1."""
    ex, con = engines
    sql = f"select substr(s, {y}, {z}) as v from t where s is not null"
    want = [r[0] for r in con.execute(sql).fetchall()]
    got = [r["v"] for r in ex.execute(sql).collect()]
    assert got == want, (sql, got, want)


# ---------------------------------------------------------------------------
# fuzz: date/datetime modifier chains over random bases
# ---------------------------------------------------------------------------

_MODIFIERS = st.sampled_from(
    [
        "+{n} days", "-{n} days", "+{n} months", "-{n} months",
        "+{n} years", "+{n} hours", "-{n} hours", "+{n} minutes",
        "start of month", "start of year", "start of day",
    ]
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    y=st.integers(min_value=1990, max_value=2037),
    mo=st.integers(min_value=1, max_value=12),
    d=st.integers(min_value=1, max_value=28),
    h=st.integers(min_value=0, max_value=23),
    mods=st.lists(
        st.tuples(_MODIFIERS, st.integers(min_value=0, max_value=40)),
        min_size=0,
        max_size=3,
    ),
)
def test_datetime_modifiers_match_sqlite_on_random_chains(
    engines, y, mo, d, h, mods
):
    """datetime() over random bases and 0-3 chained modifiers (day/month/
    year/hour/minute offsets and start-of truncations) must render the
    same TEXT as SQLite — including the non-clamping month arithmetic
    (Jan 31 + 1 month = Mar 2/3) the matrix tests pinned."""
    ex, con = engines
    base = f"'{y:04d}-{mo:02d}-{d:02d} {h:02d}:30:00'"
    chain = "".join(f", '{m.format(n=n)}'" for m, n in mods)
    sql = f"select datetime({base}{chain}) as v"
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    assert got == want, sql


# ---------------------------------------------------------------------------
# fuzz: bare %g against C's renderer across the full double range
# ---------------------------------------------------------------------------


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    mant=st.integers(min_value=-999999, max_value=999999),
    exp=st.integers(min_value=-30, max_value=30),
)
def test_printf_g_matches_sqlite_on_random_doubles(engines, mant, exp):
    """printf('%g', x) must apply C's 6-significant-digit rounding, the
    decimal-vs-scientific form switch, and zero stripping exactly like
    SQLite for mantissa/exponent combinations spanning both forms."""
    ex, con = engines
    sql = f"select printf('%g', {mant}e{exp}) as v"
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    assert got == want, sql


# ---------------------------------------------------------------------------
# fuzz: random DML sequences against sqlite3 — the write-path oracle
# ---------------------------------------------------------------------------


_dml_k = st.integers(min_value=0, max_value=4)
_dml_n = st.integers(min_value=-9, max_value=9)
_dml_t = st.integers(min_value=-5, max_value=5)


@st.composite
def _dml_stmt(draw):
    kind = draw(st.integers(min_value=0, max_value=5))
    k, n, t = draw(_dml_k), draw(_dml_n), draw(_dml_t)
    if kind == 0:
        return f"insert or ignore into u (k, n) values ({k}, {n})"
    if kind == 1:
        return f"insert or replace into u (k, s) values ({k}, 'r{n}')"
    if kind == 2:
        return (
            f"insert into u (k, n) values ({k}, {n}) "
            f"on conflict(k) do update set n = n + excluded.n"
        )
    if kind == 3:
        return f"update u set n = n * 2 + {t} where k % 2 = 0"
    if kind == 4:
        return f"update u set s = s || 'x' where n > {t}"
    return f"delete from u where n < {t}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stmts=st.lists(_dml_stmt(), min_size=2, max_size=6), seq=st.integers())
def test_dml_state_matches_sqlite_on_random_scripts(spark, stmts, seq):
    """Random sequences of upserts (incl. excluded.-referencing ON
    CONFLICT), OR IGNORE/REPLACE inserts, arithmetic/concat UPDATEs,
    and DELETEs must leave the identical final table state on both
    engines — defaults, conflict resolution, and SQLite arithmetic
    (integer division, affinity) all in play at once."""
    ex = DmlExecutor(TableStore(spark, f"t_dmlfuzz_{abs(seq) % 10**8}_"))
    con = sqlite3.connect(":memory:")
    ddl = "create table u (k integer primary key, n integer default 0, s text default 'd')"
    ex.execute(ddl)
    con.execute(ddl)
    for stmt in stmts:
        ex.execute(stmt)
        con.execute(stmt)
    want = sorted(
        (tuple(_norm(v) for v in r) for r in con.execute("select * from u")),
        key=repr,
    )
    got = sorted(
        (tuple(_norm(v) for v in r) for r in ex.execute("select * from u").collect()),
        key=repr,
    )
    assert got == want, stmts


# ---------------------------------------------------------------------------
# the mirror fold (Stream._mirror_fold) against the forced Spark fold: the
# upsert / update / delete shapes of _dml_stmt as one state materializer
# whose event payload picks the statement that bites
# ---------------------------------------------------------------------------


def _state_fold_module():
    from leaf_spark.module import BasicModuleDef, QueryDef

    ev = "(select drisl_extract_int(payload, '.{}') from event)"
    return BasicModuleDef(
        state_init_sql=(
            "create table if not exists state.u (k integer primary key, "
            "n integer default 0, s text default 'd');"
        ),
        state_materializer=(
            "insert into state.u (k, n) select drisl_extract_int(payload, '.k'), "
            "drisl_extract_int(payload, '.n') from event "
            "where drisl_exists(payload, '.up') "
            "on conflict(k) do update set n = n + excluded.n; "
            f"update state.u set n = n * 2 + {ev.format('t')} "
            f"where k % 2 = 0 and {ev.format('dbl')} = 1; "
            f"update state.u set s = s || 'x' where n > {ev.format('t')} "
            f"and {ev.format('cat')} = 1; "
            f"delete from state.u where n < {ev.format('t')} "
            f"and {ev.format('del')} = 1;"
        ),
        queries=(QueryDef("u", "select k, n, s from state.u order by k"),),
    )


@st.composite
def _state_fold_event(draw):
    from leaf_spark import drisl
    from leaf_spark.types import IncomingEvent

    kind = draw(st.sampled_from(["up", "up", "dbl", "cat", "del"]))
    p = {kind: 1, "t": draw(_dml_t)}
    if kind == "up":
        p.update(k=draw(_dml_k), n=draw(_dml_n))
    return IncomingEvent("did:plc:u", drisl.encode(p))


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(_state_fold_event(), min_size=1, max_size=4),
        min_size=1,
        max_size=3,
    )
)
def test_mirror_fold_matches_spark_fold(spark, tmp_path_factory, batches):
    """Each batch folds in the sqlite mirror on one stream and through
    the Spark fold on another (the mirror fold patched off): every table
    state must be identical, and the mirror fold must have taken every
    batch."""
    import unittest.mock as mock

    from leaf_spark.stream import Stream
    from leaf_spark.types import LeafQuery

    mod = _state_fold_module()
    root = tmp_path_factory.mktemp("mfold")
    took = []
    fold = Stream._mirror_fold

    def recording(self, stmts, rows):
        took.append(fold(self, stmts, rows))
        return took[-1]

    local = Stream(spark, str(root / "mirror"), "did:plc:mfdiff")
    local.provide_module(mod)
    forced = Stream(spark, str(root / "spark"), "did:plc:mfdiff")
    forced.provide_module(mod)
    for batch in batches:
        with mock.patch.object(Stream, "_mirror_fold", recording):
            local.add_state_events(batch)
        with mock.patch.object(
            Stream, "_mirror_fold", lambda self, stmts, rows: False
        ):
            forced.add_state_events(batch)
        got, want = (
            sorted(tuple(r) for r in s_.store.tables["state_u"].collect())
            for s_ in (local, forced)
        )
        assert got == want, batches
    assert took == [True] * len(batches)
    q = LeafQuery("u", limit=100)
    assert local.query(None, q) == forced.query(None, q)


# ---------------------------------------------------------------------------
# fuzz: COLLATE NOCASE comparisons and ordering against sqlite3
# ---------------------------------------------------------------------------


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a=st.text(alphabet="aAbBzZÄä ", min_size=0, max_size=5),
    b=st.text(alphabet="aAbBzZ ", min_size=0, max_size=5),
    op=st.sampled_from(["=", "<", ">", "<=", ">=", "<>"]),
    side=st.booleans(),
)
def test_collate_nocase_matches_sqlite_on_random_pairs(engines, a, b, op, side):
    """Random string pairs under every comparison operator with COLLATE
    NOCASE on either side must classify identically — including the
    ASCII-only fold (Ä/ä do NOT fold, same as lower())."""
    ex, con = engines
    a, b = a.replace("'", ""), b.replace("'", "")
    if side:
        sql = f"select '{a}' collate nocase {op} '{b}' as v"
    else:
        sql = f"select '{a}' {op} '{b}' collate nocase as v"
    want = con.execute(sql).fetchone()[0]
    got = ex.execute(sql).first()["v"]
    assert int(got) == want, sql
