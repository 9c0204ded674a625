"""SQLite→Spark translation + statement classification + A17 authorizer."""

import pytest

from leaf_spark.sqlcompat import (
    AuthorizationError,
    Authorizer,
    classify,
    translate,
)


class TestTranslate:
    def test_iif_coerces_truthiness(self):
        out = translate("select iif(1, 'a', 'b')")
        # SQLite numeric truthiness: static-typeof dispatch, text takes
        # its numeric prefix (NOT Spark's cast-to-boolean)
        flat = " ".join(out.replace("(", " ( ").replace(")", " ) ").split())
        assert flat.startswith("select if ( ( case when ( 1 ) is null then false")
        assert "typeof ( 1 ) = 'string'" in flat
        assert ", 'a', 'b' )" in flat

    def test_params(self):
        assert translate("select * from t where x >= $start limit $limit") == (
            "select * from t where x >= :start limit :limit"
        )

    def test_namespace_flattening(self):
        assert "state_markers" in translate("select * from state.markers")
        assert translate("select * from main.t") == "select * from t"
        assert translate("select * from events.events") == "select * from events"

    def test_total(self):
        assert translate("select total(x) from t") == (
            "select coalesce(cast(sum(cast(x as double)) as double), 0.0) from t"
        )

    def test_group_concat(self):
        # sorted for determinism across retries/partitionings (documented
        # divergence from SQLite's arrival order)
        assert "array_join(sort_array(collect_list(cast(x as string))), ',')" in translate(
            "select group_concat(x) from t"
        )
        assert "';'" in translate("select group_concat(x, ';') from t")

    def test_strftime(self):
        assert translate("select strftime('%Y-%m', d) from t") == (
            "select date_format(d, 'yyyy-MM') from t"
        )
        assert "unix_timestamp(d)" in translate("select strftime('%s', d) from t")

    def test_unixepoch(self):
        assert translate("select unixepoch() ") == "select unix_timestamp()"
        assert translate("select unixepoch(d)") == "select unix_timestamp(d)"

    def test_unhex_strict(self):
        # SQLite unhex: odd digit count → NULL (Spark pads a zero)
        out = translate("select unhex(h)")
        assert "length(cast(h as string)) % 2 = 1" in out
        assert "cast(null as binary)" in out

    def test_modern_passthroughs(self):
        # concat_ws / octet_length have identical semantics in Spark
        # (NULL separator → NULL, NULL args skipped, UTF-8 byte length)
        assert translate("select concat_ws('-', a, b)") == (
            "select concat_ws('-', a, b)"
        )
        assert translate("select octet_length(s)") == (
            "select octet_length(s)"
        )

    def test_printf(self):
        # args are wrapped with SQLite's NULL/coercion semantics (%s →
        # '' on NULL, %d → the exact SQLite integer cast); the format
        # literal itself passes through
        out = translate("select printf('%s-%d', a, b)")
        assert out.startswith("select format_string('%s-%d', ")
        assert "coalesce(cast(a as string), '')" in out
        assert "coalesce" in out and "bigint" in out

    def test_json_ops(self):
        assert translate("select j ->> 'k' from t") == (
            "select get_json_object(j, '$.k') from t"
        )
        assert "to_json(named_struct('a', 1))" in translate("select json_object('a', 1)")
        assert "to_json(sort_array(collect_list(x)))" in translate(
            "select json_group_array(x)"
        )
        assert "get_json_object(j, '$.a.b')" in translate(
            "select json_extract(j, '$.a.b') from t"
        )

    def test_glob(self):
        assert translate("select * from t where n glob 'a*b?'") == (
            "select * from t where n rlike '^a.*b.$'"
        )

    def test_throw_unauthorized(self):
        out = translate("select throw('x', 1)")
        assert "raise_error(concat_ws(' ', cast('x' as string), cast(1 as string)))" in out
        assert "'Unauthorized:'" in translate("select unauthorized('no')")

    def test_ltrim_arg_order_swap(self):
        assert translate("select ltrim(x, 'ab') from t") == "select ltrim('ab', x) from t"

    def test_nested_functions(self):
        out = translate("select iif(total(x) > 0, group_concat(y), 'none') from t")
        assert "coalesce(cast(sum(" in out and "collect_list" in out


class TestClassify:
    def test_kinds(self):
        assert classify("select 1").kind == "select"
        assert classify("with a as (select 1) select * from a").kind == "select"
        assert classify("insert into t values (1)").kind == "insert"
        assert classify("insert into t values (1)").target == "t"
        assert classify("update t set a = 1").target == "t"
        assert classify("delete from t where 1").kind == "delete"
        c = classify("create table if not exists state.m (a int)")
        assert c.kind == "create_table" and c.target == "state.m"
        assert classify("create index i on t(a)").kind == "create_index"
        assert classify("drop table t").kind == "drop"

    def test_reads_event(self):
        assert classify("select * from event").reads_event
        assert not classify("select * from events_tbl").reads_event


class TestAuthorizer:
    def test_permissive_default(self):
        Authorizer().check("drop table x", "query")  # no raise

    def test_query_rejects_writes(self):
        with pytest.raises(AuthorizationError):
            Authorizer(enforce=True).check("insert into t values (1)", "query")

    def test_query_function_allowlist(self):
        a = Authorizer(enforce=True)
        a.check("select coalesce(max(x), 0) from t", "query")
        with pytest.raises(AuthorizationError):
            a.check("select load_extension('evil') from t", "query")

    def test_materialize_cannot_write_state(self):
        a = Authorizer(enforce=True)
        a.check("insert into t select 1", "materialize")
        with pytest.raises(AuthorizationError):
            a.check("insert into state.m select 1", "materialize")

    def test_state_materialize_only_state(self):
        a = Authorizer(enforce=True)
        a.check("insert into state.m select 1", "state_materialize")
        with pytest.raises(AuthorizationError):
            a.check("insert into main_t select 1", "state_materialize")


class TestJsonUdfs:
    def test_json_patch_rfc7386(self):
        from leaf_spark.sqlcompat import json_patch_py

        assert json_patch_py('{"a":1,"b":2}', '{"b":3,"c":4}') == '{"a":1,"b":3,"c":4}'
        # null removes; nested objects merge
        assert json_patch_py('{"a":{"x":1,"y":2},"b":1}', '{"a":{"y":null,"z":3}}') == (
            '{"a":{"x":1,"z":3},"b":1}'
        )
        # non-object patch replaces wholesale
        assert json_patch_py('{"a":1}', '[1,2]') == "[1,2]"
        assert json_patch_py(None, '{"a":1}') is None

    def test_json_set_paths(self):
        from leaf_spark.sqlcompat import json_set_py

        assert json_set_py('{"a":1}', "$.b", 2) == '{"a":1,"b":2}'
        assert json_set_py('{"a":{"b":1}}', "$.a.b", 9) == '{"a":{"b":9}}'
        assert json_set_py('{"a":1}', "$.b.c", 5) == '{"a":1,"b":{"c":5}}'  # creates
        assert json_set_py('{"a":[1,2]}', "$.a[1]", 7) == '{"a":[1,7]}'
        assert json_set_py('{"a":[1]}', "$.a[1]", 2) == '{"a":[1,2]}'  # append
        assert json_set_py('{"a":1}', "$.a", "txt") == '{"a":"txt"}'  # text stays string

    def test_registered_in_spark(self, spark):
        from leaf_spark.sqlcompat import register_json_udfs

        register_json_udfs(spark)
        row = spark.sql(
            """select json_patch('{"a":1}', '{"b":2}') as p,
                      json_set('{"x":[1]}', '$.x[0]', 9) as s"""
        ).first()
        assert row["p"] == '{"a":1,"b":2}'
        assert row["s"] == '{"x":[9]}'


class TestScalarFunctionSurface:
    """Round-2 widening of the SQLite builtin surface: each case runs the
    TRANSLATED SQL in Spark and checks the value SQLite would produce."""

    def _one(self, spark, expr):
        return spark.sql(translate(f"select {expr} as v")).first()["v"]

    def test_log_is_base10(self, spark):
        assert self._one(spark, "log(100)") == pytest.approx(2.0)
        assert self._one(spark, "log(2, 8)") == pytest.approx(3.0)
        assert self._one(spark, "ln(2.718281828459045)") == pytest.approx(1.0)
        assert self._one(spark, "log2(8)") == pytest.approx(3.0)

    def test_trunc_numeric(self, spark):
        assert self._one(spark, "trunc(3.9)") == 3.0
        assert self._one(spark, "trunc(-3.9)") == -3.0

    def test_char_and_unicode(self, spark):
        assert self._one(spark, "char(104, 105)") == "hi"
        assert self._one(spark, "unicode('Abc')") == 65

    def test_quote(self, spark):
        assert self._one(spark, "quote('it''s')") == "'it''s'"
        assert self._one(spark, "quote(42)") == "42"
        assert self._one(spark, "quote(null)") == "NULL"

    def test_concat_skips_nulls(self, spark):
        assert self._one(spark, "concat('a', null, 'b')") == "ab"

    def test_string_agg_like_group_concat(self):
        assert "array_join(sort_array(collect_list(cast(x as string))), ';')" in (
            translate("select string_agg(x, ';') from t")
        )

    def test_random_is_bigint(self, spark):
        v1 = self._one(spark, "random()")
        assert isinstance(v1, int)

    def test_blobs(self, spark):
        assert self._one(spark, "zeroblob(3)") == bytearray(b"\x00\x00\x00")
        assert len(self._one(spark, "randomblob(40)")) == 40
        assert self._one(spark, "hex(zeroblob(2))") == "0000"

    def test_planner_hints_dropped(self, spark):
        assert self._one(spark, "likely(7)") == 7
        assert self._one(spark, "likelihood(7, 0.5)") == 7

    def test_julianday(self, spark):
        # 2000-01-01 12:00 UTC is JD 2451545.0 (the J2000 epoch)
        v = self._one(spark, "julianday('2000-01-01 12:00:00')")
        assert v == pytest.approx(2451545.0, abs=1.0)  # session tz offset ≤ 1 day

    def test_sqlite_version_literal(self, spark):
        assert self._one(spark, "sqlite_version()") == "3.50.0"

    def test_passthrough_math_and_string(self, spark):
        assert self._one(spark, "sign(-8)") == -1.0
        assert self._one(spark, "pow(2, 10)") == 1024.0
        assert self._one(spark, "mod(7, 3)") == 1
        assert self._one(spark, "instr('hello', 'll')") == 3
        assert self._one(spark, "hex('AB')") == "4142"
        assert self._one(spark, "octet_length('abc')") == 3


class TestJsonFamily:
    def _one(self, spark, expr):
        from leaf_spark.sqlcompat import register_json_udfs

        register_json_udfs(spark)
        return spark.sql(translate(f"select {expr} as v")).first()["v"]

    def test_insert_only_creates(self, spark):
        assert self._one(spark, """json_insert('{"a":1}', '$.b', 2)""") == '{"a":1,"b":2}'
        assert self._one(spark, """json_insert('{"a":1}', '$.a', 9)""") == '{"a":1}'

    def test_replace_only_overwrites(self, spark):
        assert self._one(spark, """json_replace('{"a":1}', '$.a', 9)""") == '{"a":9}'
        assert self._one(spark, """json_replace('{"a":1}', '$.b', 2)""") == '{"a":1}'

    def test_remove(self, spark):
        assert self._one(spark, """json_remove('{"a":1,"b":2}', '$.b')""") == '{"a":1}'
        assert self._one(spark, """json_remove('[1,2,3]', '$[1]')""") == "[1,3]"
        assert self._one(spark, """json_remove('{"a":1}', '$.zzz')""") == '{"a":1}'

    def test_type_valid_quote_norm(self, spark):
        assert self._one(spark, """json_type('{"a":1}')""") == "object"
        assert self._one(spark, "json_type('[1]')") == "array"
        assert self._one(spark, "json_type('3.5')") == "real"
        assert self._one(spark, "json_valid('{\"a\":1}')") == 1
        assert self._one(spark, "json_valid('nope')") == 0
        assert self._one(spark, "json_quote('hi')") == '"hi"'
        assert self._one(spark, """json(' { "a" : 1 } ')""") == '{"a":1}'

    def test_json_array_length_with_path(self, spark):
        assert self._one(spark, """json_array_length('{"a":[1,2,3]}', '$.a')""") == 3
        assert self._one(spark, "json_array_length('[1,2]')") == 2


class TestTimeModifiers:
    """SQLite date-function modifiers folded into interval arithmetic —
    every case executes the translated SQL and checks the value SQLite
    would produce (previously extra modifier args were silently dropped)."""

    def _one(self, spark, expr):
        return spark.sql(translate(f"select {expr} as v")).first()["v"]

    def test_add_interval(self, spark):
        assert str(self._one(spark, "date('2024-01-30', '+3 days')")) == "2024-02-02"
        # SQLite does NOT clamp month arithmetic: Mar 31 - 1 month =
        # "Feb 31" -> Mar 2 (verified against sqlite3 — see
        # test_sqlite_differential.py for the full matrix)
        assert str(self._one(spark, "date('2024-03-31', '-1 month')")) == "2024-03-02"
        assert str(self._one(spark, "date('2024-02-29', '+1 year')")) == "2025-03-01"
        assert (
            str(self._one(spark, "datetime('2024-01-01 10:00:00', '+90 minutes')"))
            == "2024-01-01 11:30:00"
        )

    def test_fractional_units_exact(self, spark):
        assert (
            str(self._one(spark, "datetime('2024-01-01 00:00:00', '+1.5 hours')"))
            == "2024-01-01 01:30:00"
        )

    def test_start_of(self, spark):
        assert str(self._one(spark, "date('2024-07-19', 'start of month')")) == "2024-07-01"
        assert str(self._one(spark, "date('2024-07-19', 'start of year')")) == "2024-01-01"
        assert (
            str(self._one(spark, "datetime('2024-07-19 13:45:00', 'start of day')"))
            == "2024-07-19 00:00:00"
        )

    def test_modifier_chain(self, spark):
        # SQLite idiom: last day of the month
        assert (
            str(self._one(spark, "date('2024-02-10', 'start of month', '+1 month', '-1 day')"))
            == "2024-02-29"
        )

    def test_weekday_stays_when_already_there(self, spark):
        # 2024-07-14 is a Sunday (weekday 0): no move
        assert str(self._one(spark, "date('2024-07-14', 'weekday 0')")) == "2024-07-14"
        # next Wednesday (weekday 3) after Sunday the 14th is the 17th
        assert str(self._one(spark, "date('2024-07-14', 'weekday 3')")) == "2024-07-17"

    def test_unixepoch_base_with_modifiers(self, spark):
        assert (
            str(self._one(spark, "datetime(86400, 'unixepoch', '+1 day')"))
            == "1970-01-03 00:00:00"
        )
        assert self._one(spark, "unixepoch('1970-01-02 00:00:00', '+1 hour')") == 90000

    def test_strftime_and_time_with_modifiers(self, spark):
        assert (
            self._one(spark, "strftime('%Y-%m-%d', '2024-01-31', '+1 day')")
            == "2024-02-01"
        )
        assert self._one(spark, "time('2024-01-01 23:30:00', '+45 minutes')") == "00:15:00"

    def test_unsupported_modifier_raises(self):
        from leaf_spark.sqlcompat import SqlTranslationError

        with pytest.raises(SqlTranslationError):
            translate("select date('2024-01-01', 'not a modifier')")
        with pytest.raises(SqlTranslationError):
            translate("select date('2024-01-01', x)")  # non-literal


class TestTableNamedLikeBuiltin:
    def test_insert_column_list_not_rewritten_as_call(self):
        # a table named 'log' followed by its column list is not log10()
        out = translate("insert into log (idx) select idx from event")
        assert "log (idx)" in out or "log(idx)" in out
        assert "log10" not in out

    def test_from_and_join_positions(self):
        assert "log10" not in translate("select * from log join date (x) on 1=1")
        # ...while real calls in expression position still rewrite
        assert "log10(x)" in translate("select log(x) from t")


class TestAuthorizerRedTeam:
    """Adversarial module SQL (VERDICT r4 'Next round #7'): every smuggle
    path must be rejected in enforce mode, while permissive mode — the
    reference's actual shipped behavior (leaf-stream/src/lib.rs:997,1046,
    1095 short-circuit Allow) — lets each through untouched."""

    CASES_QUERY = [
        # writes smuggled behind a CTE prefix (head-keyword dispatch trap)
        "with t as (select 1) insert into events select * from t",
        "with t as (select 1) delete from events where id in (select * from t)",
        "with t as (select 1) update events set value = 0",
        # DDL behind a CTE
        "with t as (select 1) drop table events",
        # compound statement hides the second verb behind the first
        "select 1; drop table events",
        "select 1; insert into events values (1)",
        # case smuggling
        "INSERT INTO events VALUES (1)",
        # non-allowlisted function, plain / inside a CTE body / uppercase
        "select load_extension('evil')",
        "with t as (select load_extension('evil') as x) select x from t",
        "select LOAD_EXTENSION('evil')",
    ]

    def test_query_scope_rejects_each_smuggle(self):
        from leaf_spark.sqlcompat import AuthorizationError, Authorizer

        a = Authorizer(enforce=True)
        for sql in self.CASES_QUERY:
            with pytest.raises(AuthorizationError):
                a.check(sql, "query")

    def test_permissive_matches_reference_disabled_behavior(self):
        from leaf_spark.sqlcompat import Authorizer

        a = Authorizer(enforce=False)
        for sql in self.CASES_QUERY:
            a.check(sql, "query")  # reference ships authorization disabled

    def test_materialize_state_guard_survives_quoting(self):
        from leaf_spark.sqlcompat import AuthorizationError, Authorizer

        a = Authorizer(enforce=True)
        for sql in (
            'insert into "state".m select 1',
            "insert into `state`.m select 1",
            "insert into [state].m select 1",
            'delete from "state".m',
            "with t as (select 1) insert into state.m select * from t",
        ):
            with pytest.raises(AuthorizationError):
                a.check(sql, "materialize")
        # plain main-namespace writes stay allowed
        a.check('insert into "tbl" select 1', "materialize")
        a.check("with t as (select 1) insert into tbl select * from t", "materialize")

    def test_state_materialize_rejects_quoted_main_writes(self):
        from leaf_spark.sqlcompat import AuthorizationError, Authorizer

        a = Authorizer(enforce=True)
        with pytest.raises(AuthorizationError):
            a.check('insert into "main_t" select 1', "state_materialize")
        a.check('insert into "state".m select 1', "state_materialize")

    def test_split_statements_respects_paren_depth_and_strings(self):
        from leaf_spark.module import split_statements

        assert split_statements("select 1; drop table x") == [
            "select 1",
            "drop table x",
        ]
        # semicolon inside a string literal is data, not a separator
        assert len(split_statements("select 'a;b' from t")) == 1
        assert len(split_statements("select (select 1) from t")) == 1

    def test_trigger_body_authorizes_under_creating_policy(self):
        """A trigger body runs with no authorizer call of its own when the
        trigger fires, so CREATE TRIGGER must authorize every body
        statement: wrapping a denied write in a trigger must not pass."""
        from leaf_spark.sqlcompat import AuthorizationError, Authorizer

        a = Authorizer(enforce=True)
        with pytest.raises(AuthorizationError):
            a.check("insert into state.m values(1)", "materialize")
        with pytest.raises(AuthorizationError):
            a.check(
                "create trigger t after insert on foo begin "
                "insert into state.m values(1); end",
                "materialize",
            )
        # a body that writes main passes, CASE … END inside it included
        a.check(
            "create trigger t after insert on foo begin "
            "insert into audit values(case when new.x > 0 then 1 else 0 end); "
            "delete from audit where x < 0; end",
            "materialize",
        )


class TestAuthorizerNamespaceHardening:
    """Second red-team pass (self-review findings): main.-qualified
    targets reach the same flattened table, and CREATE is a write."""

    def test_main_qualified_state_write_rejected(self):
        from leaf_spark.sqlcompat import AuthorizationError, Authorizer

        a = Authorizer(enforce=True)
        for sql in (
            "insert into main.state_x select 1",
            'insert into "main".state_x select 1',
            "delete from main.state_counts",
        ):
            with pytest.raises(AuthorizationError):
                a.check(sql, "materialize")
        a.check("insert into main.tbl select 1", "materialize")

    def test_create_into_state_namespace_rejected(self):
        from leaf_spark.sqlcompat import AuthorizationError, Authorizer

        a = Authorizer(enforce=True)
        for sql in (
            "create table state.m (x int)",
            "create table state_m (x int)",
            "create view state.v as select 1",
            "create trigger tg after insert on state.m begin select 1; end",
        ):
            with pytest.raises(AuthorizationError):
                a.check(sql, "materialize")
        # plain main-namespace DDL stays allowed in materialize scope
        a.check("create table scratch (x int)", "materialize")
        # and state_materialize may NOT create main-namespace tables
        with pytest.raises(AuthorizationError):
            a.check("create table scratch (x int)", "state_materialize")

    def test_temp_objects_exempt_everywhere(self):
        from leaf_spark.sqlcompat import Authorizer

        a = Authorizer(enforce=True)
        for policy in ("materialize", "state_materialize"):
            a.check("create temp table tt (x int)", policy)
            a.check("create temporary table tt (x int)", policy)
            a.check("insert into temp.tt select 1", policy)


class TestScalarSubqueryLimit:
    """r11: SQLite scalar subqueries take the FIRST row; Spark raises
    SCALAR_SUBQUERY_TOO_MANY_ROWS — translate appends LIMIT 1 in
    unambiguous scalar positions only (the rewrite can only turn a
    runtime error into the reference's answer)."""

    def test_scalar_positions_get_limit(self):
        from leaf_spark.sqlcompat import translate

        assert translate("select (select tag from log) as t") == (
            "select(select tag from log limit 1) as t"
        )
        assert "limit 1) as b" in translate(
            "select a, (select v from t) as b from x"
        )
        assert "limit 1)" in translate(
            "select coalesce((select v from t where k = 1), 0) as v"
        )
        assert "limit 1)" in translate(
            "select * from t where x = (select max(v) from u)"
        )

    def test_nonscalar_positions_untouched(self):
        from leaf_spark.sqlcompat import translate

        for sql in (
            "select * from t where x in (select v from u)",
            "select * from t1, (select a from t2) as d",
            "select * from (select a from t2)",
            "insert into t (a) select x from (select x from u)",
            "select * from t where exists (select 1 from u)",
            "create view vv as select a from t union select b from u",
        ):
            assert "limit 1" not in translate(sql), sql

    def test_prelimited_subquery_untouched(self):
        from leaf_spark.sqlcompat import translate

        out = translate("select (select v from t limit 5) as v")
        assert "limit 5" in out and "limit 1" not in out
