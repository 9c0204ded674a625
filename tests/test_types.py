"""SqlValue / LeafQuery / param-validation parity
(reference leaf-stream-types/src/lib.rs; FIXTURES.md F5)."""

import pytest

from leaf_spark.types import (
    DEFAULT_QUERY_LIMIT,
    LeafQuery,
    ParamValidationError,
    QueryParamDef,
    SqlValue,
    to_wire,
    validate_params,
)


class TestSqlValue:
    def test_of_and_back(self):
        assert SqlValue.of(None).kind == "null"
        assert SqlValue.of(True) == SqlValue("integer", 1)
        assert SqlValue.of(3) == SqlValue("integer", 3)
        assert SqlValue.of(2.5) == SqlValue("real", 2.5)
        assert SqlValue.of("x") == SqlValue("text", "x")
        assert SqlValue.of(b"\x01") == SqlValue("blob", b"\x01")

    def test_wire_roundtrip(self):
        for v in [SqlValue.null(), SqlValue.of(5), SqlValue.of("s"), SqlValue.of(b"b")]:
            assert SqlValue.from_wire(v.to_wire()) == v

    def test_wire_tags(self):
        assert SqlValue.of(5).to_wire()["$type"] == "muni.town.sqliteValue.integer"
        assert SqlValue.null().to_wire() == {"$type": "muni.town.sqliteValue.null"}


class TestWireCells:
    """``to_wire`` (and ``Stream.rows_to_wire`` on top of it) builds
    exactly ``SqlValue.of(v).to_wire()`` for every kind of cell."""

    VALUES = [None, True, False, 0, -5, 2**63 - 1, 1.5, -0.0, "", "x",
              "é", b"", b"\x01", bytearray(b"ab")]

    def test_every_kind(self):
        from leaf_spark import drisl

        for v in self.VALUES:
            want = SqlValue.of(v).to_wire()
            got = to_wire(v)
            assert got == want, v
            assert type(got.get("value")) is type(want.get("value")), v
            assert drisl.encode(got) == drisl.encode(want), v

    def test_unconvertible_raises_type_error(self):
        from decimal import Decimal

        for v in (object(), Decimal(1), [1], {"a": 1}):
            with pytest.raises(TypeError):
                SqlValue.of(v)
            with pytest.raises(TypeError):
                to_wire(v)

    def test_rows_to_wire(self):
        from leaf_spark.stream import Stream

        rows = [{f"c{i}": v for i, v in enumerate(self.VALUES)}, {}, {"a": 1}]
        assert Stream.rows_to_wire(None, rows) == [
            {k: SqlValue.of(v).to_wire() for k, v in r.items()} for r in rows
        ]


class TestLeafQueryWindow:
    """lib.rs:194-213: last_event() = limit + start.unwrap_or(1) - 1."""

    def test_default_limit(self):
        assert LeafQuery("q").limit == DEFAULT_QUERY_LIMIT == 1000

    def test_last_event_default_start(self):
        assert LeafQuery("q", limit=100).last_event() == 100

    def test_last_event_with_start(self):
        assert LeafQuery("q", start=51, limit=100).last_event() == 150

    def test_update_for_subscription(self):
        q = LeafQuery("q", start=1, limit=10)
        q2 = q.update_for_subscription(11)
        assert q2.start == 11 and q2.limit == 10 and q2.name == "q"
        assert q.start == 1  # immutable


class TestParamValidation:
    """lib.rs:268-320 accept/reject matrix."""

    def test_missing_required_rejects(self):
        with pytest.raises(ParamValidationError):
            validate_params([QueryParamDef("a", "integer")], {})

    def test_null_for_required_rejects(self):
        with pytest.raises(ParamValidationError):
            validate_params([QueryParamDef("a", "integer")], {"a": SqlValue.null()})

    def test_missing_optional_becomes_null(self):
        out = validate_params([QueryParamDef("a", "integer", optional=True)], {})
        assert out["a"] == SqlValue.null()

    def test_kind_mismatch_rejects(self):
        with pytest.raises(ParamValidationError):
            validate_params([QueryParamDef("a", "integer")], {"a": SqlValue.of("s")})

    def test_integer_accepted_for_real(self):
        out = validate_params([QueryParamDef("a", "real")], {"a": SqlValue.of(3)})
        assert out["a"] == SqlValue("real", 3.0)

    def test_real_rejected_for_integer(self):
        with pytest.raises(ParamValidationError):
            validate_params([QueryParamDef("a", "integer")], {"a": SqlValue.of(3.5)})

    def test_any_accepts_everything_nonnull(self):
        for v in [SqlValue.of(1), SqlValue.of(1.5), SqlValue.of("s"), SqlValue.of(b"b")]:
            assert validate_params([QueryParamDef("a", "any")], {"a": v})["a"] == v

    def test_undeclared_param_rejects(self):
        with pytest.raises(ParamValidationError):
            validate_params([], {"mystery": SqlValue.of(1)})
