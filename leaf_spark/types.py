"""Core value/query types — parity with reference leaf-stream-types/src/lib.rs.

- SqlValue: SQLite's five dynamic types (lib.rs:229-245), wire-tagged
  ``muni.town.sqliteValue.*``.
- Query param declarations ``integer|real|text|blob|any`` with ``optional``
  and the validation matrix (lib.rs:148-161, 268-320).
- LeafQuery with builtin ``start``/``limit`` windowing: ``last_event() =
  limit + start.unwrap_or(1) - 1`` and ``update_for_subscription``
  (lib.rs:182-223).
- Event / IncomingEvent rows (lib.rs:163-179).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any

DEFAULT_QUERY_LIMIT = 1000  # reference lib.rs:187-192

# ---------------------------------------------------------------------------
# SqlValue
# ---------------------------------------------------------------------------

_WIRE_PREFIX = "muni.town.sqliteValue."


@dataclass(frozen=True)
class SqlValue:
    """Dynamically-typed SQL value. kind ∈ null|integer|real|text|blob."""

    kind: str
    value: Any = None

    def __post_init__(self):
        if self.kind not in ("null", "integer", "real", "text", "blob"):
            raise ValueError(f"bad SqlValue kind {self.kind!r}")

    @staticmethod
    def null() -> "SqlValue":
        return SqlValue("null")

    @staticmethod
    def of(v: Any) -> "SqlValue":
        """Python value → SqlValue (bool→integer, mirroring SQLite affinity
        used by the reference's drisl_to_sql)."""
        if v is None:
            return SqlValue("null")
        if isinstance(v, bool):
            return SqlValue("integer", 1 if v else 0)
        if isinstance(v, int):
            return SqlValue("integer", v)
        if isinstance(v, float):
            return SqlValue("real", v)
        if isinstance(v, str):
            return SqlValue("text", v)
        if isinstance(v, (bytes, bytearray)):
            return SqlValue("blob", bytes(v))
        raise TypeError(f"cannot convert {type(v)} to SqlValue")

    def to_python(self) -> Any:
        return None if self.kind == "null" else self.value

    def to_wire(self) -> dict:
        """Wire codec shape per clients/typescript/src/codec.ts."""
        if self.kind == "null":
            return {"$type": _WIRE_PREFIX + "null"}
        v: Any = self.value
        if self.kind == "blob":
            v = bytes(v)
        return {"$type": _WIRE_PREFIX + self.kind, "value": v}

    @staticmethod
    def from_wire(d: dict) -> "SqlValue":
        t = d.get("$type", "")
        if not t.startswith(_WIRE_PREFIX):
            raise ValueError(f"not a SqlValue wire object: {t!r}")
        kind = t[len(_WIRE_PREFIX) :]
        if kind == "null":
            return SqlValue("null")
        return SqlValue(kind, d["value"])


# wire tag of each Python type whose value goes on the wire as it is
_WIRE_TAG = {
    int: _WIRE_PREFIX + "integer",
    float: _WIRE_PREFIX + "real",
    str: _WIRE_PREFIX + "text",
    bytes: _WIRE_PREFIX + "blob",
}
_NULL_WIRE_TAG = _WIRE_PREFIX + "null"


def to_wire(v: Any) -> dict:
    """``SqlValue.of(v).to_wire()`` without building the SqlValue: a
    None, int, float, str or bytes cell maps straight to its wire dict;
    anything else (bool → integer, bytearray → bytes, subclasses, the
    ``TypeError`` of an unconvertible value) goes through ``SqlValue``."""
    tag = _WIRE_TAG.get(type(v))
    if tag is not None:
        return {"$type": tag, "value": v}
    if v is None:
        return {"$type": _NULL_WIRE_TAG}
    return SqlValue.of(v).to_wire()


# ---------------------------------------------------------------------------
# Query param declarations + validation (reference lib.rs:148-161, 268-320)
# ---------------------------------------------------------------------------

PARAM_KINDS = ("integer", "real", "text", "blob", "any")


@dataclass(frozen=True)
class QueryParamDef:
    name: str
    kind: str = "any"
    optional: bool = False

    def __post_init__(self):
        if self.kind not in PARAM_KINDS:
            raise ValueError(f"bad param kind {self.kind!r}")


class ParamValidationError(ValueError):
    pass


def validate_params(defs: list[QueryParamDef], params: dict[str, SqlValue]) -> dict[str, SqlValue]:
    """Validation matrix per reference lib.rs:268-320:

    - undeclared provided params are rejected;
    - missing non-optional params are rejected (missing optional → null);
    - null for non-optional is rejected;
    - kind mismatch is rejected (``any`` accepts every non-null; integer
      additionally accepted where real is declared, mirroring SQLite numeric
      affinity).
    """
    declared = {d.name: d for d in defs}
    for name in params:
        if name not in declared:
            raise ParamValidationError(f"undeclared query parameter ${name}")
    bound: dict[str, SqlValue] = {}
    for d in defs:
        v = params.get(d.name)
        if v is None or v.kind == "null":
            if not d.optional:
                raise ParamValidationError(f"missing required parameter ${d.name}")
            bound[d.name] = SqlValue.null()
            continue
        if d.kind == "any":
            bound[d.name] = v
        elif d.kind == v.kind or (d.kind == "real" and v.kind == "integer"):
            bound[d.name] = v if d.kind != "real" else SqlValue("real", float(v.value))
        else:
            raise ParamValidationError(
                f"parameter ${d.name}: expected {d.kind}, got {v.kind}"
            )
    return bound


# ---------------------------------------------------------------------------
# Events
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IncomingEvent:
    """Pre-commit event: no idx, no signature (reference lib.rs:175-179)."""

    user: str
    payload: bytes


@dataclass(frozen=True)
class Event:
    """Committed event row (reference lib.rs:163-172)."""

    idx: int
    user: str
    payload: bytes
    signature: bytes = b""


# ---------------------------------------------------------------------------
# LeafQuery
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class LeafQuery:
    """Named parameterized query with idx-window paging
    (reference lib.rs:182-223)."""

    name: str
    params: dict[str, SqlValue] = field(default_factory=dict)
    start: int | None = None
    limit: int = DEFAULT_QUERY_LIMIT

    def last_event(self) -> int:
        """limit + start.unwrap_or(1) - 1 (reference lib.rs:194-199)."""
        return self.limit + (self.start if self.start is not None else 1) - 1

    def update_for_subscription(self, new_start: int) -> "LeafQuery":
        """Shift the window for incremental re-execution
        (reference lib.rs:201-213)."""
        return replace(self, start=new_start)
