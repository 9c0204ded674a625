"""Module definitions — parity with reference BasicModuleDef
(leaf-stream-types/src/lib.rs:79-133) and the content-addressing scheme
(lib.rs:9-15,45-52: CID = sha2 of the DRISL-encoded ``ModuleCodec``).

A module bundles five SQL scripts plus named query defs:

- ``init_sql``            idempotent DDL for materialized tables
- ``authorizer``          per-event accept/reject SQL (throw/unauthorized)
- ``materializer``        per-event fold into materialized tables
- ``state_init_sql``      DDL for the ephemeral state namespace
- ``state_materializer``  fold for non-persisted state events
- ``queries``             named, typed-parameter SQL clients may run

Divergence note (documented per SURVEY §7.3): our module id is the sha-256
hex of the DRISL encoding of the codec map — CID-*equivalent* content
addressing without the multihash/multibase wrapper, since we claim semantic
parity, not wire compatibility.
"""

from __future__ import annotations

import functools
import hashlib
import re
from dataclasses import dataclass, field

from . import drisl
from .types import QueryParamDef

MODULE_TYPE = "muni.town.leaf.module.basic.v0"

# Comment stripping + statement split — reference leaf-stream/src/module.rs:19-20
# strips `--` line comments then splits on `;`.
_COMMENT_RE = re.compile(r"--[^\n]*")


def strip_comments(sql: str) -> str:
    return _COMMENT_RE.sub("", sql)


# Entries per memoized statement analysis (this split, the lexer and the
# localexec gates). A module has tens of statements and the known-table
# set changes only on DDL, so this holds the working set of hundreds of
# distinct modules in one process.
ANALYSIS_CACHE = 4096


_TRIGGER_HEAD_RE = re.compile(r"^\s*create\s+(temp\s+|temporary\s+)?trigger\b", re.IGNORECASE)
_WORD_RE = re.compile(r"[A-Za-z_]\w*")


def split_statements(sql: str) -> list[str]:
    """Statement split on ';' outside of quoted strings and outside a
    trigger's BEGIN…END block (a trigger body contains ';'-separated
    statements but is ONE statement).

    (The reference splits naively on ';' after comment-strip,
    module/basic.rs:181-187 — SQLite's own parser receives whole scripts
    elsewhere; respecting quotes and trigger bodies is strictly safer,
    same behavior on its corpus.)
    """
    out, buf, i, n = [], [], 0, len(sql)
    quote: str | None = None
    depth = 0  # BEGIN…END nesting within a CREATE TRIGGER statement
    case_depth = 0  # CASE…END expressions inside the trigger body
    while i < n:
        c = sql[i]
        if quote:
            buf.append(c)
            if c == quote:
                if i + 1 < n and sql[i + 1] == quote:  # escaped '' / ""
                    buf.append(sql[i + 1])
                    i += 1
                else:
                    quote = None
        elif c in ("'", '"'):
            quote = c
            buf.append(c)
        elif c == ";" and depth == 0:
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
        else:
            if c.isalpha() or c == "_":
                m = _WORD_RE.match(sql, i)
                word = m.group(0)
                low = word.lower()
                cur = "".join(buf)
                if low == "begin" and _TRIGGER_HEAD_RE.match(cur):
                    depth += 1
                elif low == "case" and depth > 0:
                    case_depth += 1
                elif low == "end" and depth > 0:
                    # CASE…END pairs inside the body close first; a bare
                    # END then closes the trigger
                    if case_depth > 0:
                        case_depth -= 1
                    else:
                        depth -= 1
                buf.append(word)
                i = m.end()
                continue
            buf.append(c)
        i += 1
    stmt = "".join(buf).strip()
    if stmt:
        out.append(stmt)
    return out


@functools.lru_cache(maxsize=ANALYSIS_CACHE)
def statements(sql: str) -> tuple[str, ...]:
    """The statements of a module script: comments stripped, then
    ``split_statements``. Memoized — the engine splits the same fixed
    module text on every commit, read marker and named query."""
    return tuple(split_statements(strip_comments(sql)))


@dataclass(frozen=True)
class QueryDef:
    """Named query (reference LeafModuleQueryDef, lib.rs:125-133)."""

    name: str
    sql: str
    params: tuple[QueryParamDef, ...] = ()


@dataclass(frozen=True)
class BasicModuleDef:
    init_sql: str = ""
    authorizer: str = ""
    materializer: str = ""
    state_init_sql: str = ""
    state_materializer: str = ""
    queries: tuple[QueryDef, ...] = ()

    def query_def(self, name: str) -> QueryDef:
        for q in self.queries:
            if q.name == name:
                return q
        raise KeyError(f"no query named {name!r} in module")

    def to_codec(self) -> dict:
        """ModuleCodec map shape (camelCase keys per the wire format used by
        clients/typescript and FIXTURES.md F2)."""
        return {
            "$type": MODULE_TYPE,
            "initSql": self.init_sql,
            "authorizer": self.authorizer,
            "materializer": self.materializer,
            "stateInitSql": self.state_init_sql,
            "stateMaterializer": self.state_materializer,
            "queries": [
                {
                    "name": q.name,
                    "sql": q.sql,
                    "params": [
                        {"name": p.name, "kind": p.kind, "optional": p.optional}
                        for p in q.params
                    ],
                }
                for q in self.queries
            ],
        }

    @staticmethod
    def from_codec(d: dict) -> "BasicModuleDef":
        if d.get("$type") != MODULE_TYPE:
            raise ValueError(f"unknown module $type {d.get('$type')!r}")
        return BasicModuleDef(
            init_sql=d.get("initSql", ""),
            authorizer=d.get("authorizer", ""),
            materializer=d.get("materializer", ""),
            state_init_sql=d.get("stateInitSql", ""),
            state_materializer=d.get("stateMaterializer", ""),
            queries=tuple(
                QueryDef(
                    name=q["name"],
                    sql=q["sql"],
                    params=tuple(
                        QueryParamDef(p["name"], p.get("kind", "any"), p.get("optional", False))
                        for p in q.get("params", [])
                    ),
                )
                for q in d.get("queries", [])
            ),
        )

    def cid(self) -> str:
        """Content id in the reference's DASL CID format: CIDv1 / drisl
        codec / sha2-256, base32-lower ("bafyrei…") — byte-identical ids
        for byte-identical module codecs across both implementations
        (ModuleCodec::encode → Cid::digest_sha2(Drisl, …),
        leaf-server/src/storage.rs:460)."""
        return drisl.cid_of(drisl.encode(self.to_codec()))
