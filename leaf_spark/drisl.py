"""DRISL payload codec + path extraction.

DRISL is the reference's deterministic-CBOR profile (DASL spec family) used
for event payloads and module encoding. Parity targets:

- codec: definite-length CBOR, shortest-form ints, bytewise-sorted map keys,
  CID links as tag 42 (reference: leaf-stream-types/src/lib.rs:163-172 and
  the DASL DRISL spec).
- path extraction: ``drisl_extract(blob, path)`` / ``drisl_exists(blob,
  path)`` with the PEG path grammar ``.field``, ``."quoted.field"``, ``.3``
  (array index), ``.?discriminant`` (reference:
  leaf-stream/src/drisl_extract.rs:1-85; UDF registration at
  leaf-stream/src/module/basic.rs:311-347).
- terminal conversion (reference drisl_extract.rs:17-30): bool→int 0/1,
  CID→blob, map/array→JSON text, missing path distinct from present-null.

The 15 unit vectors at reference drisl_extract.rs:87-244 are ported verbatim
in tests/test_drisl.py.

Spark integration: payloads are BINARY columns; extraction is exposed as
pandas UDFs (Arrow-batched — the only non-JVM hot path in the engine, kept
vectorized) plus a ``drisl_to_json`` UDF so callers on Spark 4 can decode
once into a variant/JSON column and use ``variant_get`` for everything after.
"""

from __future__ import annotations

import functools
import json
import math
import re
import struct
from dataclasses import dataclass
from typing import Any

# ---------------------------------------------------------------------------
# CID link — reference: CIDs ride as CBOR tag 42 (multibase 0x00 + cid bytes)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CidLink:
    """Opaque content identifier; extraction converts it to a blob."""

    bytes: bytes  # raw CID bytes (without the 0x00 multibase prefix)


class _Missing:
    """Sentinel distinguishing a missing path from a present null
    (reference drisl_extract.rs returns Option<Option<Value>>)."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover
        return "MISSING"


MISSING = _Missing()

# ---------------------------------------------------------------------------
# Deterministic CBOR encode
# ---------------------------------------------------------------------------


def _enc_head(major: int, arg: int) -> bytes:
    if arg < 24:
        return bytes([(major << 5) | arg])
    if arg < 0x100:
        return bytes([(major << 5) | 24, arg])
    if arg < 0x10000:
        return bytes([(major << 5) | 25]) + arg.to_bytes(2, "big")
    if arg < 0x100000000:
        return bytes([(major << 5) | 26]) + arg.to_bytes(4, "big")
    return bytes([(major << 5) | 27]) + arg.to_bytes(8, "big")


# Key tuples whose map order is memoized, and the most keys one may
# have: wire rows, wire cells and payloads repeat a few key sets, while
# a huge map would pin every one of its keys in the cache.
_MAP_ORDER_CACHE = 1024
_MAP_ORDER_MAX_KEYS = 64


@functools.lru_cache(maxsize=_MAP_ORDER_CACHE)
def _map_order(keys: tuple) -> tuple[bytes, tuple[tuple[bytes, str], ...]]:
    """A map's head and its (encoded key, key) pairs in bytewise order of
    the encoded keys — the deterministic order, per key tuple."""
    pairs = []
    for k in keys:
        if not isinstance(k, str):
            raise TypeError(f"DRISL map keys must be text, got {type(k)}")
        kb = k.encode("utf-8")
        pairs.append((_enc_head(3, len(kb)) + kb, k))
    pairs.sort(key=lambda kv: kv[0])
    return _enc_head(5, len(pairs)), tuple(pairs)


def encode(value: Any) -> bytes:
    """Encode a Python value as deterministic CBOR (DRISL profile):
    definite lengths, shortest-form integer heads, map keys sorted bytewise
    by their encoded form, floats always 64-bit (documented divergence from
    the spec's shortest-float rule; self-consistent and deterministic)."""
    out = bytearray()
    _encode_into(value, out)
    return bytes(out)


def _encode_into(v: Any, out: bytearray) -> None:
    # text and maps first: they are most of a wire answer's items (the
    # branches' types are disjoint, so the order changes no output)
    if isinstance(v, str):
        b = v.encode("utf-8")
        out += _enc_head(3, len(b))
        out += b
    elif isinstance(v, dict):
        keys = tuple(v)
        head, pairs = (
            _map_order(keys) if len(keys) <= _MAP_ORDER_MAX_KEYS
            else _map_order.__wrapped__(keys)
        )
        out += head
        for kb, k in pairs:
            out += kb
            _encode_into(v[k], out)
    elif v is None:
        out.append(0xF6)
    elif v is True:
        out.append(0xF5)
    elif v is False:
        out.append(0xF4)
    elif isinstance(v, int):
        if v >= 0:
            out += _enc_head(0, v)
        else:
            out += _enc_head(1, -1 - v)
    elif isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            raise ValueError("DRISL forbids NaN/Infinity floats")
        out.append(0xFB)
        out += struct.pack(">d", v)
    elif isinstance(v, bytes):
        out += _enc_head(2, len(v))
        out += v
    elif isinstance(v, (list, tuple)):
        out += _enc_head(4, len(v))
        for item in v:
            _encode_into(item, out)
    elif isinstance(v, CidLink):
        out += _enc_head(6, 42)  # tag 42 = IPLD CID link
        _encode_into(b"\x00" + v.bytes, out)
    else:
        raise TypeError(f"cannot DRISL-encode {type(v)}")


# ---------------------------------------------------------------------------
# CBOR decode
# ---------------------------------------------------------------------------


def decode(data: bytes) -> Any:
    v, pos = _decode_at(data, 0)
    if pos != len(data):
        raise ValueError(f"trailing bytes after CBOR value at {pos}")
    return v


def _read_arg(data: bytes, pos: int, info: int) -> tuple[int, int]:
    if info < 24:
        return info, pos
    if info == 24:
        return data[pos], pos + 1
    if info == 25:
        return int.from_bytes(data[pos : pos + 2], "big"), pos + 2
    if info == 26:
        return int.from_bytes(data[pos : pos + 4], "big"), pos + 4
    if info == 27:
        return int.from_bytes(data[pos : pos + 8], "big"), pos + 8
    raise ValueError(f"indefinite-length CBOR not allowed in DRISL (info={info})")


def _decode_at(data: bytes, pos: int) -> tuple[Any, int]:
    if pos >= len(data):
        raise ValueError("truncated CBOR")
    b = data[pos]
    major, info = b >> 5, b & 0x1F
    pos += 1
    if major == 0:
        return _read_arg(data, pos, info)
    if major == 1:
        arg, pos = _read_arg(data, pos, info)
        return -1 - arg, pos
    if major == 2:
        n, pos = _read_arg(data, pos, info)
        return data[pos : pos + n], pos + n
    if major == 3:
        n, pos = _read_arg(data, pos, info)
        return data[pos : pos + n].decode("utf-8"), pos + n
    if major == 4:
        n, pos = _read_arg(data, pos, info)
        items = []
        for _ in range(n):
            v, pos = _decode_at(data, pos)
            items.append(v)
        return items, pos
    if major == 5:
        n, pos = _read_arg(data, pos, info)
        m = {}
        for _ in range(n):
            k, pos = _decode_at(data, pos)
            v, pos = _decode_at(data, pos)
            m[k] = v
        return m, pos
    if major == 6:
        tag, pos = _read_arg(data, pos, info)
        v, pos = _decode_at(data, pos)
        if tag == 42:
            if not isinstance(v, bytes) or not v.startswith(b"\x00"):
                raise ValueError("tag-42 CID must be multibase-0x00 bytes")
            return CidLink(v[1:]), pos
        return v, pos  # unknown tags: transparent
    # major 7
    if info == 20:
        return False, pos
    if info == 21:
        return True, pos
    if info == 22:
        return None, pos
    if info == 25:  # half float (decode-only leniency)
        (h,) = struct.unpack(">e", data[pos : pos + 2])
        return float(h), pos + 2
    if info == 26:
        (f,) = struct.unpack(">f", data[pos : pos + 4])
        return float(f), pos + 4
    if info == 27:
        (f,) = struct.unpack(">d", data[pos : pos + 8])
        return float(f), pos + 8
    raise ValueError(f"unsupported CBOR simple value {info}")


# ---------------------------------------------------------------------------
# Path grammar — reference drisl_extract.rs PEG:
#   path     = segment+
#   segment  = "." (quoted | index | discriminant | ident)
#   quoted   = '"' [^"]* '"'
#   index    = [0-9]+
#   discriminant = "?" "discriminant"
#   ident    = [^."?][^."]*
# ---------------------------------------------------------------------------

_SEG_RE = re.compile(
    r"""\.(?:
        "(?P<quoted>[^"]*)"
      | (?P<disc>\?discriminant)
      | (?P<index>\d+)
      | (?P<ident>[^.\"?][^.\"]*)
    )""",
    re.VERBOSE,
)


@dataclass(frozen=True)
class _Seg:
    kind: str  # 'key' | 'index' | 'disc'
    key: str = ""
    index: int = 0


@functools.lru_cache(maxsize=1024)
def parse_path(path: str) -> list[_Seg]:
    """Memoized: a module references a handful of fixed paths, but the
    sqlite-UDF hot path re-parses per (event × extract) — measured as a
    visible slice of per-event GIL time. Callers only iterate the
    returned list (never mutate), so sharing the cached object is safe."""
    if not path or not path.startswith("."):
        raise ValueError(f"invalid DRISL path {path!r}: must start with '.'")
    segs: list[_Seg] = []
    pos = 0
    while pos < len(path):
        m = _SEG_RE.match(path, pos)
        if not m:
            raise ValueError(f"invalid DRISL path {path!r} at offset {pos}")
        if m.group("quoted") is not None:
            segs.append(_Seg("key", key=m.group("quoted")))
        elif m.group("disc") is not None:
            segs.append(_Seg("disc"))
        elif m.group("index") is not None:
            segs.append(_Seg("index", index=int(m.group("index"))))
        else:
            segs.append(_Seg("key", key=m.group("ident")))
        pos = m.end()
    return segs


def extract_value(doc: Any, path: str) -> Any:
    """Walk ``path`` through a decoded DRISL value.

    Returns MISSING when the path does not exist (reference: row-absence /
    None), which is distinct from a present CBOR null (returns None).
    """
    cur = doc
    for seg in parse_path(path):
        if seg.kind == "key":
            if isinstance(cur, dict):
                if seg.key in cur:
                    cur = cur[seg.key]
                else:
                    return MISSING
            else:
                return MISSING
        elif seg.kind == "index":
            if isinstance(cur, list) and 0 <= seg.index < len(cur):
                cur = cur[seg.index]
            else:
                return MISSING
        else:  # ?discriminant — reference drisl_extract.rs: single-key map →
            # that key as text; bare text → itself
            if isinstance(cur, dict) and len(cur) == 1:
                cur = next(iter(cur.keys()))
            elif isinstance(cur, str):
                pass  # identity on bare text
            else:
                return MISSING
    return cur


def _json_default(v: Any):
    if isinstance(v, bytes):
        return {"$bytes": v.hex()}
    if isinstance(v, CidLink):
        return {"$link": v.bytes.hex()}
    raise TypeError(type(v))


def to_sql_value(v: Any) -> Any:
    """Terminal conversion per reference drisl_extract.rs:17-30:
    bool→int 0/1, CID→blob, map/array→JSON text; ints/floats/text/bytes/null
    pass through. MISSING passes through for the caller to branch on."""
    if v is MISSING or v is None:
        return v
    if isinstance(v, bool):
        return 1 if v else 0
    if isinstance(v, CidLink):
        return v.bytes
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"), sort_keys=False, default=_json_default)
    return v


def drisl_extract(payload: bytes, path: str) -> Any:
    """blob × path → SQL value (None for both null and missing; use
    drisl_exists for the distinction, mirroring the reference's SQL surface
    where a missing path yields SQL NULL)."""
    v = to_sql_value(extract_value(decode(bytes(payload)), path))
    return None if v is MISSING else v


def drisl_exists(payload: bytes, path: str) -> int:
    return 0 if extract_value(decode(bytes(payload)), path) is MISSING else 1


def drisl_to_json(payload: bytes) -> str:
    """Decode a whole payload to JSON text — the scale path: decode once,
    then use JVM-side ``variant_get`` / ``get_json_object`` everywhere."""
    return json.dumps(
        decode(bytes(payload)), separators=(",", ":"), sort_keys=False, default=_json_default
    )


# ---------------------------------------------------------------------------
# Spark UDF registration (Arrow-batched pandas UDFs)
# ---------------------------------------------------------------------------


def register_udfs(spark) -> None:
    """Register drisl_* as Spark SQL functions.

    Typed variants exist because Spark is statically typed while the
    reference (SQLite) is dynamic: ``drisl_extract`` returns STRING (JSON-ish
    rendering of whatever was found — good for filters/display),
    ``drisl_extract_int`` / ``_real`` / ``_blob`` return narrowed types.
    All are pandas UDFs so the CBOR decode runs Arrow-batched per partition,
    not per-row through Py4J. (Bodies live in _drisl_udfs to keep real type
    hints for pandas_udf inference.)

    Memoized per SparkSession — make_udfs() cloudpickles every pandas UDF
    body, so re-running it per DmlExecutor construction (per statement /
    trigger fire) is repeated serialization for an idempotent result.
    """
    if getattr(spark, "_leaf_drisl_udfs_registered", False):
        return
    from ._drisl_udfs import make_udfs

    for name, udf in make_udfs().items():
        spark.udf.register(name, udf)
    spark._leaf_drisl_udfs_registered = True


# ---------------------------------------------------------------------------
# DASL CID strings
# ---------------------------------------------------------------------------

_B32_ALPHABET = "abcdefghijklmnopqrstuvwxyz234567"


def _base32_lower(data: bytes) -> str:
    """RFC 4648 base32, lowercase, unpadded (the multibase 'b' encoding)."""
    import base64

    return base64.b32encode(data).decode().lower().rstrip("=")


def cid_of(data: bytes) -> str:
    """DASL CID string for a DRISL document: CIDv1, codec 0x71 (dag-cbor /
    drisl), sha2-256 multihash, multibase base32-lower — the exact format
    ``Cid::digest_sha2(Drisl, &data)`` produces
    (leaf-server/src/storage.rs:460), so content-identical modules get
    byte-identical ids across both implementations."""
    import hashlib

    digest = hashlib.sha256(data).digest()
    raw = bytes([0x01, 0x71, 0x12, 0x20]) + digest
    return "b" + _base32_lower(raw)
