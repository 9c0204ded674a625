"""DRISL codec + path-extraction vectors, ported verbatim from the
reference's only substantive unit suite
(leaf-stream/src/drisl_extract.rs:87-244; FIXTURES.md F3)."""

import itertools
import math
import random
import struct

import pytest

from leaf_spark.drisl import (
    MISSING,
    CidLink,
    decode,
    drisl_exists,
    drisl_extract,
    encode,
    extract_value,
    parse_path,
    to_sql_value,
)

DOC_A = {
    "name": "John",
    "name.with.special#?chars": "Jane",
    "age": 32,
    "result": {"Ok": 7},
}


def ev(doc, path):
    return extract_value(doc, path)


class TestReferenceVectors:
    """drisl_extract.rs:96-243 — the de-facto path-language spec."""

    def test_a_simple_field(self):
        assert ev(DOC_A, ".name") == "John"

    def test_a2_quoted_field_with_dots(self):
        assert ev(DOC_A, '."name.with.special#?chars"') == "Jane"

    def test_a3_int_field(self):
        assert ev(DOC_A, ".age") == 32

    def test_a4_nested_ok(self):
        assert ev(DOC_A, ".result.Ok") == 7

    def test_a5_missing_is_distinct_from_null(self):
        assert ev(DOC_A, ".result.Err") is MISSING

    def test_b_present_but_null(self):
        assert ev({"result": {"Ok": None}}, ".result.Ok") is None

    def test_c_err_variant(self):
        assert ev({"result": {"Err": "error"}}, ".result.Err") == "error"

    def test_d_discriminant_on_bare_text(self):
        doc = {"name": "test", "e": "Hello", "items": [1, 2, 3]}
        assert ev(doc, ".e") == "Hello"
        assert ev(doc, ".e.?discriminant") == "Hello"

    def test_e_discriminant_on_single_key_map(self):
        doc = {"e": {"N": 77}, "items": [4, 5, 6]}
        assert ev(doc, ".e.?discriminant") == "N"
        assert ev(doc, ".e.N") == 77

    def test_f_variant_access_and_array_index(self):
        doc = {"e": {"World": "mary"}, "items": [7, 8, 9]}
        assert ev(doc, ".e.World") == "mary"
        assert ev(doc, ".e.N") is MISSING
        assert ev(doc, ".items.1") == 8

    def test_g_quoted_nested(self):
        doc = {"inner.value": {"sub.value": "data"}}
        assert ev(doc, '."inner.value"."sub.value"') == "data"


class TestTerminalConversion:
    """drisl_extract.rs:17-30: bool→int, CID→blob, map/array→JSON text."""

    def test_bool_to_int(self):
        assert to_sql_value(True) == 1
        assert to_sql_value(False) == 0

    def test_cid_to_blob(self):
        assert to_sql_value(CidLink(b"\x01\x02")) == b"\x01\x02"

    def test_container_to_json_text(self):
        assert to_sql_value([1, 2]) == "[1,2]"
        assert to_sql_value({"a": 1}) == '{"a":1}'

    def test_passthrough(self):
        assert to_sql_value(5) == 5
        assert to_sql_value(2.5) == 2.5
        assert to_sql_value("x") == "x"
        assert to_sql_value(b"\xff") == b"\xff"
        assert to_sql_value(None) is None


class TestCodec:
    @pytest.mark.parametrize(
        "v",
        [
            None,
            True,
            False,
            0,
            23,
            24,
            255,
            256,
            65536,
            2**32,
            -1,
            -25,
            1.5,
            -0.25,
            "",
            "héllo",
            b"",
            b"\x00\xff",
            [1, [2, 3], "x"],
            {"b": 1, "a": [None, True]},
            CidLink(b"\x12 abc"),
        ],
    )
    def test_roundtrip(self, v):
        assert decode(encode(v)) == v

    def test_deterministic_map_order(self):
        assert encode({"b": 1, "a": 2}) == encode({"a": 2, "b": 1})

    def test_shortest_int_heads(self):
        assert encode(23) == b"\x17"
        assert encode(24) == b"\x18\x18"
        assert encode(0) == b"\x00"

    def test_nan_rejected(self):
        with pytest.raises(ValueError):
            encode(math.nan)

    def test_indefinite_rejected(self):
        with pytest.raises(ValueError):
            decode(b"\x9f\x01\xff")  # indefinite array


def _ref_encode(v) -> bytes:
    """Plain DRISL encoder: every map's keys encoded and sorted on every
    call — the reference the memoized ``encode`` must match byte for
    byte."""

    def head(major: int, arg: int) -> bytes:
        if arg < 24:
            return bytes([(major << 5) | arg])
        for info, width in ((24, 1), (25, 2), (26, 4), (27, 8)):
            if arg < 1 << (8 * width):
                return bytes([(major << 5) | info]) + arg.to_bytes(width, "big")
        raise OverflowError(arg)

    if v is None:
        return b"\xf6"
    if v is True:
        return b"\xf5"
    if v is False:
        return b"\xf4"
    if isinstance(v, int):
        return head(0, v) if v >= 0 else head(1, -1 - v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            raise ValueError("NaN/Infinity")
        return b"\xfb" + struct.pack(">d", v)
    if isinstance(v, bytes):
        return head(2, len(v)) + v
    if isinstance(v, str):
        b = v.encode("utf-8")
        return head(3, len(b)) + b
    if isinstance(v, (list, tuple)):
        return head(4, len(v)) + b"".join(_ref_encode(x) for x in v)
    if isinstance(v, dict):
        if not all(isinstance(k, str) for k in v):
            raise TypeError("non-text key")
        items = sorted((_ref_encode(k), _ref_encode(x)) for k, x in v.items())
        return head(5, len(items)) + b"".join(k + x for k, x in items)
    if isinstance(v, CidLink):
        return head(6, 42) + _ref_encode(b"\x00" + v.bytes)
    raise TypeError(type(v))


class TestMemoizedEncoder:
    """``encode`` memoizes each key tuple's map order; its output must
    stay the plain encoder's, byte for byte, on first and repeat use."""

    KEYS = ["b", "a", "aa", "B", "é", "日本", "\U0001f600", "k" * 23,
            "k" * 24, "k" * 255, "k" * 256, ""]
    SCALARS = [0, 23, 24, 255, 256, 65535, 65536, 2**32 - 1, 2**32,
               2**64 - 1, -1, -24, -25, -256, -257, -(2**64), 0.0, -0.0,
               1.5, -1e300, "", "x" * 24, b"", b"\x00\xff" * 20,
               CidLink(b"\x01q\x12 "), True, False, None]

    def _same(self, v):
        want = _ref_encode(v)
        assert encode(v) == want  # fills the memo
        assert encode(v) == want  # served from it

    def test_key_insertion_orders(self):
        keys = ["b", "a", "aa", "é", "k" * 24]
        for perm in itertools.permutations(keys):
            self._same({k: i for i, k in enumerate(perm)})
        encs = {encode(dict.fromkeys(p, 1)) for p in itertools.permutations(keys)}
        assert len(encs) == 1

    def test_keys_and_scalars(self):
        for k in self.KEYS:
            for v in self.SCALARS:
                self._same({k: v, "z": [v, {k: v}]})
        self._same(dict.fromkeys(self.KEYS, 7))

    def test_large_map_is_not_memoized_but_identical(self):
        self._same({f"key{i}": i for i in range(500)})

    def test_random_documents(self):
        rng = random.Random(7)

        def doc(depth):
            r = rng.random()
            if depth > 3 or r < 0.5:
                return rng.choice(self.SCALARS)
            if r < 0.7:
                return [doc(depth + 1) for _ in range(rng.randrange(4))]
            keys = rng.sample(self.KEYS, rng.randrange(len(self.KEYS)))
            return {k: doc(depth + 1) for k in keys}

        for _ in range(300):
            self._same(doc(0))

    def test_concurrent_encoders_agree(self):
        """Server threads share the memo: with more threads than cores,
        a tiny switch interval and more key tuples than the memo holds
        (so entries are evicted while others read them), every encoding
        stays the plain encoder's."""
        import sys
        import threading

        docs = [{f"k{i}": i, f"j{i % 7}": [i], "x": None} for i in range(3000)]
        want = [_ref_encode(d) for d in docs]
        bad = []

        def work(offset):
            for n in range(len(docs)):
                i = (n * 7 + offset) % len(docs)
                if encode(docs[i]) != want[i]:
                    bad.append(i)

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(t * 389,)) for t in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert bad == []

    @pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
    def test_non_finite_float_raises(self, bad):
        encode({"a": 1.0})
        with pytest.raises(ValueError):
            encode({"a": bad})
        with pytest.raises(ValueError):
            encode([{"a": [bad]}])

    def test_non_text_key_raises(self):
        encode({"1": 1})
        for bad in ({1: "a"}, {"a": 1, 2: "b"}, {b"a": 1}, {None: 1}):
            for _ in range(2):  # a failed key tuple is never memoized
                with pytest.raises(TypeError):
                    encode(bad)
                with pytest.raises(TypeError):
                    encode({"ok": bad})


class TestSqlSurface:
    def test_extract_missing_is_null(self):
        blob = encode(DOC_A)
        assert drisl_extract(blob, ".result.Err") is None
        assert drisl_exists(blob, ".result.Err") == 0
        assert drisl_exists(blob, ".result.Ok") == 1

    def test_bad_path(self):
        with pytest.raises(ValueError):
            parse_path("name")  # must start with '.'
