"""Encoder unit tests: encode→decode bit-identity on adversarial columns
(FIXTURES.md F3). The reference's truncation bug class (long→int32 at
reference src/Writer.java:99, double→float at :102) is the explicit
non-regression target: full int64/float64 domains must round-trip."""

import numpy as np
import pyarrow as pa
import pytest

from json_to_parquet_spark.functions.codecs import (
    CODECS,
    decode_column,
    encode_column,
    meta_from_json,
    meta_to_json,
)
from json_to_parquet_spark.functions.codecs import fsst
from json_to_parquet_spark.functions.codecs.bitutil import bitpack, bitunpack
from json_to_parquet_spark.functions.codecs.intcodec import (
    for_decode,
    for_encode,
    rle_decode,
    rle_encode,
)

rng = np.random.default_rng(42)


def roundtrip(arr: pa.Array, codec: str) -> tuple[pa.Array, dict]:
    payload, meta = encode_column(arr, codec)
    meta = meta_from_json(meta_to_json(meta))  # exercise json serde
    out = decode_column(payload, meta)
    return out, meta


def assert_identical(a: pa.Array, b: pa.Array):
    assert a.type == b.type, (a.type, b.type)
    assert len(a) == len(b)
    if pa.types.is_floating(a.type):
        # bit-pattern identity (pa equals treats NaN != NaN)
        width = np.uint32 if pa.types.is_float32(a.type) else np.uint64
        av = a.to_numpy(zero_copy_only=False).view(width)
        bv = b.to_numpy(zero_copy_only=False).view(width)
        assert a.null_count == b.null_count
        mask = a.is_valid().to_numpy(zero_copy_only=False)
        assert np.array_equal(a.is_valid(), b.is_valid())
        assert np.array_equal(av[mask], bv[mask])
        return
    assert a.equals(b), f"mismatch:\n{a.slice(0, 10)}\nvs\n{b.slice(0, 10)}"


# --- kernel-level -------------------------------------------------------------

@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 31, 33, 63, 64])
def test_bitpack_roundtrip(width):
    n = 1000
    vals = rng.integers(0, 2 ** min(width, 63), size=n, dtype=np.uint64) if width else np.zeros(n, np.uint64)
    assert np.array_equal(bitunpack(bitpack(vals, width), width, n), vals)


@pytest.mark.parametrize("vals", [
    np.array([], dtype=np.int64),
    np.array([0], dtype=np.int64),
    np.array([7] * 100, dtype=np.int64),
    np.array([-(2**63), 2**63 - 1, 0, -1, 1], dtype=np.int64),  # full-domain (ref bug class)
    rng.integers(-(2**62), 2**62, 10_000),
    np.arange(10_000, dtype=np.int64) + 10**9,
])
def test_for_rle_kernels(vals):
    for enc, dec in ((for_encode, for_decode), (rle_encode, rle_decode)):
        sec, meta = enc(vals)
        assert np.array_equal(dec(sec, meta), vals)


def test_fsst_blob_roundtrip():
    text = ("the quick brown fox jumps over the lazy dog. " * 500).encode()
    enc = fsst.encode(text)
    assert enc is not None
    blob, symbols, codes = enc
    assert len(blob) < len(text) * 0.6
    assert fsst.decode(blob, symbols, codes) == text


def test_fsst_levels_built_once_per_table():
    """Chunks that share one symbol table (the plan's) derive its decode
    levels once per process, not once per chunk."""
    _, symbols, codes = fsst.encode(b"the quick brown fox. " * 300)
    texts = (b"brown the quick fox. " * 200, b"fox. the brown quick " * 250)
    chunks = [fsst.apply_tables(t, symbols, codes) for t in texts]
    fsst._symbol_levels.cache_clear()
    for enc, text in zip(chunks, texts):
        assert fsst.decode(enc, list(symbols), list(codes)) == text
    info = fsst._symbol_levels.cache_info()
    assert (info.misses, info.hits) == (1, 1)


def test_fsst_inapplicable_on_full_alphabet():
    data = bytes(range(256)) * 64
    assert fsst.encode(data) is None


def test_fsst_foreign_long_symbol_table():
    """A foreign/stored table may hold symbols LONGER than the 8-byte
    match window. The vectorized matcher would match only the first 8
    bytes yet replace len(s) bytes — silent corruption — so such tables
    must route to the exact ordered-replace path, and still round-trip."""
    text = (b"abcdefghijklmno:" + b"the quick brown fox! ") * 400
    symbols = [b"abcdefghijklmno:", b"quick "]  # 16-byte symbol
    codes = [0, 1]  # absent from the data
    enc = fsst.apply_tables(text, symbols, codes)
    assert enc is not None and len(enc) < len(text)
    # first symbol must be FULLY consumed (prefix-only matching would
    # leave the 'ijklmno:' tail behind)
    assert b"ijklmno:" not in enc
    assert fsst.decode(enc, symbols, codes) == text


# --- column-level adversarial fixtures (F3) ------------------------------------

def _unicode_strings():
    base = ["", "héllo wörld", "漢字テキスト", "🎉🎊" * 3, "á combining",
            "tab\tnewline\n", "the the the", None, "  spaces  "]
    return pa.array(base * 111, type=pa.string())


F3_COLUMNS = {
    "all_null": pa.array([None] * 100, type=pa.string()),
    "constant": pa.array([42] * 1000, type=pa.int64()),
    "runs": pa.array(np.repeat(rng.integers(0, 20, 40), 50)),
    "low_card_str": pa.array([f"v{i % 8}" for i in range(1000)]),
    "high_card_str": pa.array([f"unique-{i:08d}-{i * 2654435761 % 2**32:x}" for i in range(1000)]),
    "narrow_range": pa.array(rng.integers(10**9, 10**9 + 256, 5000)),
    "wide_range": pa.array(np.array([-(2**63), 2**63 - 1, 0, -1, 2**31, -(2**31) - 1] * 100)),
    "skewed_text": pa.array((["the common substring appears here"] * 5
                             + ["rare unique %d" % i for i in range(3)]) * 50),
    "unicode": _unicode_strings(),
    "raw_bytes": pa.array([bytes(rng.integers(0, 256, 50, dtype=np.uint8).tolist()) for _ in range(200)] + [None],
                          type=pa.binary()),
    "with_nulls_int": pa.array([1, None, 3, None, 5] * 200, type=pa.int64()),
    "int32_col": pa.array(rng.integers(-(2**31), 2**31, 1000, dtype=np.int32), type=pa.int32()),
    "bool_col": pa.array(([True] * 7 + [False] * 3 + [None]) * 100),
    "float_col": pa.array(np.concatenate([rng.normal(size=500),
                                          [np.nan, np.inf, -np.inf, -0.0, 0.0]])),
    "float32_col": pa.array(rng.normal(size=500).astype(np.float32), type=pa.float32()),
    "ts_col": pa.array(rng.integers(1_500_000_000, 1_700_000_000, 500) * 1_000_000,
                       type=pa.timestamp("us")),
    "ts_tz_col": pa.array(rng.integers(0, 10**15, 500), type=pa.timestamp("us", tz="UTC")),
}


@pytest.mark.parametrize("codec", CODECS)
@pytest.mark.parametrize("name", sorted(F3_COLUMNS))
def test_column_roundtrip(name, codec):
    arr = F3_COLUMNS[name]
    out, meta = roundtrip(arr, codec)
    assert_identical(out, arr)
    assert meta["n_rows"] == len(arr)


def test_compression_actually_compresses():
    """Size sanity: the right codec beats plain on its target shape."""
    def size(arr, codec):
        payload, meta = encode_column(arr, codec)
        return len(payload) + len(meta_to_json(meta))

    runs = F3_COLUMNS["runs"]
    assert size(runs, "rle") < size(runs, "plain") * 0.2
    low = F3_COLUMNS["low_card_str"]
    assert size(low, "dict") < size(low, "plain") * 0.5
    narrow = F3_COLUMNS["narrow_range"]
    assert size(narrow, "for") < size(narrow, "plain") * 0.25
    skew = F3_COLUMNS["skewed_text"]
    assert size(skew, "fsst") < size(skew, "plain") * 0.7


def test_fsst_fallback_recorded_in_meta():
    _, meta = encode_column(F3_COLUMNS["raw_bytes"], "fsst")
    assert meta["codec"] == "plain"  # full-alphabet binary → no free codes


def test_decode_deflate_post_layer():
    """Chunks written by older engine versions may wrap the encoded
    payload in a deflate layer (meta "post"); decode still reads them."""
    import zlib
    arr = pa.array(["a", None, "bb", "a", "ccc"] * 40)
    payload, meta = encode_column(arr, "dict")
    meta = meta_from_json(meta_to_json(dict(meta, post="deflate")))
    out = decode_column(zlib.compress(payload, 6), meta)
    assert out.equals(arr)
