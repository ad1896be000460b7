"""Per-column-chunk encode/decode: the engine's core codec layer.

encode_column(arr, codec) → (payload bytes, json-able meta)
decode_column(payload, meta) → pyarrow.Array (bit-identical to input)

Lanes (physical representation of non-null values):
  i64   int8/16/32/64, timestamp[*], date32 — widened to int64, exact
  f32/f64  floats kept as raw bit patterns (NaN payloads round-trip)
  bool  uint8
  bytes (offsets, data) for string/large_string/binary/large_binary

Nulls are stripped before encoding and recorded in a packed validity
bitmap; decode scatters values back with pyarrow take. This mirrors
Parquet definition levels — the capability the reference delegates to
parquet-mr (reference src/Writer.java:25-26) — but implemented natively.

The reference's lossy narrowing bugs (long→int32 truncation at
src/Writer.java:99, double→float at :102) are deliberately NOT
reproduced: every type round-trips bit-identically (north-rule gate).
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import fsst
from .bitutil import pack_sections, pack_validity, unpack_sections, unpack_validity
from .intcodec import (delta_decode, for_decode, for_encode, rle_decode,
                       rle_encode)

CODECS = ("plain", "for", "delta", "rle", "dict", "fsst")

_SIMPLE_TYPES = {
    "int8": pa.int8(),
    "int16": pa.int16(),
    "int32": pa.int32(),
    "int64": pa.int64(),
    "date32[day]": pa.date32(),
    "float": pa.float32(),
    "float32": pa.float32(),
    "double": pa.float64(),
    "float64": pa.float64(),
    "bool": pa.bool_(),
    "string": pa.string(),
    "large_string": pa.large_string(),
    "binary": pa.binary(),
    "large_binary": pa.large_binary(),
}

_INT_WIDTHS = {"int8": np.int8, "int16": np.int16, "int32": np.int32,
               "int64": np.int64, "date32[day]": np.int32}


def type_from_str(s: str) -> pa.DataType:
    if s in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[s]
    if s.startswith("timestamp["):
        inner = s[len("timestamp[") : -1]
        if ", tz=" in inner:
            unit, tz = inner.split(", tz=")
            return pa.timestamp(unit, tz=tz)
        return pa.timestamp(inner)
    raise ValueError(f"unsupported column type {s!r}")


def _lane_of(t: pa.DataType) -> str:
    if pa.types.is_integer(t) or pa.types.is_timestamp(t) or pa.types.is_date32(t):
        return "i64"
    if pa.types.is_float32(t):
        return "f32"
    if pa.types.is_float64(t):
        return "f64"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    raise ValueError(f"unsupported column type {t}")


# --- lane extraction (vectorized, zero per-row Python) -----------------------


def _as_array(arr) -> pa.Array:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr


def _int_lane(values: pa.Array) -> np.ndarray:
    t = values.type
    if pa.types.is_timestamp(t):
        values = values.cast(pa.int64())
    elif pa.types.is_date32(t):
        values = values.cast(pa.int32()).cast(pa.int64())
    elif not pa.types.is_int64(t):
        values = values.cast(pa.int64())
    return values.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _bytes_lane(values: pa.Array) -> tuple[np.ndarray, bytes]:
    """→ (lengths int64 array, concatenated data bytes)."""
    v = _as_array(values).cast(pa.large_binary())
    if isinstance(v, pa.ChunkedArray):
        v = v.combine_chunks()
    n = len(v)
    bufs = v.buffers()  # [validity, offsets(int64), data]
    offsets = np.frombuffer(bufs[1], dtype=np.int64, count=n + 1, offset=v.offset * 8)
    data = bytes(memoryview(bufs[2])[offsets[0] : offsets[-1]]) if bufs[2] is not None else b""
    lengths = np.diff(offsets).astype(np.int64)
    return lengths, data


def _bytes_from_lane(lengths: np.ndarray, data: bytes, target: pa.DataType) -> pa.Array:
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    arr = pa.Array.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
    )
    return arr.cast(target)


def _float_view(values: pa.Array) -> tuple[np.ndarray, str]:
    np_vals = values.to_numpy(zero_copy_only=False)
    if np_vals.dtype == np.float32:
        return np_vals.view(np.uint32).astype(np.uint64).view(np.int64), "f32"
    return np_vals.view(np.int64), "f64"


def _float_from_i64(ints: np.ndarray, lane: str) -> np.ndarray:
    if lane == "f32":
        return ints.view(np.uint64).astype(np.uint32).view(np.float32)
    return ints.view(np.float64)


# --- per-lane codec dispatch --------------------------------------------------


def _encode_values(values: pa.Array, codec: str, lane: str,
                   params: dict | None = None):
    """→ (sections, codec_meta, actual_codec). Handles codec fallbacks."""
    if lane == "bytes":
        return _encode_bytes(values, codec, params)
    if lane in ("f32", "f64"):
        if codec in ("rle", "dict"):
            ints, _ = _float_view(values)
            if codec == "rle":
                sec, m = rle_encode(ints)
                return sec, m, "rle"
            return _encode_dict(values, lane)
        np_vals = values.to_numpy(zero_copy_only=False)
        return {"d": np_vals.tobytes()}, {"n": len(np_vals)}, "plain"
    if lane == "bool":
        np_vals = values.to_numpy(zero_copy_only=False).astype(np.uint8)
        if codec == "rle":
            sec, m = rle_encode(np_vals.astype(np.int64))
            return sec, m, "rle"
        return {"d": np.packbits(np_vals).tobytes()}, {"n": len(np_vals)}, "plain"
    # i64 lane
    ints = _int_lane(values)
    if codec == "rle":
        sec, m = rle_encode(ints)
        return sec, m, "rle"
    if codec in ("for", "fsst", "delta"):  # fsst on ints degrades to FOR
        return _encode_ints_narrowest(ints)
    if codec == "dict":
        return _encode_dict(values, lane)
    # plain: raw little-endian at the column's native width
    dtype = _INT_WIDTHS.get(str(values.type), np.int64)
    return {"d": ints.astype(dtype).tobytes()}, {"n": len(ints)}, "plain"


def _fsst_apply(data: bytes, symbols: list[bytes], codes: list[int]):
    """Apply a shared (pass-1) symbol table to this chunk's blob with the
    single-pass matcher.

    Returns the compressed blob, or None if any code byte occurs in the
    blob (the global free-code estimate came from a sample — collisions
    are possible and must fall back to a chunk-local table)."""
    if not data:
        return None
    counts = np.bincount(np.frombuffer(data, dtype=np.uint8), minlength=256)
    if any(counts[c] for c in codes):
        return None
    return fsst.apply_tables(data, symbols, codes)


def _encode_bytes(values: pa.Array, codec: str, params: dict | None = None):
    lengths, data = _bytes_lane(values)
    lsec, lmeta = for_encode(lengths)
    base_sections = {"l." + k: v for k, v in lsec.items()}
    if codec == "fsst":
        enc = None
        if params and params.get("symbols"):
            shared = _fsst_apply(data, params["symbols"], params["codes"])
            if shared is not None:
                enc = (shared, params["symbols"], params["codes"])
        if enc is None:
            enc = fsst.encode(data)  # chunk-local table (fallback path)
        if enc is not None:
            blob, symbols, codes = enc
            sym_lens = np.array([len(s) for s in symbols], dtype=np.int64)
            sections = dict(base_sections)
            sections["d"] = blob
            sections["sym"] = b"".join(symbols)
            sections["symlen"] = sym_lens.astype(np.uint8).tobytes()
            sections["codes"] = bytes(codes)
            return sections, {"n": int(len(lengths)), "lens": lmeta,
                              "nsym": len(symbols)}, "fsst"
        codec = "plain"  # no gain / no free codes → fall back
    if codec in ("dict", "rle"):
        return _encode_dict(values, "bytes", rle_codes=(codec == "rle"))
    sections = dict(base_sections)
    sections["d"] = data
    return sections, {"n": int(len(lengths)), "lens": lmeta}, "plain"


def _encode_ints_narrowest(ints: np.ndarray):
    """FOR vs DELTA, whichever bit-packs narrower (delta wins on locally
    sorted data, which the chunk row permutation arranges — see
    operators/encode.py)."""
    from .bitutil import bit_width
    from .intcodec import delta_encode

    def packed_width(vals: np.ndarray) -> int:
        # same wraparound-safe math as for_encode: (v - min) mod 2^64
        rel = vals.view(np.uint64) - np.uint64(
            int(vals.min()) & 0xFFFFFFFFFFFFFFFF)
        return bit_width(int(rel.max()))

    if len(ints) >= 2:
        u = ints.view(np.uint64)
        deltas = (u[1:] - u[:-1]).view(np.int64)
        if packed_width(deltas) < packed_width(ints):
            sec, m = delta_encode(ints)
            return sec, m, "delta"
    sec, m = for_encode(ints)
    return sec, m, "for"


def _encode_dict(values: pa.Array, lane: str, rle_codes: bool = False):
    dict_arr = _as_array(values).dictionary_encode()
    if isinstance(dict_arr, pa.ChunkedArray):
        dict_arr = dict_arr.combine_chunks()
    codes = dict_arr.indices.cast(pa.int64()).to_numpy(zero_copy_only=False)
    dictionary = dict_arr.dictionary
    requested_rle = rle_codes
    if not rle_codes and len(codes) >= 16:
        # chunk rows are permuted by low-cardinality columns first
        # (operators/encode.py), so dict codes often form long runs —
        # RLE them when that wins (both candidates are O(n) on ints)
        from .intcodec import runs_of
        n_runs = len(runs_of(codes)[0])
        rle_codes = n_runs * 2 < len(codes) // 4
    if rle_codes:
        csec, cmeta = rle_encode(codes)
    else:
        csec, cmeta = for_encode(codes)
    dpayload, dmeta = encode_column(dictionary, "plain")
    sections = {"c." + k: v for k, v in csec.items()}
    sections["dict"] = dpayload
    name = "rle" if requested_rle else "dict"
    return sections, {"n": int(len(codes)), "codes": cmeta, "dict": dmeta,
                      "codes_rle": rle_codes}, name


def _decode_values(sections, meta: dict, codec: str, target: pa.DataType,
                   lane: str) -> pa.Array:
    if codec in ("dict", "rle") and (lane == "bytes" or "dict" in meta):
        csec = {k[2:]: v for k, v in sections.items() if k.startswith("c.")}
        if meta.get("codes_rle"):
            codes = rle_decode(csec, meta["codes"])
        else:
            codes = for_decode(csec, meta["codes"])
        dictionary = decode_column(sections["dict"], meta["dict"])
        return pc.take(dictionary, pa.array(codes, type=pa.int64()))
    if lane == "bytes":
        lsec = {k[2:]: v for k, v in sections.items() if k.startswith("l.")}
        lengths = for_decode(lsec, meta["lens"])
        data = sections.get("d", b"")
        if codec == "fsst":
            nsym = meta["nsym"]
            sym_lens = np.frombuffer(sections["symlen"], dtype=np.uint8, count=nsym)
            blob = sections["sym"]
            sym_offs = np.zeros(nsym + 1, dtype=np.int64)
            np.cumsum(sym_lens, out=sym_offs[1:])
            symbols = [blob[sym_offs[i]:sym_offs[i + 1]] for i in range(nsym)]
            data = fsst.decode(data, symbols, list(sections["codes"]))
        return _bytes_from_lane(lengths, data, target)
    if lane in ("f32", "f64"):
        if codec == "rle":
            ints = rle_decode(sections, meta)
            return pa.array(_float_from_i64(ints, lane))
        np_dtype = np.float32 if lane == "f32" else np.float64
        return pa.array(np.frombuffer(sections.get("d", b""), dtype=np_dtype,
                                      count=meta["n"]))
    if lane == "bool":
        if codec == "rle":
            ints = rle_decode(sections, meta)
            return pa.array(ints.astype(bool))
        n = meta["n"]
        bits = np.unpackbits(np.frombuffer(sections.get("d", b""), np.uint8),
                             count=n).astype(bool)
        return pa.array(bits)
    # i64 lane
    if codec == "rle":
        ints = rle_decode(sections, meta)
    elif codec == "for":
        ints = for_decode(sections, meta)
    elif codec == "delta":
        ints = delta_decode(sections, meta)
    else:  # plain
        dtype = _INT_WIDTHS.get(str(target), np.int64)
        ints = np.frombuffer(sections.get("d", b""), dtype=dtype,
                             count=meta["n"]).astype(np.int64)
    return _cast_ints(ints, target)


def _cast_ints(ints: np.ndarray, target: pa.DataType) -> pa.Array:
    arr = pa.array(ints, type=pa.int64())
    if pa.types.is_timestamp(target):
        return arr.cast(target)
    if pa.types.is_date32(target):
        return arr.cast(pa.int32()).cast(target)
    if not pa.types.is_int64(target):
        return arr.cast(target)
    return arr


# --- public API ---------------------------------------------------------------


def encode_column(arr, codec, params: dict | None = None) -> tuple[bytes, dict]:
    """Encode one column chunk. Returns (payload, meta); meta records the
    codec actually used (fallbacks may downgrade, e.g. fsst→plain).

    `codec` may be a name or a codec-plan dict {"codec": name, ...shared
    state} (e.g. a pass-1 FSST symbol table shared across chunks)."""
    if isinstance(codec, dict):
        params = codec
        codec = codec["codec"]
    arr = _as_array(arr)
    n = len(arr)
    null_count = arr.null_count
    dtype_str = str(arr.type)
    lane = _lane_of(arr.type)
    meta: dict = {"v": 1, "dtype": dtype_str, "lane": lane,
                  "n_rows": n, "null_count": int(null_count)}
    sections: dict[str, bytes] = {}
    if null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        sections["valid"] = pack_validity(valid)
        values = arr.drop_null()
    else:
        values = arr
    if n - null_count == 0:
        meta["codec"] = "plain"
        meta["values"] = {"n": 0}
        return pack_sections(sections), meta
    vsec, vmeta, actual = _encode_values(values, codec, lane, params)
    sections.update(vsec)
    meta["codec"] = actual
    meta["values"] = vmeta
    return pack_sections(sections), meta


def decode_column(payload: bytes, meta: dict) -> pa.Array:
    # chunks written by older engine versions may carry a deflate layer
    # over the lightweight encoding (meta "post")
    if meta.get("post") == "deflate":
        import zlib
        payload = zlib.decompress(payload)
    sections = unpack_sections(payload)
    target = type_from_str(meta["dtype"])
    n = meta["n_rows"]
    null_count = meta["null_count"]
    n_values = n - null_count
    if n_values == 0:
        return pa.nulls(n, type=target)
    values = _decode_values(sections, meta["values"], meta["codec"], target,
                            meta["lane"])
    if not null_count:
        return values
    valid = unpack_validity(sections["valid"], n)
    positions = np.cumsum(valid) - 1
    idx = pa.array(positions.astype(np.int64), mask=~valid)
    return pc.take(values, idx)


def meta_to_json(meta: dict) -> str:
    return json.dumps(meta, separators=(",", ":"), sort_keys=True)


def meta_from_json(s: str) -> dict:
    return json.loads(s)
