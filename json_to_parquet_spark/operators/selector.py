"""Codec auto-selection: per-column stats → codec decision (SURVEY §2C).

Pure driver-side function over the (tiny) collected stats dict; the
decision manifest is broadcast into the encode stage implicitly via the
applyInArrow closure (a dict of a few strings — not task-sized state).

Decision rules (heuristics mirroring the classic lightweight-compression
selection literature — dictionary/RLE/FOR/FSST — tuned on the synthetic
web table and validated by the size gate in tests):

  any lane : avg_run >= 3              → RLE (long runs dominate)
  int/ts   : distinct small vs rows    → DICT
             else                      → FOR+bitpack (never loses to plain
                                          by more than the 2-int header)
  float    : distinct <= rows/8        → DICT, else PLAIN (raw bits)
  bool     : RLE vs PLAIN by runs
  str/bin  : distinct <= rows/4        → DICT (payload dedup, codes packed)
             byte histogram skewed / free code bytes exist → FSST
             else                      → PLAIN
Encoders themselves downgrade when the chosen codec yields no gain
(fsst→plain fallback etc.), so a wrong pick costs time, not correctness.
"""

from __future__ import annotations

from pyspark.sql import types as T

_BYTES_TYPES = (T.StringType, T.BinaryType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)


def choose_codec(stats: dict, dtype: T.DataType) -> str:
    rows = max(1, stats.get("non_null") or stats.get("rows") or 1)
    distinct = stats.get("distinct") or rows
    avg_run = stats.get("avg_run") or 1.0

    if avg_run >= 3.0:
        return "rle"
    if isinstance(dtype, T.BooleanType):
        return "plain"
    if isinstance(dtype, _BYTES_TYPES):
        if distinct <= rows / 4 and distinct <= 1 << 20:
            return "dict"
        distinct_bytes = stats.get("distinct_bytes", 256)
        top_frac = stats.get("top_byte_frac", 0.0)
        if distinct_bytes <= 252 - 4 and (top_frac >= 0.02 or distinct_bytes <= 128):
            return "fsst"
        return "plain"
    if isinstance(dtype, _FLOAT_TYPES):
        return "dict" if distinct <= rows / 8 else "plain"
    # integer / timestamp / date lane
    if distinct <= rows / 8 and distinct <= 1 << 16:
        return "dict"
    return "for"


def choose_codecs(stats_by_col: dict[str, dict],
                  schema: T.StructType) -> dict[str, str]:
    dtypes = {f.name: f.dataType for f in schema.fields}
    return {c: choose_codec(s, dtypes[c]) for c, s in stats_by_col.items()
            if c in dtypes}


_SORTABLE_NUM = (T.TimestampType, T.LongType, T.IntegerType, T.DateType,
                 T.ShortType, T.ByteType)


def choose_sort_order(stats_by_col: dict[str, dict], schema: T.StructType,
                      key: str) -> list[str]:
    """Chunk-local row permutation: low-cardinality columns (ascending
    distinct count) → integer/timestamp columns → key (unique tiebreak).
    Sorting chunk rows this way turns categorical columns into long runs
    (RLE) and makes numeric/timestamp columns locally sorted (DELTA),
    at zero correctness cost — any deterministic total order is valid."""
    cats: list[tuple[int, str]] = []
    nums: list[str] = []
    for f in schema.fields:
        if f.name == key:
            continue
        s = stats_by_col.get(f.name, {})
        d = s.get("distinct")
        if d is not None and d <= 4096 and \
                not isinstance(f.dataType, T.BinaryType):
            cats.append((int(d), f.name))
        elif isinstance(f.dataType, _SORTABLE_NUM):
            nums.append(f.name)
    return [c for _, c in sorted(cats)] + nums + [key]


def build_codec_plan(stats_by_col: dict[str, dict], schema: T.StructType,
                     codecs: dict[str, str] | None = None) -> dict[str, dict]:
    """Full codec-decision manifest: per column, the codec plus any shared
    encoder state. For FSST columns the symbol table is built ONCE here
    from the pass-1 sample blob (instead of once per chunk — the per-chunk
    build was the dominant fixed cost at high chunk counts) and shipped to
    executors inside the encode closure. Free code bytes come from the
    global sampled byte-usage bitmap; each chunk re-verifies them against
    its own bytes and falls back to a local table on (rare) collision.
    """
    import numpy as np

    from ..functions.codecs import fsst
    from .stats import longs_to_bitmask

    if codecs is None:
        codecs = choose_codecs(stats_by_col, schema)
    plan: dict[str, dict] = {}
    for c, codec in codecs.items():
        entry: dict = {"codec": codec}
        if codec == "fsst":
            s = stats_by_col.get(c, {})
            blob = s.get("sample_blob")
            words = s.get("byte_bitmap")
            if blob and words:
                used = longs_to_bitmask(words)
                free = [int(i) for i in np.flatnonzero(~used)]
                symbols, codes = fsst.build_tables(blob, free)
                if symbols:
                    entry["symbols"] = symbols
                    entry["codes"] = codes
        plan[c] = entry
    return plan
