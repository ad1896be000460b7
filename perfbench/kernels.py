"""Kernel lane: the codec kernels alone, single-threaded, on one
chunk-sized Arrow table cut from the workload's input, so kernel speed
reads apart from the Spark envelope around it."""

from __future__ import annotations

import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc

from json_to_parquet_spark.functions.codecs.column import (decode_column,
                                                           encode_column)
from json_to_parquet_spark.operators.encode import arrow_schema_for

MIN_SECONDS = 0.15  # timed work per column and direction
MIN_REPS = 3


def _plan_entry(entry: dict) -> dict:
    """A codec-plan entry as table_meta.json stores it → encode_column's
    form (shared FSST tables as bytes)."""
    out = dict(entry)
    if "symbols" in out:
        out["symbols"] = [bytes.fromhex(s) for s in out["symbols"]]
    return out


def _timed(fn) -> float:
    fn()  # warm-up
    times = []
    while len(times) < MIN_REPS or sum(times) < MIN_SECONDS:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_lane(src, meta: dict, seed: int) -> dict[str, dict]:
    """Encode and decode every column of one chunk with the store's codec
    plan. Returns codec actually used → {raw_bytes, encode_s, decode_s},
    summed over the columns that used it."""
    frac = 1.0 / meta["n_chunks"]
    table = src.sample(fraction=frac, seed=seed).toArrow()
    schema = arrow_schema_for(src.schema)
    table = pa.table({f.name: table.column(f.name).combine_chunks()
                      .cast(f.type) for f in schema})
    # the engine permutes chunk rows by the store's sort order
    order = pc.sort_indices(table, sort_keys=[
        (c, "ascending") for c in meta["sort_order"]], null_placement="at_end")
    table = table.take(order)
    out: dict[str, dict] = {}
    for name, entry in meta["codec_plan"].items():
        arr = table.column(name).combine_chunks()
        plan = _plan_entry(entry)
        payload, cmeta = encode_column(arr, plan)
        enc_s = _timed(lambda: encode_column(arr, plan))
        dec_s = _timed(lambda: decode_column(payload, cmeta))
        acc = out.setdefault(cmeta["codec"],
                             {"raw_bytes": 0, "encode_s": 0.0, "decode_s": 0.0})
        acc["raw_bytes"] += sum(b.size for b in arr.buffers() if b is not None)
        acc["encode_s"] += enc_s
        acc["decode_s"] += dec_s
    return out
