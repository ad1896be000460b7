"""Pass-1 column statistics (SURVEY §2C row 1).

`collect_stats` reads the (sampled) input in ONE Spark job with no
shuffle and no pandas (up to `_DRIVER_PARTIALS` tasks; see below): a
`mapInArrow` over
`df.select(*cols, *[xxhash64(c) for c in cols])`. Each task folds its
Arrow batches with Arrow compute and numpy into one partial:

  - rows, non-null count, summed character length (string/binary);
  - typed min/max of the other columns;
  - value changes per Arrow batch, +1 per batch (the RLE signal);
  - the byte histogram of each batch's first 256 non-null values of
    string/binary columns (the FSST signal);
  - HyperLogLog registers (p=12) over the JVM's xxhash64 of each
    non-null value (the distinct estimate);
  - the task's first <=400 rows of each string/binary column, tagged
    with its partition id and cut after the row that crosses
    SAMPLE_BLOB_BYTES (the driver's sample blob for shared codec state).

Partials merge in any order (sums, register max, bitmap OR, min/max of
min/max), and row heads merge in partition order, cut as `limit(400)`
cuts rows; so the driver folds the packed partials one at a time, and
past `_DRIVER_PARTIALS` tasks a shuffle stage folds them to sqrt(tasks)
first. Min/max are rendered in the zone-map form `str(scalar.as_py())`.
Pass 1 reads a sample (`sample_fraction`): codec choice needs
distribution shape only.
"""

from __future__ import annotations

import math
import pickle
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BYTES_TYPES = (T.StringType, T.BinaryType)
# adjacent nulls count as a change in these columns and as one run
# elsewhere: pandas' NaN/NaT semantics, which the RLE signal was tuned with
_NULL_RUNS_BREAK = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                    T.FloatType, T.DoubleType, T.TimestampType,
                    T.TimestampNTZType)

_VALUES_PER_BATCH_SAMPLE = 256  # values whose bytes feed the byte histogram
SAMPLE_BLOB_VALUES = 400      # rows per bytes-column for the driver sample
SAMPLE_BLOB_BYTES = 256 << 10  # cap per column
# partials the driver folds itself; past this many tasks a shuffle stage
# (a second job) folds them to sqrt(tasks) first. A packed partial is
# 2-25 KB and folds in 0.3-2.5 ms (4-CPU VM, lineitem and web pages), so
# here the driver's serial fold costs about what that extra job does
_DRIVER_PARTIALS = 256
_HLL_P = 12                   # 4096 registers, ~1.6% standard error
_HLL_Q = 64 - _HLL_P


def longs_to_bitmask(words: list[int]) -> np.ndarray:
    """4 int64 words → 256-bool byte-usage mask (True = byte observed)."""
    arr = np.array(words, dtype=np.int64).view(np.uint8)
    return np.unpackbits(arr, bitorder="little").astype(bool)


def _value_bytes(arr: pa.Array) -> np.ndarray:
    """The concatenated bytes of a null-free string/binary array."""
    arr = arr.cast(pa.large_binary())
    if not len(arr) or arr.buffers()[2] is None:
        return np.empty(0, np.uint8)
    o = np.frombuffer(arr.buffers()[1], np.int64)[arr.offset:][:len(arr) + 1]
    return np.frombuffer(arr.buffers()[2], np.uint8)[o[0]:o[-1]]


def _changes(arr: pa.Array, null_runs_break: bool) -> int:
    """Value changes between adjacent rows, +1 (the batch's first run);
    nested values (no equality kernel) count every row as a run."""
    if len(arr) < 2 or pa.types.is_nested(arr.type):
        return len(arr)
    a, b = arr.slice(1), arr.slice(0, len(arr) - 1)
    ne = pc.not_equal(a, b)
    if arr.null_count:
        va, vb = a.is_valid(), b.is_valid()
        ne = pc.if_else(pc.and_(va, vb), ne,
                        pc.or_(pc.xor(va, vb), null_runs_break))
    return (pc.sum(ne).as_py() or 0) + 1


def _hll_update(reg: np.ndarray, hashes: np.ndarray) -> None:
    """Fold 64-bit hashes into HLL registers: the top P bits pick the
    register, the rank is 1 + leading zeros of the other Q bits."""
    h = hashes.view(np.uint64)
    low = (h & np.uint64((1 << _HLL_Q) - 1)).astype(np.float64)  # exact
    rank = (_HLL_Q + 1 - np.frexp(low)[1]).astype(np.uint8)
    np.maximum.at(reg, (h >> np.uint64(_HLL_Q)).astype(np.intp), rank)


def _hll_estimate(reg: np.ndarray) -> int:
    """Ertl's improved raw estimator ("New cardinality estimation
    algorithms for HyperLogLog sketches", 2017): no bias tables, accurate
    from 0 to far beyond 2^32 distinct values. Its tau term, for
    registers at rank Q+1 (probability 2^-Q per value), is replaced by
    one more halving step."""
    m = reg.size
    c = np.bincount(reg, minlength=_HLL_Q + 2)
    if c[0] == m:
        return 0
    z = 0.0
    for k in range(_HLL_Q + 1, 0, -1):
        z = 0.5 * (z + c[k])
    x = s = c[0] / m                      # sigma(x)
    y, prev = 1.0, -1.0
    while s != prev:
        x, prev = x * x, s
        s, y = s + x * y, y + y
    return int(round(m * m / (2 * math.log(2)) / (z + m * s)))


def _head(rows: list[tuple[int, bytes | None]]) -> list:
    """(partition id, value) rows → those that can still be among the
    first SAMPLE_BLOB_VALUES rows in partition order, up to the one that
    crosses SAMPLE_BLOB_BYTES. Rows of any other partition only come
    after those already counted here, so the cut is exact."""
    rows = sorted(rows, key=lambda r: r[0])[:SAMPLE_BLOB_VALUES]  # stable
    cum = np.cumsum([len(v or b"") for _, v in rows])
    return rows[:1 + int(np.searchsorted(cum, SAMPLE_BLOB_BYTES))]


def _extremes(arrs: list[pa.Array]) -> pa.Array:
    """[min, max] over `arrs` as a two-value array of their type."""
    mm = pc.min_max(pa.chunked_array(arrs))
    return pa.array([mm["min"].as_py(), mm["max"].as_py()], arrs[0].type)


def _merge(a: dict | None, b: dict) -> dict:
    """Fold partial `b` into `a`: sums, register max, bitmap OR, min/max
    and the row heads. Partials merge in any order."""
    if a is None:
        return b
    a["n"] += b["n"]
    a["cnt"] += b["cnt"]
    np.maximum(a["hll"], b["hll"], out=a["hll"])
    a["used"] |= b["used"]
    for i, e in b["ext"].items():  # set in every partial that has rows
        a["ext"][i] = _extremes([a["ext"][i], e])
    for i, h in b["heads"].items():
        a["heads"][i] = _head(a["heads"].get(i, []) + h)
    return a


def _zero(k: int) -> dict:
    """The partial of no rows over k columns. Per column, cnt holds the
    non-null count, value changes, summed length, histogram bytes and
    top-byte count; used is the byte bitmap."""
    return dict(n=0, cnt=np.zeros((k, 5), np.int64),
                hll=np.zeros((k, 1 << _HLL_P), np.uint8),
                used=np.zeros((k, 32), np.uint8), ext={}, heads={})


def _pack(p: dict) -> bytes:
    return zlib.compress(pickle.dumps(p), 1)  # sparse registers: mostly 0


def _unpack(blob: bytes) -> dict:
    return pickle.loads(zlib.decompress(blob))


def _fold(blobs) -> dict | None:
    """Packed partials (Arrow binary scalars) → one, folded one at a time."""
    p = None
    for blob in blobs:
        p = _merge(p, _unpack(blob.as_py()))
    return p


def _fold_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: a task's packed partials → one."""
    p = _fold(blob for b in batches for blob in b.column(0))
    if p is not None:
        yield pa.RecordBatch.from_pydict({"p": [_pack(p)]})


def _partial_fn(is_bytes: list[bool], ordered: list[bool],
                null_runs: list[bool]):
    """mapInArrow body: one packed partial per task (see module doc)."""
    k = len(is_bytes)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        p = _zero(k)
        cnt, regs, used, ext, heads = (p[f] for f in
                                       ("cnt", "hll", "used", "ext", "heads"))
        for b in batches:
            take = max(0, min(b.num_rows, SAMPLE_BLOB_VALUES - p["n"]))
            p["n"] += b.num_rows
            for i in range(k):
                arr = b.column(i)
                cnt[i, 0] += len(arr) - arr.null_count
                cnt[i, 1] += _changes(arr, null_runs[i])
                hashes = b.column(k + i).to_numpy()
                if arr.null_count:
                    hashes = hashes[arr.is_valid().to_numpy(
                        zero_copy_only=False)]
                _hll_update(regs[i], hashes)
                if ordered[i]:
                    ext[i] = _extremes([arr, ext[i]] if i in ext else [arr])
                if not is_bytes[i]:
                    continue
                lens = pc.binary_length(arr) if pa.types.is_binary(arr.type) \
                    else pc.utf8_length(arr)
                cnt[i, 2] += pc.sum(lens).as_py() or 0
                data = _value_bytes(
                    pc.drop_null(arr).slice(0, _VALUES_PER_BATCH_SAMPLE))
                if len(data):
                    counts = np.bincount(data, minlength=256)
                    cnt[i, 3:] += counts.sum(), counts.max()
                    used[i] |= np.packbits(counts > 0, bitorder="little")
                if take:
                    vals = arr.slice(0, take).cast(pa.binary()).to_pylist()
                    heads[i] = _head(heads.get(i, []) +
                                     [(pid, v) for v in vals])
        if p["n"]:
            yield pa.RecordBatch.from_pydict({"p": [_pack(p)]})
    return fn


def exact_column_stats(df: DataFrame, columns: list[str],
                       order_col: str) -> dict[str, dict]:
    """Deterministic EXACT per-column stats — the oracle lane.

    The production pass-1 collectors sample and batch (approx distinct,
    per-Arrow-batch run counts), so their outputs depend on partitioning
    and cannot be value-pinned against a SQL oracle. This lane computes
    the same signals exactly over a defined total order (`order_col`):
    rows, non_null, exact distinct, run_count (value-change points over
    the order, first row counts), avg_run = rows/run_count, and
    total_bytes (octet_length sum; strings/binary). One window pass + one
    aggregate — use at oracle/test scale (the global window is a single
    partition), not on 10^12 rows."""
    from pyspark.sql import Window

    w = Window.orderBy(order_col)
    fields = {f.name: f.dataType for f in df.schema.fields}
    lagged = df.select(
        *columns, *[F.lag(c).over(w).alias(f"__pv_{c}") for c in columns])
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        aggs.append(F.count(F.col(c)).alias(f"{c}__nonnull"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__distinct"))
        aggs.append(F.sum(
            F.when(~F.col(c).eqNullSafe(F.col(f"__pv_{c}")), 1).otherwise(0))
            .alias(f"{c}__runs"))
        if isinstance(fields[c], _BYTES_TYPES):
            aggs.append(F.sum(F.octet_length(F.col(c)))
                        .alias(f"{c}__total_bytes"))
        else:
            aggs.append(F.lit(None).cast("long").alias(f"{c}__total_bytes"))
    g = lagged.agg(*aggs).collect()[0].asDict()
    out: dict[str, dict] = {}
    for c in columns:
        runs = int(g[f"{c}__runs"] or 0)
        out[c] = {
            "rows": g["__rows"],
            "non_null": g[f"{c}__nonnull"],
            "distinct": g[f"{c}__distinct"],
            "run_count": runs,
            "avg_run": g["__rows"] / max(1, runs),
            "total_bytes": g[f"{c}__total_bytes"],
        }
    return out


_BYTE_HIST_SCHEMA = "column string, byte int, cnt long"


def exact_byte_histogram(df: DataFrame, columns: list[str]) -> DataFrame:
    """EXACT byte-value histogram of string/binary columns (FSST signal
    on the oracle lane): (column, byte, cnt) with cnt summed over every
    byte of every non-null value. Per-batch numpy bincount partials
    summed by a groupBy — a sum of histograms is partition-independent,
    so unlike the sampled batch collector this IS deterministic."""
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for i, c in enumerate(columns):
                counts = np.bincount(_value_bytes(pc.drop_null(b.column(i))),
                                     minlength=256)
                nz = np.flatnonzero(counts)
                if len(nz):
                    yield pa.RecordBatch.from_pydict({
                        "column": [c] * len(nz), "byte": nz.astype(np.int32),
                        "cnt": counts[nz].astype(np.int64)})
    return (df.select(*columns).mapInArrow(fn, _BYTE_HIST_SCHEMA)
            .groupBy("column", "byte").agg(F.sum("cnt").alias("cnt")))


def collect_stats(df: DataFrame, columns: list[str] | None = None,
                  sample_fraction: float = 1.0, seed: int = 42) -> dict:
    """Pass 1 in one Spark job (two past _DRIVER_PARTIALS tasks) →
    {column: stats_dict} (see module doc).

    stats_dict keys: rows, non_null, distinct, avg_len, min, max,
    avg_run, distinct_bytes, top_byte_frac, byte_bitmap (4 int64 words),
    and — for string/binary columns — sample_blob (a bounded driver-side
    byte sample used to build shared codec state, e.g. FSST symbol
    tables, once per column instead of once per chunk).
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields]
    if sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    is_bytes = [isinstance(dtypes[c], _BYTES_TYPES) for c in columns]
    # min/max for the other atomic columns (nested ones have no order)
    ordered = [not b and isinstance(dtypes[c], T.AtomicType)
               for b, c in zip(is_bytes, columns)]
    fn = _partial_fn(is_bytes, ordered, [
        isinstance(dtypes[c], _NULL_RUNS_BREAK) for c in columns])
    parts = df.select(*columns, *[F.xxhash64(c).alias(f"__h{i}")
                                  for i, c in enumerate(columns)]
                      ).mapInArrow(fn, "p binary")
    tasks = parts.rdd.getNumPartitions()
    if tasks > _DRIVER_PARTIALS:  # fold them to sqrt(tasks) in Spark first
        parts = parts.repartition(math.isqrt(tasks - 1) + 1) \
            .mapInArrow(_fold_task, "p binary")
    p = _fold(parts.toArrow().column("p")) or _zero(len(columns))
    rows = p["n"]
    out: dict[str, dict] = {}
    for i, c in enumerate(columns):
        nn, changes, total_len, sampled, top = (int(v) for v in p["cnt"][i])
        s = out[c] = {
            "rows": rows, "non_null": nn,
            "distinct": _hll_estimate(p["hll"][i]),
            "avg_len": None, "min": None, "max": None,
            "avg_run": rows / max(1, changes), "byte_bitmap": [0, 0, 0, 0],
            "distinct_bytes": 0, "top_byte_frac": 0.0}
        if i in p["ext"]:
            for m, v in zip(("min", "max"), p["ext"][i]):
                if pa.types.is_timestamp(v.type):  # the zone maps' naive form
                    v = v.cast(pa.timestamp(v.type.unit))
                s[m] = None if v.as_py() is None else str(v.as_py())
        if not is_bytes[i]:
            continue
        used = p["used"][i]
        s["avg_len"] = total_len / nn if nn else None
        s["byte_bitmap"] = [int(w) for w in used.view(np.int64)]
        s["distinct_bytes"] = int(np.unpackbits(used).sum())
        s["top_byte_frac"] = top / sampled if sampled else 0.0
        s["sample_blob"] = b"".join(v for _, v in p["heads"].get(i, [])
                                    if v is not None)[:SAMPLE_BLOB_BYTES]
    return out
