"""Pass-2 chunk encoder (SURVEY §2C): DataFrame → encoded column chunks.

One chunk = all rows with the same deterministic chunk id
(`pmod(xxhash64(key), n_chunks)` — see operators/chunking.py). Chunks are
encoded with `groupBy(chunk_id).applyInArrow`: each group arrives as one
pyarrow Table (NO pandas bridge — the pandas path materializes a Python
bytes object per value for string/binary columns, which dominated encode
wall time), is sorted by key (so chunk payloads are bit-identical across
runs and cluster sizes), and every column is encoded by the vectorized
kernels in functions/codecs — zero per-row Python.

Output: one row per (chunk_id, column) with the payload blob, codec
actually used, JSON meta, sizes, sha256 checksum, and wall time — the
same rows double as the lineage/metrics manifest entries.

Capability ancestor: the implicit dictionary/RLE/bit-pack encoding
parquet-mr applies for the reference at src/Writer.java:25-26; here the
encoding layer is explicit and native to the engine.
"""

from __future__ import annotations

import hashlib
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codecs.column import (decode_column, encode_column,
                                       meta_from_json, meta_to_json)
from .chunking import CHUNK_COL, perfect_shuffle_salts, with_chunk_id

# shuffle/group relabeling column (see encode_chunks straggler notes)
SALT_COL = "__chunk_salt"
STORE_COL = "__store"  # sub-store tag (see decode_chunks)

CHUNK_SCHEMA = T.StructType([
    T.StructField("chunk_id", T.IntegerType(), False),
    T.StructField("column", T.StringType(), False),
    T.StructField("codec", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("raw_bytes", T.LongType(), False),
    T.StructField("enc_bytes", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("meta", T.StringType(), False),
    T.StructField("checksum", T.StringType(), False),
    T.StructField("wall_ms", T.DoubleType(), False),
    T.StructField("min_val", T.StringType(), True),
    T.StructField("max_val", T.StringType(), True),
])

_SPARK_TO_ARROW = {
    T.ByteType: pa.int8(),
    T.ShortType: pa.int16(),
    T.IntegerType: pa.int32(),
    T.LongType: pa.int64(),
    T.FloatType: pa.float32(),
    T.DoubleType: pa.float64(),
    T.BooleanType: pa.bool_(),
    T.StringType: pa.string(),
    T.BinaryType: pa.binary(),
    T.DateType: pa.date32(),
}


def arrow_schema_for(schema: T.StructType, tz: str | None = None) -> pa.Schema:
    """Arrow schema for a Spark schema. `tz` set = the Arrow-interchange
    shape Spark expects from applyInArrow output (session-tz timestamps);
    tz None = the naive shape the codec layer stores."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            at = pa.timestamp("us", tz=tz) if tz else pa.timestamp("us")
        elif isinstance(f.dataType, T.TimestampNTZType):
            at = pa.timestamp("us")  # NTZ interchanges tz-naive
        else:
            at = _SPARK_TO_ARROW.get(type(f.dataType))
            if at is None:
                raise ValueError(f"unsupported column type {f.dataType}")
        fields.append(pa.field(f.name, at, nullable=f.nullable))
    return pa.schema(fields)


# manifest-only shape returned when the group fn writes the store itself
MANIFEST_SCHEMA = T.StructType(
    [f for f in CHUNK_SCHEMA.fields if f.name != "payload"])

_STORE_FILE = "part-00000.parquet"


def _write_chunk_file(store_dir: str, chunk_id: int, table: pa.Table) -> None:
    """Persist one chunk's payload rows as
    `store_dir/chunk_id=<id>/part-00000.parquet` — the layout Spark's
    partitioned writer produces, which older engine versions used, so
    their stores read and resume the same way.

    Idempotent and crash-safe: the file is written to a dot-prefixed
    temp name at the store root (Spark's file index ignores `.`/`_`
    prefixes, so a crash can never leak half-written rows into reads)
    and atomically renamed into place; a re-encode or speculative twin
    replaces it with identical deterministic bytes. Leftover files from
    an older Spark-written layout (different part names) are removed so
    a resumed store never double-counts a chunk."""
    import os
    import uuid

    import pyarrow.parquet as pq

    d = os.path.join(store_dir, f"chunk_id={chunk_id}")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(store_dir, f".tmp-{uuid.uuid4().hex}.parquet")
    # payloads are already codec-compressed — snappy on top would burn
    # encode-stage CPU for next to no size gain. Likewise pyarrow's
    # DEFAULTS are hostile here: use_dictionary hashes every multi-MB
    # payload value into a dict that can never win, and write_statistics
    # computes min/max comparisons over those same blobs — at 32
    # concurrent workers that burned 2-3x the encode kernel's own
    # core-seconds. PLAIN, stats off.
    pq.write_table(table, tmp, compression="none", use_dictionary=False,
                   write_statistics=False)
    os.replace(tmp, os.path.join(d, _STORE_FILE))
    for f in os.listdir(d):
        if f != _STORE_FILE:
            try:
                os.unlink(os.path.join(d, f))
            except OSError:
                pass


def _encode_group_fn(columns: list[str], codecs: dict,
                     arrow_schema: pa.Schema, store_dir: str | None = None):
    out_fields = arrow_schema_for(CHUNK_SCHEMA)

    def fn(table: pa.Table) -> pa.Table:
        # rows arrive in the chunk-local permutation, applied by the JVM
        # group sort (see encode_chunks)
        chunk_id = int(table.column(CHUNK_COL)[0].as_py())
        cols: dict[str, list] = {f.name: [] for f in out_fields}
        for c in columns:
            t0 = time.perf_counter()
            arr = table.column(c).combine_chunks()
            if arr.type != arrow_schema.field(c).type:
                arr = arr.cast(arrow_schema.field(c).type)
            raw = sum(b.size for b in arr.buffers() if b is not None)
            payload, meta = encode_column(arr, codecs.get(c, "plain"))
            vmin = vmax = None
            if len(arr) > arr.null_count and not pa.types.is_binary(arr.type):
                try:  # zone map: per-chunk min/max for chunk pruning
                    mm = pc.min_max(arr)
                    vmin, vmax = str(mm["min"].as_py()), str(mm["max"].as_py())
                    # min_max skips NaN, which Spark orders above any number
                    if pa.types.is_floating(arr.type) and pc.any(
                            pc.is_nan(arr)).as_py():
                        vmax = "nan"
                except Exception:
                    pass
            cols["chunk_id"].append(chunk_id)
            cols["column"].append(c)
            cols["codec"].append(meta["codec"])
            cols["n_rows"].append(len(arr))
            cols["raw_bytes"].append(int(raw))
            cols["enc_bytes"].append(len(payload))
            cols["payload"].append(payload)
            cols["meta"].append(meta_to_json(meta))
            cols["checksum"].append(hashlib.sha256(payload).hexdigest())
            cols["wall_ms"].append((time.perf_counter() - t0) * 1000.0)
            cols["min_val"].append(vmin)
            cols["max_val"].append(vmax)
        out = pa.table({f.name: pa.array(cols[f.name], type=f.type)
                        for f in out_fields})
        if store_dir is None:
            return out
        # direct store write: persist the payload rows HERE (Arrow →
        # parquet, no JVM round-trip) and return manifest rows only —
        # the partition column chunk_id lives in the directory name
        _write_chunk_file(store_dir, chunk_id, out.drop_columns("chunk_id"))
        return out.drop_columns("payload")
    return fn


def encode_chunks(df: DataFrame, key: str, codecs: dict,
                  n_chunks: int, sort_cols: list[str] | None = None,
                  store_dir: str | None = None, *,
                  _todo_chunks: int | None = None) -> DataFrame:
    """Encode `df` into per-(chunk, column) payload rows.

    `codecs` maps column → codec name or codec-plan dict (shared state).
    `sort_cols` is the chunk-local row permutation (key appended as the
    unique tiebreak; default = key only).

    With `store_dir` set (how run_encode writes a store), each group
    WRITES its own chunk parquet file (`chunk_id=N/` layout, atomic
    rename, idempotent) and the returned DataFrame carries only the
    payload-free manifest rows (MANIFEST_SCHEMA), so the encoded bytes
    never enter the JVM (~50 TB of them at 100 TB). Without it the
    payload rows themselves come back (CHUNK_SCHEMA), for in-memory
    round trips.

    The explicit repartition pins the shuffle width to ~one chunk per
    task instead of `spark.sql.shuffle.partitions` (= cores): with the
    default width, 256 chunks hash into 32 partitions as 5-13-chunk
    lumps, and the slowest lump sets the stage's wall (~45% of it at 32
    cores). The groupBy reuses this exchange (ClusteredDistribution on
    the grouping column is already satisfied), so the plan still has
    exactly ONE shuffle.

    Straggler control: hashing k distinct chunk ids into k partitions is
    balls-in-bins — ~37% of tasks get nothing while others serialize 2-3
    chunks, and a 2-chunk straggler is a whole extra chunk-encode on the
    stage's last wave. So for ≤8192 chunks the shuffle/group column is
    `perfect_shuffle_salts(n)[chunk_id]` — a bijective relabeling whose
    Murmur3 perfect-hashes into exactly one chunk per partition, zero
    empties (the group fn reads the REAL chunk id from the chunk column,
    so ids stay 0..n-1 everywhere downstream). Beyond 8192 chunks (the
    100 TB regime, ~3M chunks) tasks carry ~50 chunks each under a
    65536-partition cap and collisions average out; there the width is
    the number of chunks this run encodes (`_todo_chunks`, set by a
    resumed run_encode), not `n_chunks`, so a resume never schedules
    one near-empty task per already-complete chunk."""
    columns = [f.name for f in df.schema.fields]
    aschema = arrow_schema_for(df.schema)
    sort_cols = [c for c in (sort_cols or []) if c != key] + [key]
    chunked = with_chunk_id(df, key, n_chunks)
    # The chunk-local row permutation rides the JVM's OWN group sort:
    # groupBy().applyInArrow requires child ordering on the grouping
    # column, and sortWithinPartitions(group, *sort_cols) satisfies that
    # prefix — Catalyst inserts NO second sort (plan-asserted in tests),
    # so the full permutation costs one Tungsten radix sort inside the
    # shuffle-read stage and the python worker never sorts or gathers.
    # Low-cardinality columns come first (→ long runs for RLE/dict), then
    # timestamps/ints (→ narrow deltas), the unique key last as the
    # total-order tiebreak (cf. column-permutation-for-RLE, SIGMOD 2020);
    # nulls sort last within each column.
    fn = _encode_group_fn(columns, codecs, aschema, store_dir=store_dir)
    out_schema = MANIFEST_SCHEMA if store_dir is not None else CHUNK_SCHEMA
    order = [F.asc_nulls_last(c) for c in sort_cols]
    if n_chunks <= 8192:
        salts = perfect_shuffle_salts(n_chunks)
        salt_col = F.element_at(
            F.array(*[F.lit(v) for v in salts]),
            F.col(CHUNK_COL) + 1).alias(SALT_COL)
        chunked = chunked.withColumn(SALT_COL, salt_col)
        chunked = chunked.repartition(n_chunks, SALT_COL)
        # group col uses plain asc (nulls-first default) so the child
        # ordering STRUCTURALLY satisfies applyInArrow's required
        # ordering — a nulls-last salt would make Catalyst insert its own
        # (order-destroying) re-sort. Salt is non-null, so the payload
        # bytes are unaffected.
        chunked = chunked.sortWithinPartitions(F.asc(SALT_COL), *order)
        return chunked.groupBy(SALT_COL).applyInArrow(fn, schema=out_schema)
    width = n_chunks if _todo_chunks is None else _todo_chunks
    chunked = chunked.repartition(min(max(width, 1), 65536), CHUNK_COL)
    chunked = chunked.sortWithinPartitions(F.asc(CHUNK_COL), *order)
    return chunked.groupBy(CHUNK_COL).applyInArrow(fn, schema=out_schema)


def _decode_map_fn(schema: T.StructType, arrow_schema: pa.Schema):
    """Decode that groups chunk rows by chunk WITHIN each task (or each
    groupBy group). Valid because every producer emits whole chunks per
    partition: the chunk store is one file per chunk (a chunk's handful of
    payload rows is one row group, and parquet splits only at row groups),
    and encode_chunks's output is grouped by chunk id. A chunk decodes
    (and its buffers release) the moment its last column row is seen, but
    a task's chunk rows usually arrive in one Arrow batch (a few rows per
    chunk, far below maxRecordsPerBatch), so peak memory is the task's
    payloads plus one decoded chunk."""
    columns = [f.name for f in schema.fields]
    expected = frozenset(columns)

    def fn(batches):
        pending: dict[int | tuple, dict[str, tuple[str, bytes]]] = {}

        def emit(got: dict[str, tuple[str, bytes]]):
            arrays = {}
            for name, (meta_s, payload) in got.items():
                arrays[name] = decode_column(payload, meta_from_json(meta_s))
            table = pa.table(
                {c: arrays[c].cast(arrow_schema.field(c).type)
                 for c in columns}, schema=arrow_schema)
            yield from table.to_batches()

        for rb in batches:
            idx = {n: rb.schema.get_field_index(n) for n in
                   ("chunk_id", "column", "meta", "payload", STORE_COL)}
            cids = rb.column(idx["chunk_id"]).to_pylist()
            if idx[STORE_COL] >= 0:  # chunk = (sub-store, chunk_id)
                cids = list(zip(rb.column(idx[STORE_COL]).to_pylist(), cids))
            names = rb.column(idx["column"]).to_pylist()
            metas = rb.column(idx["meta"]).to_pylist()
            payloads = rb.column(idx["payload"])
            for i, (cid, name) in enumerate(zip(cids, names)):
                if name not in expected:
                    continue
                got = pending.setdefault(cid, {})
                got[name] = (metas[i], bytes(payloads[i].as_py()))
                if len(got) == len(expected):
                    yield from emit(pending.pop(cid))
        if pending:
            raise RuntimeError(
                f"chunks {sorted(pending)} are missing column rows within "
                "this task — straddled scan partitions (a chunk file with "
                "several row groups?) or absent from the store. If the "
                "store's files were rewritten, remove single_row_group "
                "from its table_meta.json so reads take the shuffle "
                "decode, or re-encode the store.")
    return fn


def decode_chunks(chunks: DataFrame, schema: T.StructType,
                  columns: list[str] | None = None,
                  shuffle: bool = False) -> DataFrame:
    """Inverse of encode_chunks: encoded chunk rows → original-schema rows.

    `columns` selects a subset to decode — the untouched columns' rows are
    dropped in the JVM, so their payloads never reach Python, the columnar
    payoff of the format. A chunk is keyed by chunk_id, or by
    (STORE_COL, chunk_id) when `chunks` has that column.

    Default is the SHUFFLE-FREE path: `mapInArrow` over the scan, grouping
    rows by chunk within each task. Both producers of chunk rows keep
    whole chunks inside one partition (the store is one file per chunk;
    encode output is grouped by chunk id), so at the 100 TB design point
    this reads the table back with ZERO payload Exchange. `shuffle=True`
    groups by chunk instead (one chunk per Python call), re-shuffling
    every encoded byte, for stores whose chunks straddle scan partitions;
    the map path detects that case and fails with instructions rather
    than decoding wrongly."""
    if columns is not None:
        schema = T.StructType([f for f in schema.fields
                               if f.name in set(columns)])
        # not pushed into the Parquet scan (coalesce has no source-filter
        # form): a chunk file holds every column's rows in one row group,
        # written without statistics or dictionaries, so the pushed
        # predicate could never skip data but would still set up Parquet's
        # row-group and page-index filtering for every file
        chunks = chunks.filter(F.coalesce(
            F.col("column").isin(list(columns)), F.lit(False)))
    tz = chunks.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    aschema = arrow_schema_for(schema, tz=tz)
    key = [c for c in (STORE_COL, "chunk_id") if c in chunks.columns]
    sel = chunks.select(*key, "column", "meta", "payload")
    decode = _decode_map_fn(schema, aschema)
    if shuffle:
        return sel.groupBy(*key).applyInArrow(lambda t: pa.Table.from_batches(
            list(decode(t.to_batches())), schema=aschema), schema=schema)
    return sel.mapInArrow(decode, schema=schema)


def verify_roundtrip(src: DataFrame, decoded: DataFrame, key: str,
                     mode: str = "join") -> DataFrame:
    """Per-column bit-identity check. Returns one row: `rows`,
    `key_missing`, and one `<col>_bad` count per column — all zeros (and
    matching row counts) = round-trip success.

    mode="join": full-outer join on `key`, exact per-row null-safe
    comparison. Two full scans plus a key shuffle of the entire table —
    fine as a gate at test scale, a ~100 TB shuffle at the design point.

    mode="checksum": per-column order-independent aggregate checksum
    `bit_xor(xxhash64(key, col))` computed INDEPENDENTLY on each side —
    zero join, zero table-data shuffle (each side folds to one row
    map-side; the only exchanges are single-row partial-agg gathers).
    Detects any single-row difference with probability 1 - 2^-64-ish;
    `<col>_bad` is 0/1 (checksums agree or not) rather than a row count.
    XOR cancellation needs unique keys — guaranteed here (`key` is the
    chunking key). NULL values hash as absent (Spark hash functions skip
    NULLs), so value↔NULL flips are still caught via the key term."""
    cols = [f.name for f in src.schema.fields if f.name != key]
    if mode == "checksum":
        def side(df: DataFrame, p: str):
            aggs = [F.count(F.lit(1)).alias(f"{p}_rows"),
                    F.bit_xor(F.xxhash64(F.col(key))).alias(f"{p}_key")]
            for c in cols:
                aggs.append(F.bit_xor(F.xxhash64(F.col(key), F.col(c)))
                            .alias(f"{p}_{c}"))
            return df.agg(*aggs)
        j = side(src, "s").crossJoin(side(decoded, "d"))  # 1 row × 1 row
        out = [F.col("s_rows").alias("rows"),
               F.when((F.col("s_rows") == F.col("d_rows"))
                      & F.col("s_key").eqNullSafe(F.col("d_key")), 0)
               .otherwise(1).alias("key_missing")]
        for c in cols:
            out.append(
                F.when(F.col(f"s_{c}").eqNullSafe(F.col(f"d_{c}")), 0)
                .otherwise(1).alias(f"{c}_bad"))
        return j.select(*out)
    s = src.alias("s")
    d = decoded.alias("d")
    joined = s.join(d, F.col(f"s.{key}") == F.col(f"d.{key}"), "full_outer")
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col(f"s.{key}").isNull() | F.col(f"d.{key}").isNull(),
                     1).otherwise(0)).alias("key_missing"),
    ]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}")), 0)
                  .otherwise(1)).alias(f"{c}_bad"))
    return joined.agg(*aggs)
