"""End-to-end encode pipeline (SURVEY §3.4): the engine's flagship plan.

    source DF
      → pass 1: sampled column stats, one mapInArrow job
                     (stats.collect_stats)
      → driver codec decision (selector.choose_codecs)
      → deterministic chunk assignment pmod(xxhash64(key), n_chunks)
      → pass 2: groupBy(chunk).applyInArrow encode (codecs.*)
      → chunk store  (parquet, one file per chunk under chunk_id=N/,
                      written by the encode workers themselves)
      → manifest     (parquet append: per-(chunk,column) codec/bytes/
                      checksum/wall — lineage + metrics checkpoint)
      → run metrics  (json per run, from an Observation on the manifest
                      write: no read-back)

Resumability: a chunk is *complete* when the manifest holds rows for all
its columns. A restarted run recomputes only incomplete chunks; each
re-encoded chunk file atomically replaces whatever the crashed attempt
left in its chunk_id=N/ directory, so the final chunk store is identical
to a single-shot run (chunk payloads are deterministic — sorted by key
within a chunk).

Scale notes (the 100 TB design point):
  - chunk membership is a pure row function → no global coordination;
    the only shuffle is the hash partition by chunk id, into whole waves
    of chunks that fit `target_chunk_bytes` (see _whole_waves).
  - completed-chunk filtering is a broadcast anti-join against the
    manifest — never a collected id list: at 100 TB / 32 MB chunks there
    are ~3M chunk ids, and an `isin` literal list of that size is a
    driver-side plan bomb. Zone-map pruning is file-level, on the
    driver: pyarrow reads the manifest's bounds for one column and the
    scan gets the surviving chunk_id=N directories (see read_encoded).
  - pass 1 keeps a bounded NUMBER of rows (`sample_rows`, default 1M),
    not a fraction — codec choice needs distribution shape, and 25% of
    10^12 docs would be a 25 TB "sample". The bound is on the rows kept:
    `Sample` sits above the scan, so every input byte is still parsed.
"""

from __future__ import annotations

import datetime
import json
import math
import numbers
import os
import re
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.chunking import CHUNK_COL, with_chunk_id
from ..operators.encode import (STORE_COL, decode_chunks, encode_chunks,
                                verify_roundtrip)
from ..operators.selector import (build_codec_plan, choose_codecs,
                                  choose_sort_order)
from ..operators.stats import collect_stats


def _plan_to_json(plan: dict[str, dict]) -> dict:
    out = {}
    for c, e in plan.items():
        j = {"codec": e["codec"]}
        if "symbols" in e:
            j["symbols"] = [s.hex() for s in e["symbols"]]
            j["codes"] = list(e["codes"])
        out[c] = j
    return out


def _plan_from_json(j: dict) -> dict[str, dict]:
    plan = {}
    for c, e in j.items():
        p = {"codec": e["codec"]}
        if "symbols" in e:
            p["symbols"] = [bytes.fromhex(s) for s in e["symbols"]]
            p["codes"] = list(e["codes"])
        plan[c] = p
    return plan

_TYPE_WIDTHS = {"bigint": 8, "double": 8, "int": 4, "float": 4, "boolean": 1,
                "timestamp": 8, "date": 4}


def _estimate_row_bytes(schema: T.StructType, stats: dict) -> float:
    total = 0.0
    for f in schema.fields:
        s = stats.get(f.name, {})
        if s.get("avg_len") is not None:
            total += float(s["avg_len"]) + 4
        else:
            total += _TYPE_WIDTHS.get(f.dataType.simpleString(), 8)
    return max(1.0, total)


def _whole_waves(est_bytes: float, target_chunk_bytes: int, p: int) -> int:
    """n_chunks for a fresh store: the smallest multiple of the cluster
    parallelism `p` whose chunks fit the target. Perfect salts make encode
    tasks even (one chunk each, see encode_chunks); whole waves fill cores."""
    return p * max(1, math.ceil(est_bytes / (target_chunk_bytes * p)))


# table_meta.json flags of stores this writer starts. single_row_group:
# a chunk file is ONE write_table call, so no chunk straddles scan
# partitions and read_encoded may take the shuffle-free decode.
# nan_aware_max: a float chunk holding NaN stores max_val "nan".
WRITER_FLAGS = {"single_row_group": True, "nan_aware_max": True}


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def _chunks_path(out_dir: str) -> str:
    return os.path.join(out_dir, "chunks")


def _meta_file(out_dir: str) -> str:
    return os.path.join(out_dir, "table_meta.json")


def _read_meta(out_dir: str) -> dict:
    with open(_meta_file(out_dir)) as fh:
        return json.load(fh)


def _write_meta(out_dir: str, meta: dict) -> None:
    """Replace table_meta.json atomically: write a dot-prefixed temp file
    beside it, then os.replace it into place, so a write that fails
    part-way leaves the previous meta (the pinned resume plan) readable."""
    tmp = os.path.join(out_dir, ".table_meta.json.tmp")
    try:
        with open(tmp, "w") as fh:
            json.dump(meta, fh, default=str)
        os.replace(tmp, _meta_file(out_dir))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _write_manifest(rows: DataFrame, out_dir: str, run_id: str, key: str,
                    plan: dict[str, dict]) -> dict:
    """Append this run's manifest rows (payload-free) and return the run
    metrics an Observation counted while writing them: chunks and rows
    (the key column's rows), byte totals, and codec_fallbacks (rows whose
    codec differs from the plan's, e.g. fsst → plain)."""
    obs = Observation(f"run_{run_id}")
    is_key = F.col("column") == key
    planned = F.create_map(*[F.lit(v) for c, e in plan.items()
                             for v in (c, e["codec"])])
    (rows.select("chunk_id", "column", "codec", "n_rows", "raw_bytes",
                 "enc_bytes", "checksum", "wall_ms", "min_val", "max_val")
     .withColumn("run_id", F.lit(run_id))
     .withColumn("status", F.lit("ok"))
     .observe(obs,
              F.count_if(is_key).alias("chunks"),
              F.sum(F.when(is_key, F.col("n_rows"))).alias("rows"),
              F.sum("raw_bytes").alias("raw_bytes"),
              F.sum("enc_bytes").alias("enc_bytes"),
              F.count_if(~F.col("codec").eqNullSafe(planned[F.col("column")]))
              .alias("codec_fallbacks"))
     .write.mode("append").parquet(_manifest_path(out_dir)))
    return obs.get


def completed_chunks(spark: SparkSession, out_dir: str,
                     n_cols: int) -> DataFrame | None:
    """Chunk ids whose manifest rows cover every column (lineage check).

    Returns a one-column (`chunk_id`) DataFrame — kept as a DataFrame so
    callers filter with a broadcast anti-join instead of collecting
    potentially millions of ids into an `isin` literal list. None when no
    manifest exists yet."""
    path = _manifest_path(out_dir)
    # a fresh run has no manifest: checking first spares the JVM stack
    # trace a PATH_NOT_FOUND prints; the except covers a crashed run's
    # directory the reader cannot infer a schema from
    if not os.path.isdir(path):
        return None
    try:
        m = spark.read.parquet(path)
    except Exception:
        return None
    # only 'ok' rows count: stores written by older engine versions can
    # hold rows with other statuses (e.g. 'skipped', a run that wrote no
    # chunk files), which must not mark a chunk complete
    m = m.filter(F.col("status") == "ok")
    return (m.groupBy("chunk_id")
            .agg(F.countDistinct("column").alias("ncols"))
            .filter(F.col("ncols") >= n_cols)
            .select("chunk_id"))


def run_encode(spark: SparkSession, src: DataFrame, out_dir: str,
               key: str = "url", codecs: dict[str, str] | None = None,
               n_chunks: int | None = None,
               sample_fraction: float | None = None,
               sample_rows: int = 1_000_000,
               target_chunk_bytes: int = 32 << 20, resume: bool = True,
               max_chunks_this_run: int | None = None,
               store_is_shared: bool = False) -> dict:
    """Run (or resume) the encode pipeline. Returns run metrics.

    Pass 1 keeps ~`sample_rows` ROWS at any table size, not a fraction
    (its scan still parses every input byte); `sample_fraction`
    overrides the derived fraction. Without `n_chunks` a fresh store gets
    _whole_waves chunks; a resume keeps the meta's n_chunks.

    Chunk files are written by the encode workers themselves (see
    operators.encode.encode_chunks store_dir), so encoded payloads never
    round-trip through the JVM. Workers and the driver write `out_dir`
    with plain POSIX I/O, so it must be a local path that every executor
    can reach: on a multi-node master that means a shared mount, which
    only the caller can attest (`store_is_shared=True`). Without that
    attestation a non-local master raises rather than scattering chunk
    files across executor-local filesystems, and so does a URI `out_dir`
    (hdfs://, s3a://, file://)."""
    t0 = time.perf_counter()
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:/", out_dir):
        raise ValueError(
            f"out_dir {out_dir!r} is a URI: the store is written with local "
            "file I/O, which would create a local directory named after the "
            "scheme. Use a local or mounted path; stores behind a "
            "filesystem URI need the pyarrow.fs I/O seam (ROADMAP "
            "direction 4).")
    if not ((spark.sparkContext.master or "").startswith("local")
            or store_is_shared):
        raise ValueError(
            "non-local master: executors would write chunk files to THEIR "
            "local filesystems and the store would be silently incomplete. "
            f"Put {out_dir!r} on a mount every executor can reach and pass "
            "store_is_shared=True.")
    os.makedirs(out_dir, exist_ok=True)
    columns = [f.name for f in src.schema.fields]

    # --- resume: an existing table_meta pins the whole codec plan AND
    # n_chunks (chunk membership is a function of n_chunks — changing it
    # mid-table would orphan completed chunks), and skips pass 1 entirely.
    existing = None
    if os.path.exists(_meta_file(out_dir)):
        if resume:
            existing = _read_meta(out_dir)
        else:
            # fresh run over a used out_dir: stale chunk directories from
            # an older (possibly different-n_chunks) layout would survive
            # (a run rewrites only the chunks it encodes) and leak ghost
            # rows into reads
            import shutil
            for sub in (_chunks_path(out_dir), _manifest_path(out_dir)):
                shutil.rmtree(sub, ignore_errors=True)
            os.remove(_meta_file(out_dir))

    stats_wall = 0.0
    plan_source = "table_meta" if existing is not None else "stats"
    if existing is not None:
        codecs = existing["codecs"]
        plan = _plan_from_json(existing["codec_plan"])
        n_chunks = existing["n_chunks"]
        sort_order = existing.get("sort_order", [key])
    else:
        # --- pass 1: sampled stats → codec decision + shared encoder state
        t_stats = time.perf_counter()
        if sample_fraction is None:
            est_rows = src.count()  # column-less scan (parquet: metadata)
            sample_fraction = min(1.0, sample_rows / max(est_rows, 1))
        else:
            est_rows = None
        stats = collect_stats(src, sample_fraction=sample_fraction)
        if codecs is None:
            codecs = choose_codecs(stats, src.schema)
        plan = build_codec_plan(stats, src.schema, codecs)
        sort_order = choose_sort_order(stats, src.schema, key)
        stats_wall = time.perf_counter() - t_stats
        if est_rows is None:
            rows_sampled = next(iter(stats.values()))["rows"] if stats else 0
            est_rows = (int(rows_sampled / max(sample_fraction, 1e-9))
                        if sample_fraction < 1.0 else rows_sampled)
        if n_chunks is None:
            n_chunks = _whole_waves(
                est_rows * _estimate_row_bytes(src.schema, stats),
                target_chunk_bytes, spark.sparkContext.defaultParallelism)
        # persist table meta (schema + full codec-decision manifest).
        # Written once: a resume never rewrites the meta.
        _write_meta(out_dir, {
            "schema": src.schema.json(), "key": key,
            "n_chunks": n_chunks, "codecs": codecs,
            "codec_plan": _plan_to_json(plan),
            "sort_order": sort_order,
            "stats": {c: {k: v for k, v in s.items() if k != "sample_blob"}
                      for c, s in stats.items()},
            **WRITER_FLAGS})

    # --- resume: restrict to incomplete chunks via broadcast anti-join
    # (the done set can be millions of ids — never an isin literal list)
    done = completed_chunks(spark, out_dir, len(columns)) if resume else None
    done_count = done.count() if done is not None else 0
    # chunks this run encodes: sizes the encode shuffle beyond the
    # perfect-salt range (see encode_chunks)
    todo_count = n_chunks - done_count
    chunked = with_chunk_id(src, key, n_chunks)
    if done_count:
        chunked = chunked.join(
            F.broadcast(done.withColumnRenamed("chunk_id", CHUNK_COL)),
            CHUNK_COL, "left_anti")
    if max_chunks_this_run is not None:
        todo_limited = spark.range(n_chunks) \
            .select(F.col("id").cast("int").alias("chunk_id"))
        if done_count:
            todo_limited = todo_limited.join(F.broadcast(done), "chunk_id",
                                             "left_anti")
        todo_rows = (todo_limited.orderBy("chunk_id")
                     .limit(max_chunks_this_run).collect())
        todo_count = len(todo_rows)
        if todo_rows:  # createDataFrame([]): CANNOT_INFER_EMPTY_SCHEMA
            todo_limited = spark.createDataFrame(todo_rows, "chunk_id int")
            chunked = chunked.join(
                F.broadcast(todo_limited.withColumnRenamed("chunk_id",
                                                           CHUNK_COL)),
                CHUNK_COL, "left_semi")

    # --- pass 2: encode + persist chunk store. Each Arrow group writes its
    # own chunk file (atomic rename into the chunk_id=N layout) and only
    # the payload-free manifest rows flow back through Spark — the JVM
    # never re-serializes the encoded bytes. Writing the manifest IS the
    # action that runs the encode job. No chunk left to encode (the
    # terminal iteration of an incremental driver loop) is a no-op run.
    run_id = None
    agg = dict.fromkeys(("chunks", "rows", "raw_bytes", "enc_bytes",
                         "codec_fallbacks"), 0)
    t_encode = time.perf_counter()
    if todo_count:
        run_id = uuid.uuid4().hex[:12]
        os.makedirs(_chunks_path(out_dir), exist_ok=True)
        # encode_chunks re-derives the (identical) chunk id itself
        rows = encode_chunks(chunked.drop(CHUNK_COL), key, plan, n_chunks,
                             sort_cols=sort_order,
                             store_dir=_chunks_path(out_dir),
                             _todo_chunks=todo_count)
        agg = _write_manifest(rows, out_dir, run_id, key, plan)
    encode_wall = time.perf_counter() - t_encode
    t_manifest = time.perf_counter()

    # --- run metrics, observed while the manifest was written
    metrics = {
        "run_id": run_id, "n_chunks": n_chunks,
        "chunks_encoded": agg["chunks"],
        "chunks_skipped": done_count,
        "rows": int(agg["rows"] or 0),
        "raw_bytes": int(agg["raw_bytes"] or 0),
        "enc_bytes": int(agg["enc_bytes"] or 0),
        "codecs": codecs,
        "wall_s": time.perf_counter() - t0,
        "stats_s": round(stats_wall, 3),
        "plan_source": plan_source,
        "encode_s": round(encode_wall, 3),
        "codec_fallbacks": agg["codec_fallbacks"],
        "manifest_s": round(time.perf_counter() - t_manifest, 3),
    }
    if run_id is not None:
        with open(os.path.join(out_dir, f"metrics_{run_id}.json"), "w") as fh:
            json.dump(metrics, fh)
    return metrics


def _batch_dirs(out_dir: str) -> list[str]:
    """Sub-stores of a streaming (per-micro-batch) store, oldest first."""
    root = os.path.join(out_dir, "batches")
    if os.path.exists(_meta_file(out_dir)) or not os.path.isdir(root):
        return []
    return [os.path.join(root, d) for d in sorted(os.listdir(root))
            if os.path.exists(_meta_file(os.path.join(root, d)))]


# an explicit schema also reads manifest files that lack the bound
# columns: their bounds are NULL and keep their chunks
_BOUNDS_SCHEMA = pa.schema([("chunk_id", pa.int32()), ("column", pa.string()),
                            ("min_val", pa.string()),
                            ("max_val", pa.string())])


def _bound_literal(dtype: T.DataType, v) -> tuple | None:
    """(Arrow scalar, type the zone-map strings parse to) for range end
    `v` on a `dtype` column, compared as the residual filter compares it;
    None when no exact match is known (that end then prunes nothing)."""
    num = isinstance(v, (float, numbers.Integral)) and not isinstance(v, bool)
    if num and isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType,
                                  T.ByteType)):
        if isinstance(v, float):  # Spark widens the column to double
            return pa.scalar(v), pa.int64()
        if -(1 << 63) <= v < 1 << 63:  # int64, NOT double: > 2^53 rounds
            return pa.scalar(v, pa.int64()), pa.int64()
    elif num and isinstance(dtype, (T.DoubleType, T.FloatType)):
        # an integral end meets a float column as float32: exact to 2^24
        if (isinstance(dtype, T.DoubleType) or isinstance(v, float)
                or abs(v) <= 1 << 24):
            return pa.scalar(float(v)), pa.float64()
    elif isinstance(dtype, T.StringType) and isinstance(v, str):
        return pa.scalar(v), pa.string()  # Arrow, like Spark: UTF-8 bytes
    elif isinstance(dtype, T.DateType) and type(v) is datetime.date:
        return pa.scalar(v), pa.date32()
    elif (isinstance(dtype, T.TimestampType)
          and isinstance(v, datetime.datetime)):
        # bounds are naive UTC (the encoder's timestamps); the end is the
        # instant PySpark's literal converter sends (naive = local time)
        us = int(v.replace(microsecond=0).timestamp()) * 10**6 + v.microsecond
        return pa.scalar(us, pa.timestamp("us")), pa.timestamp("us")
    return None


def _scan_paths(d: str, col: str, dtype: T.DataType, lo, hi,
                nan_aware_max: bool) -> list[str]:
    """What a range read of sub-store `d` scans: its chunks/ root, or,
    when the zone maps exclude a chunk, each chunk_id=N directory they do
    not exclude. One manifest row proves exclusion (a resume can leave
    duplicates); NULL bounds, an end whose bounds do not all parse and a
    missing manifest prove nothing, nor do NaN-blind float maxima (no
    `nan_aware_max`). No Spark job: pyarrow reads one column's manifest
    rows, compared vectorized, and the driver lists chunks/ — at 3M
    chunks, 3M short strings and one listing, the order of work of the
    file index Spark builds for any read of the store."""
    root, mdir = _chunks_path(d), _manifest_path(d)
    if not os.path.isdir(mdir):
        return [root]
    bounds = pq.read_table(mdir, schema=_BOUNDS_SCHEMA,
                           filters=[("column", "==", col)])
    excl = pa.nulls(len(bounds), pa.bool_())  # Kleene: NULL keeps a chunk
    if not nan_aware_max and isinstance(dtype, (T.DoubleType, T.FloatType)):
        lo = None  # Spark orders NaN above every number
    for name, v, beyond in (("max_val", lo, pc.less),
                            ("min_val", hi, pc.greater)):
        end = _bound_literal(dtype, v)
        if end is None:
            continue
        lit, parse_t = end
        try:
            b = pc.cast(pc.cast(bounds[name], parse_t), lit.type, safe=False)
        except pa.ArrowInvalid:  # a damaged bound proves nothing
            continue
        excl = pc.or_kleene(excl, beyond(b, lit))  # NaN compares false
    excluded = set(bounds["chunk_id"].filter(excl).to_pylist())
    if not excluded:
        return [root]
    keep = []
    for name in sorted(os.listdir(root)):
        m = re.fullmatch(r"chunk_id=(\d+)", name)
        if m is None and name[0] not in "._":  # Spark's hidden prefixes
            raise ValueError("chunk file outside chunk_id=N/: "
                             + os.path.join(root, name))
        if m is not None and int(m[1]) not in excluded:
            keep.append(os.path.join(root, name))
    return keep


def read_encoded(spark: SparkSession, out_dir: str,
                 columns: list[str] | None = None,
                 where: tuple | None = None) -> DataFrame:
    """Decode the chunk store back to a DataFrame. A streaming store
    (per-batch sub-stores under out_dir/batches/, one schema) is read like
    a single store: one scan, chunks keyed by (sub-store, chunk_id).

    columns — decode only these columns (others' payloads never read).
    where — (col, lo, hi) range predicate (lo/hi None = open-ended): the
    driver leaves each chunk whose manifest zone map PROVABLY misses
    [lo, hi] out of the scan's paths, so its file is never read (see
    _scan_paths); the exact residual filter is applied after decode.

    The decode is chosen from the metas alone: the shuffle-free map decode
    when every sub-store records `single_row_group` (each chunk file is
    one row group, so a chunk never straddles scan partitions), and the
    shuffle decode otherwise — stores written before the flag existed or
    by the retired JVM partitioned writer, whose files could split."""
    stores = _batch_dirs(out_dir) or [out_dir]
    metas = [_read_meta(d) for d in stores]
    for d, meta in zip(stores, metas):
        if meta["schema"] != metas[0]["schema"]:
            raise ValueError(f"sub-store {d} has a different schema from "
                             f"{stores[0]}; read them as separate stores")
    schema = T.StructType.fromJson(json.loads(metas[0]["schema"]))
    paths = [_chunks_path(d) for d in stores]
    residual = None
    if where is not None:
        col, lo, hi = where
        dtype = dict((f.name, f.dataType) for f in schema.fields)[col]
        paths = [p for d, m in zip(stores, metas)
                 for p in _scan_paths(d, col, dtype, lo, hi,
                                      m.get("nan_aware_max", False))]
        residual = F.lit(True)
        if lo is not None:
            residual = residual & (F.col(col) >= F.lit(lo))
        if hi is not None:
            residual = residual & (F.col(col) <= F.lit(hi))
        if columns is not None and col not in columns:
            columns = list(columns) + [col]
    # partition discovery rejects several partitioned roots, so chunk_id
    # and the sub-store tag come from the path; the schema skips inference
    fp = F.col("_metadata.file_path")
    cid = F.regexp_extract(fp, r"/chunk_id=(\d+)/[^/]*$", 1)
    chunks = (spark.read.schema("column string, meta string, payload binary")
              .option("recursiveFileLookup", "true")
              .parquet(*paths)
              .withColumn(STORE_COL, F.regexp_extract(fp, "(.*)/chunks/", 1))
              .withColumn("chunk_id", F.when(cid != "", cid.cast("int"))
                          .otherwise(F.raise_error(F.concat(F.lit(
                              "chunk file outside chunk_id=N/: "), fp)))))
    out = decode_chunks(chunks, schema, columns=columns,
                        shuffle=not all(m.get("single_row_group")
                                        for m in metas))
    if residual is not None:
        out = out.filter(residual)
    return out


def required_columns(spark: SparkSession, out_dir: str) -> dict[str, bool]:
    """column → True when no encoded chunk holds a NULL for it.

    Quirk parity with the reference's `required` repetition for
    never-null fields (src/SchemaBuilder.java:91-99): the per-chunk null
    counts are already in every chunk row's codec meta, so this is one
    tiny aggregation over the chunk store's meta column (payloads are
    never read — parquet column pruning)."""
    chunks = spark.read.parquet(_chunks_path(out_dir))
    nulls = (chunks.select(
        "column",
        F.get_json_object("meta", "$.null_count").cast("long").alias("nc"))
        .groupBy("column").agg(F.sum("nc").alias("nulls")))
    return {r["column"]: r["nulls"] == 0 for r in nulls.collect()}


def tighten_nullability(spark: SparkSession, out_dir: str) -> T.StructType:
    """Derive required/optional per column from the encoded chunks and
    record it in table_meta.json; returns the tightened schema. Spark's
    JSON inference marks everything nullable — this pass recovers the
    reference's `required` emission for never-null fields."""
    req = required_columns(spark, out_dir)
    meta = _read_meta(out_dir)
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    tightened = T.StructType([
        T.StructField(f.name, f.dataType,
                      nullable=not req.get(f.name, False),
                      metadata=f.metadata)
        for f in schema.fields])
    meta["required"] = sorted(c for c, r in req.items() if r)
    meta["schema_tightened"] = tightened.json()
    _write_meta(out_dir, meta)
    return tightened


def verify_encoded(spark: SparkSession, src: DataFrame, out_dir: str,
                   mode: str = "join") -> dict:
    """Round-trip gate: decode chunk store, compare to src bit-identically.
    mode="checksum" verifies via per-column aggregate checksums with no
    join/table shuffle (see operators.encode.verify_roundtrip)."""
    meta = _read_meta((_batch_dirs(out_dir) or [out_dir])[0])
    decoded = read_encoded(spark, out_dir)
    row = verify_roundtrip(src, decoded, meta["key"],
                           mode=mode).collect()[0].asDict()
    row["ok"] = all(v == 0 for k, v in row.items()
                    if k.endswith("_bad") or k == "key_missing")
    return row
