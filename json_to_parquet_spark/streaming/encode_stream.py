"""Structured Streaming surface.

The north rule's resumability story is batch (per-partition manifest
checkpoints, plans/pipeline.py), but the engine also exposes a streaming
ingest path for continuously-arriving web pages:

  readStream (json / parquet dir)
    → foreachBatch: run_encode(batch) into a PER-BATCH chunk store
      (out_dir/batches/<batch_id>). Chunk ids are url-hash based, so
      nearly every chunk id appears in every batch — encoding batches
      into one shared store would make each batch's chunk file replace
      the previous batches' file for the same chunk_id=N/ directory (only
      the last batch would survive). Per-batch stores make replayed batches
      idempotent (same batch_id → same directory, wiped and re-encoded)
      while `plans.pipeline.read_encoded` reads all sub-stores in one
      scan; checkpointLocation makes the stream itself resumable.
      The first batch runs pass 1 (sampled stats → codec plan); every
      later batch pins that plan and its n_chunks by seeding its own
      table_meta.json from the oldest sub-store, so run_encode's resume
      path skips pass 1 for it.

plus a classic watermark + tumbling-window aggregation over the events
table shape, demonstrating late-data handling with built-in operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WEBPAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

# table_meta.json fields a later micro-batch copies from the first one
_PINNED_META = ("schema", "key", "n_chunks", "codecs", "codec_plan",
                "sort_order")


def encode_stream(spark: SparkSession, src_dir: str, out_dir: str,
                  checkpoint_dir: str, fmt: str = "parquet",
                  n_chunks: int | None = None, trigger_once: bool = True):
    """Stream web pages from a directory into an encoded chunk store.

    Each micro-batch runs the batch pipeline into its own sub-store
    `out_dir/batches/<batch_id>`. The first batch runs pass 1 and chooses
    the codec plan; every later batch reuses it: the plan fields of the
    oldest other sub-store's table_meta.json (schema, key, n_chunks,
    codecs, codec_plan, sort_order) are written into the batch's own
    directory with this writer's WRITER_FLAGS, and run_encode(resume=True)
    takes them instead of re-sampling. `n_chunks` therefore sizes the
    first batch only; None lets run_encode size it (whole waves, one chunk
    per core for a small batch). A replayed batch wipes its own directory
    first, so a half-written attempt never survives. Returns the
    StreamingQuery."""
    import os
    import shutil

    from ..plans.pipeline import (WRITER_FLAGS, _batch_dirs, _read_meta,
                                  _write_meta, run_encode)

    reader = spark.readStream.format(fmt).schema(WEBPAGE_SCHEMA)
    stream = reader.load(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_dir = os.path.join(out_dir, "batches", f"{batch_id:010d}")
        shutil.rmtree(batch_dir, ignore_errors=True)
        pinned = _batch_dirs(out_dir)
        os.makedirs(batch_dir)
        if pinned:
            meta = _read_meta(pinned[0])
            _write_meta(batch_dir, {
                **{k: meta[k] for k in _PINNED_META if k in meta},
                **WRITER_FLAGS})
        run_encode(batch_df.sparkSession, batch_df, batch_dir,
                   n_chunks=n_chunks, resume=True, sample_fraction=0.5)

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _bloom_bucket_fn(cols: list[str], bloom_bits: int, bloom_hashes: int):
    """Per-bucket stateful function: FIXED-size Bloom-filter state.

    State is a `bloom_bits`-bit array (bloom_bits/8 bytes, constant
    across batches forever); membership = all k double-hashed probes set
    (Kirsch-Mitzenmacher: probe_i = h1 + i*h2 mod m). All probes are
    vectorized numpy over the batch's int64 key hashes — no per-row
    Python. False-positive rate after n inserts is (1-e^(-kn/m))^k — a
    false positive DROPS a never-seen row, so size m ≈ 10 bits per
    expected key per bucket for ~1% worst-case FP (e.g. the default
    2^23 bits ≈ 1 MiB holds ~1M keys/bucket at ~2%; at 10^12 urls scale
    `buckets` and `bloom_bits` up — state stays exactly
    buckets × bloom_bits/8 bytes, unlike the exact mode whose state
    grows with every key ever seen)."""
    import numpy as np
    import pandas as pd

    nbytes = bloom_bits // 8
    m = np.uint64(bloom_bits)

    def fn(key_tuple, pdfs, state):
        bits = (np.frombuffer(state.get[0], dtype=np.uint8).copy()
                if state.exists else np.zeros(nbytes, dtype=np.uint8))
        for pdf in pdfs:
            kh = pdf["__kh"].to_numpy().astype(np.uint64)
            h1 = kh
            h2 = ((kh >> np.uint64(17)) | (kh << np.uint64(47)))
            h2 = h2 * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)  # odd
            member = np.ones(len(kh), dtype=bool)
            probes = []
            for i in range(bloom_hashes):
                p = (h1 + np.uint64(i) * h2) % m
                probes.append(p)
                byte = bits[(p >> np.uint64(3)).astype(np.int64)]
                member &= (byte >> (p & np.uint64(7)).astype(np.uint8)) & 1 == 1
            first = ~pd.Series(kh).duplicated().to_numpy()
            keep = ~member & first
            if keep.any():
                for p in probes:
                    pk = p[keep]
                    np.bitwise_or.at(
                        bits, (pk >> np.uint64(3)).astype(np.int64),
                        np.left_shift(np.uint8(1),
                                      (pk & np.uint64(7)).astype(np.uint8)))
                yield pdf.loc[keep, cols]
        state.update((bits.tobytes(),))
    return fn


def _exact_bucket_fn(cols: list[str]):
    """Per-bucket stateful function: EXACT seen-set state (int64 blob of
    every key hash ever seen — state grows O(total keys); use only when
    false positives are unacceptable and key cardinality is bounded)."""
    import numpy as np
    import pandas as pd

    def fn(key_tuple, pdfs, state):
        seen = np.frombuffer(state.get[0], dtype=np.int64) \
            if state.exists else np.empty(0, dtype=np.int64)
        for pdf in pdfs:
            kh = pdf["__kh"].to_numpy()
            fresh_mask = ~np.isin(kh, seen)
            # also drop duplicates within the batch itself (keep first)
            first_idx = pd.Series(kh).duplicated().to_numpy()
            keep = fresh_mask & ~first_idx
            seen = np.union1d(seen, kh[keep])
            if keep.any():
                yield pdf.loc[keep, cols]
        state.update((seen.tobytes(),))
    return fn


def dedup_stream(pages: DataFrame, key: str = "url", buckets: int = 64,
                 mode: str = "bloom", bloom_bits: int = 1 << 23,
                 bloom_hashes: int = 4) -> DataFrame:
    """Custom STATEFUL streaming operator: drop rows whose key was already
    seen in ANY earlier micro-batch (exactly-once ingest de-duplication).

    Implementation: `applyInPandasWithState` over hash buckets of the key.
    Grouping by bucket (not by key) keeps state objects coarse:
    ~`buckets` state rows total instead of one per key.

    mode="bloom" (default): per-bucket FIXED-size Bloom filter — total
    state is exactly `buckets * bloom_bits / 8` bytes no matter how many
    keys stream through, the property that keeps this operator alive at
    10^12 urls (the exact seen-set would be ~8 TB of ever-growing state
    re-serialized every batch). Cost: a documented false-positive rate
    (see `_bloom_bucket_fn`) under which a never-seen row is dropped.
    mode="exact": the grow-forever exact set, for bounded key spaces."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = pages.schema
    state_schema = "seen binary"

    hashed = pages.withColumn("__kh", F.xxhash64(F.col(key))) \
                  .withColumn("__bucket",
                              F.pmod(F.col("__kh"), F.lit(buckets)))

    cols = [f.name for f in pages.schema.fields]
    fn = (_bloom_bucket_fn(cols, bloom_bits, bloom_hashes)
          if mode == "bloom" else _exact_bucket_fn(cols))

    return (hashed.groupBy("__bucket")
            .applyInPandasWithState(fn, outputStructType=out_schema,
                                    stateStructType=state_schema,
                                    outputMode="append",
                                    timeoutConf=GroupStateTimeout.NoTimeout))


def windowed_event_counts(events: DataFrame, window: str = "1 minute",
                          watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation (works on a batch OR
    streaming DataFrame with (ts, event_type, value))."""
    # event-time ops need TIMESTAMP (ltz); parquet sources may infer NTZ
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (src.groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("value_sum"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n", "value_sum"))
