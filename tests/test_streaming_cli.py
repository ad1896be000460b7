"""Streaming ingest + CLI smoke tests."""

import glob
import json
import os
import shutil
import subprocess
import sys

import pyspark.sql.functions as F
from conftest import plan_of

from json_to_parquet_spark.plans import pipeline
from json_to_parquet_spark.streaming import (encode_stream,
                                             windowed_event_counts)


def test_streaming_encode(spark, tmp_path):
    from json_to_parquet_spark.sources.webpages import synth_webpages
    src = str(tmp_path / "in")
    pages = synth_webpages(spark, 3000, seed=9)
    pages.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "enc")
    q = encode_stream(spark, src, out, str(tmp_path / "ckpt"), n_chunks=8)
    q.awaitTermination(timeout=300)
    decoded = pipeline.read_encoded(spark, out)
    assert decoded.count() == 3000
    assert pipeline.verify_encoded(spark, pages, out)["ok"]


def test_windowed_event_counts(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    res = windowed_event_counts(ev, window="1 hour")
    rows = res.collect()
    assert sum(r.n for r in rows) == ev.count()
    # windows are aligned hours
    assert all(r.window_start.minute == 0 for r in rows)


def test_streaming_windowed_from_stream(spark, tmp_path):
    """Same aggregation through an actual readStream source."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev")
    ev.write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(ev.schema).parquet(src))
    agg = windowed_event_counts(stream, window="1 hour")
    q = (agg.writeStream.format("memory").queryName("wincounts")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(timeout=300)
    total = spark.sql("select sum(n) as s from wincounts").collect()[0].s
    assert total == ev.count()


def test_stateful_dedup_stream(spark, tmp_path):
    """Cross-batch stateful dedup: batch 2 re-delivers half of batch 1;
    the re-delivered rows must be dropped, new rows kept."""
    from json_to_parquet_spark.sources.webpages import synth_webpages
    from json_to_parquet_spark.streaming import dedup_stream
    src = str(tmp_path / "in")
    b = synth_webpages(spark, 1500, seed=5).cache()    # full set
    a = b.filter(F.pmod(F.xxhash64("url"), F.lit(3)) != 0)  # ~2/3 subset
    n_a = a.count()
    a.write.mode("overwrite").parquet(src)             # batch 1

    out = str(tmp_path / "out")

    def run_once():
        q = (dedup_stream(spark.readStream.schema(a.schema).parquet(src))
             .writeStream.format("parquet").outputMode("append")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(timeout=300)

    run_once()
    got1 = spark.read.parquet(out)
    assert got1.count() == n_a
    assert got1.select("url").distinct().count() == n_a

    # batch 2: full set re-delivered (subset overlap + the new third)
    b.write.mode("append").parquet(src)
    run_once()
    got2 = spark.read.parquet(out)
    assert got2.count() == 1500, got2.count()  # re-delivered rows dropped
    assert got2.select("url").distinct().count() == 1500


def test_bloom_dedup_state_constant_size():
    """The north-scale property: Bloom state bytes per bucket must be
    CONSTANT across batches (the exact mode's blob grows with every key
    ever seen — at 10^12 urls that is terabytes of per-batch state
    churn). Drives the bucket function directly over 3 batches."""
    import numpy as np
    import pandas as pd

    from json_to_parquet_spark.streaming.encode_stream import \
        _bloom_bucket_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    bits = 1 << 16
    fn = _bloom_bucket_fn(["k", "v"], bloom_bits=bits, bloom_hashes=4)
    state = FakeState()
    rng = np.random.default_rng(7)
    all_keys = rng.choice(2**62, size=900, replace=False).astype(np.int64)
    seen_out: list[np.ndarray] = []
    sizes = []
    for b in range(3):
        # each batch: 300 new keys + re-delivery of every prior key
        new = all_keys[b * 300:(b + 1) * 300]
        redeliver = all_keys[:b * 300]
        kh = np.concatenate([redeliver, new, new[:5]])  # + in-batch dups
        pdf = pd.DataFrame({"k": kh.astype("int64"), "v": kh,
                            "__kh": kh.astype("int64")})
        out = list(fn((0,), iter([pdf]), state))
        kept = (pd.concat(out)["k"].to_numpy() if out
                else np.empty(0, np.int64))
        seen_out.append(kept)
        sizes.append(len(state.get[0]))
    assert sizes == [bits // 8] * 3          # constant state size
    # every batch kept exactly its 300 new keys (no FP at this load:
    # 900 keys in 2^16 bits, k=4 → FP ~ 1e-5; deterministic seed)
    for b in range(3):
        assert sorted(seen_out[b]) == sorted(all_keys[b * 300:(b + 1) * 300])


def test_cli_end_to_end(tmp_path):
    env_script = f"""
import sys; sys.path.insert(0, "/root/repo")
from json_to_parquet_spark.cli import main
import json
root = {str(tmp_path)!r}
assert main(["--cores", "8", "gen", root + "/pages", "--rows", "2000"]) == 0
assert main(["encode", root + "/pages", root + "/enc"]) == 0
assert main(["verify", root + "/pages", root + "/enc"]) == 0
assert main(["decode", root + "/enc", root + "/back"]) == 0
print("CLI_OK")
"""
    out = subprocess.run([sys.executable, "-c", env_script],
                         capture_output=True, text=True, timeout=900)
    assert "CLI_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def _meta_and_metrics(store):
    with open(os.path.join(store, "table_meta.json")) as fh:
        meta = json.load(fh)
    (metrics_file,) = glob.glob(os.path.join(store, "metrics_*.json"))
    with open(metrics_file) as fh:
        return meta, json.load(fh)


def test_streaming_encode_multi_batch(spark, tmp_path):
    """Two micro-batches must BOTH survive: chunk ids repeat across
    batches (url-hash pmod), so a shared store would let batch 2's
    chunk files replace batch 1's. Batch 2 pins batch 1's codec plan (no
    pass 1) and its single-row-group flag, so the read needs no shuffle,
    and a replay over its stale leftovers must not trust them."""
    from json_to_parquet_spark.sources.webpages import synth_webpages
    src = str(tmp_path / "in")
    all_pages = synth_webpages(spark, 2000, seed=11).cache()
    first = all_pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    second = all_pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) != 0)
    first.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "enc")
    ckpt = str(tmp_path / "ckpt")

    q = encode_stream(spark, src, out, ckpt, n_chunks=4)
    q.awaitTermination(timeout=300)
    second.write.mode("append").parquet(src)
    # leftovers of a crashed attempt at batch 1: a meta with another
    # n_chunks (resume would trust it) and a chunk no plan produces,
    # holding batch 0's rows (ghost duplicates if it survived)
    b0 = os.path.join(out, "batches", f"{0:010d}")
    b1 = os.path.join(out, "batches", f"{1:010d}")
    meta0, run0 = _meta_and_metrics(b0)
    shutil.copytree(os.path.join(b0, "chunks", "chunk_id=0"),
                    os.path.join(b1, "chunks", "chunk_id=99"))
    with open(os.path.join(b1, "table_meta.json"), "w") as fh:
        json.dump(dict(meta0, n_chunks=7), fh)
    q = encode_stream(spark, src, out, ckpt, n_chunks=3)
    q.awaitTermination(timeout=300)

    meta1, run1 = _meta_and_metrics(b1)
    for k in ("codecs", "codec_plan", "sort_order", "n_chunks"):
        assert meta1[k] == meta0[k], k
    assert meta1["n_chunks"] == 4
    assert run0["stats_s"] > 0 and run0["plan_source"] == "stats"
    assert run1["stats_s"] == 0 and run1["plan_source"] == "table_meta"
    assert not os.path.exists(os.path.join(b1, "chunks", "chunk_id=99"))

    assert meta1["single_row_group"] is True
    decoded = pipeline.read_encoded(spark, out)
    # both sub-stores carry the flag: the shuffle-free decode
    assert not [ln for ln in plan_of(decoded, mode="simple").splitlines()
                if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert decoded.count() == 2000
    assert decoded.select("url").distinct().count() == 2000
    assert pipeline.verify_encoded(spark, all_pages, out)["ok"]
