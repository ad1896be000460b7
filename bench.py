"""Benchmark harness: headline queries + encode pipeline at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extra": {...}}

The encode benchmark generates the deterministic synthetic web-pages table
(BASELINE.json input_hint shape) and runs the full two-pass pipeline
(stats → codec selection → chunk encode → write chunk store + manifest);
throughput is raw Arrow bytes in / wall seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_WEBPAGE_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "150000"))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entry
    from json_to_parquet_spark.plans import pipeline
    from json_to_parquet_spark.session import get_spark
    from json_to_parquet_spark.sources.webpages import synth_webpages

    spark = get_spark(app="bench", cores=cpus, shuffle_partitions=cpus)

    # warm up JVM + parquet reader + python workers so the first timed
    # query doesn't absorb session cold-start
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.range(10000).selectExpr("sum(id)").collect()

    qs = entry.queries()
    bench_queries = [
        "q_doc_stats", "q_token_stats", "q_fingerprint_dupes",
        "q_lang_id_counts", "q_quality_by_source",
        "q_tpch_pricing", "q_revenue_by_nation", "q_top_order_per_customer",
        "q_top_lineitems", "q_events_json", "q_users_without_orders",
        "q_col_stats_lineitem", "q_ann_topk", "q_minhash_candidates",
        "q_simhash_bands", "q_embedding_neardup_lsh", "q_media_meta",
    ]
    timings: dict[str, float] = {}
    for name in bench_queries:
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        n = df.count()  # materialize the full plan
        timings[name] = round(time.perf_counter() - t0, 3)
        _ = n

    # reference-pipeline benchmark: JSON→Parquet conversion (the
    # reference's entire job, Manager.main) — single-threaded Java DOM
    # in the reference vs distributed spark.read.json here
    from json_to_parquet_spark.sources.ingest import json_to_parquet
    jdir = tempfile.mkdtemp(prefix="j2ps_json_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    docs.write.mode("overwrite").json(jdir + "/in")
    events.write.mode("append").json(jdir + "/in")
    # pad with web-pages text docs so the MB/s isn't fixed-cost-dominated
    synth_webpages(spark, 150000, seed=7, partitions=cpus * 2) \
        .drop("html", "warc_ts").write.mode("append").json(jdir + "/in")
    json_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(jdir + "/in") for f in fs
        if not f.startswith(("_", ".")))
    t0 = time.perf_counter()
    json_to_parquet(spark, jdir + "/in", jdir + "/out")
    json2parquet_s = time.perf_counter() - t0
    timings["q_json2parquet_reference_pipeline"] = round(json2parquet_s, 3)
    shutil.rmtree(jdir, ignore_errors=True)

    # encode pipeline benchmark on the input_hint-shaped table
    pages = synth_webpages(spark, BENCH_WEBPAGE_ROWS, seed=42,
                           partitions=cpus * 2)
    pages = pages.persist()
    n_rows = pages.count()  # materialize input so we time encode, not gen
    out = tempfile.mkdtemp(prefix="j2ps_bench_")
    t0 = time.perf_counter()
    metrics = pipeline.run_encode(spark, pages, out, sample_fraction=0.1)
    encode_s = time.perf_counter() - t0
    timings["q_encode_pipeline"] = round(encode_s, 3)
    pages.unpersist()

    # decode throughput: chunk store → full table materialization
    t0 = time.perf_counter()
    n_dec = pipeline.read_encoded(spark, out).count()
    decode_s = time.perf_counter() - t0
    timings["q_decode_pipeline"] = round(decode_s, 3)
    assert n_dec == n_rows
    shutil.rmtree(out, ignore_errors=True)

    gbps = metrics["raw_bytes"] / max(encode_s, 1e-9) / 1e9
    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_queries_plus_encode_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "extra": {
            "cpus": cpus,
            "encode_rows": n_rows,
            "n_chunks": metrics["n_chunks"],
            "encode_raw_bytes": metrics["raw_bytes"],
            "encode_enc_bytes": metrics["enc_bytes"],
            "encode_gb_per_s": round(gbps, 4),
            "compression_ratio": round(
                metrics["raw_bytes"] / max(metrics["enc_bytes"], 1), 3),
            "codecs": metrics["codecs"],
            "json2parquet_mb_per_s": round(
                json_bytes / 1e6 / max(json2parquet_s, 1e-9), 1),
        },
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
