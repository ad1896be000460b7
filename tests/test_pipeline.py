"""End-to-end pipeline tests: stats → selection → encode → decode →
bit-identity verify, plus resume-from-manifest semantics (SURVEY §5.2)."""

import pyspark.sql.functions as F
import pytest

from json_to_parquet_spark.operators.encode import (decode_chunks,
                                                    encode_chunks,
                                                    verify_roundtrip)
from json_to_parquet_spark.operators.selector import choose_codecs
from json_to_parquet_spark.operators.stats import collect_stats
from json_to_parquet_spark.plans import pipeline


def fingerprint(df):
    cols = [f.name for f in df.schema.fields]
    return df.select(F.expr(
        f"bit_xor(xxhash64({', '.join(cols)}))").alias("h")).collect()[0].h


def test_webpages_deterministic(spark, pages):
    from json_to_parquet_spark.sources.webpages import synth_webpages
    again = synth_webpages(spark, 2000, seed=42)
    assert fingerprint(pages) == fingerprint(again)
    assert pages.count() == 2000
    assert pages.select("url").distinct().count() == 2000


def test_stats_and_selection(spark, pages):
    stats = collect_stats(pages)
    assert stats["lang"]["distinct"] <= 35
    assert stats["url"]["non_null"] == 2000
    assert stats["warc_ts"]["avg_run"] > 3  # runs of 16 by construction
    codecs = choose_codecs(stats, pages.schema)
    assert codecs["lang"] == "dict"
    assert codecs["warc_ts"] == "rle"
    assert codecs["text"] in ("fsst", "plain")


def test_roundtrip_all_codecs(spark, pages):
    stats = collect_stats(pages)
    codecs = choose_codecs(stats, pages.schema)
    chunks = encode_chunks(pages, "url", codecs, n_chunks=7).cache()
    # every chunk present, one row per (chunk, column)
    per = chunks.groupBy("chunk_id").count().collect()
    assert len(per) == 7 and all(r["count"] == 5 for r in per)
    decoded = decode_chunks(chunks, pages.schema)
    row = verify_roundtrip(pages, decoded, "url").collect()[0].asDict()
    assert row["rows"] == 2000
    assert all(v == 0 for k, v in row.items() if k.endswith("_bad"))
    assert row["key_missing"] == 0


def test_compression_beats_raw(spark, pages):
    codecs = choose_codecs(collect_stats(pages), pages.schema)
    chunks = encode_chunks(pages, "url", codecs, n_chunks=4)
    agg = chunks.agg(F.sum("raw_bytes").alias("r"),
                     F.sum("enc_bytes").alias("e")).collect()[0]
    assert agg["e"] < agg["r"]


def test_pipeline_run_and_verify(spark, pages, tmp_path):
    out = str(tmp_path / "enc")
    m = pipeline.run_encode(spark, pages, out, n_chunks=6)
    assert m["chunks_encoded"] == 6 and m["rows"] == 2000
    res = pipeline.verify_encoded(spark, pages, out)
    assert res["ok"], res
    # re-run: everything complete → nothing encoded
    m2 = pipeline.run_encode(spark, pages, out, n_chunks=6)
    assert m2["chunks_encoded"] == 0 and m2["chunks_skipped"] == 6


class _NoJvmSession:
    """A session without `_jvm`/`_jsc`, like a Spark Connect client;
    everything else forwards to the real session."""

    def __init__(self, spark):
        self._spark = spark

    def __getattr__(self, name):
        if name in ("_jvm", "_jsc"):
            raise AttributeError(name)
        return getattr(self._spark, name)


def test_completed_chunks_without_jvm(spark, pages, tmp_path):
    out = str(tmp_path / "enc")
    proxy = _NoJvmSession(spark)
    n_cols = len(pages.columns)
    assert pipeline.completed_chunks(proxy, out, n_cols) is None
    pipeline.run_encode(spark, pages, out, n_chunks=4, max_chunks_this_run=2)
    done = pipeline.completed_chunks(proxy, out, n_cols)
    assert sorted(r.chunk_id for r in done.collect()) == [0, 1]


def test_pipeline_resume_identical(spark, pages, tmp_path):
    """Kill-and-resume: partial run + resumed run == single-shot run."""
    out_a = str(tmp_path / "partial")
    m1 = pipeline.run_encode(spark, pages, out_a, n_chunks=6,
                             max_chunks_this_run=2)
    assert m1["chunks_encoded"] == 2
    m2 = pipeline.run_encode(spark, pages, out_a, n_chunks=6)
    assert m2["chunks_skipped"] == 2 and m2["chunks_encoded"] == 4

    # terminal iteration of the incremental loop: all chunks complete AND
    # max_chunks_this_run still set → must no-op, not crash (empty
    # createDataFrame raises CANNOT_INFER_EMPTY_SCHEMA when unguarded)
    m3 = pipeline.run_encode(spark, pages, out_a, n_chunks=6,
                             max_chunks_this_run=2)
    assert m3["chunks_encoded"] == 0 and m3["chunks_skipped"] == 6
    assert m3["run_id"] is None
    assert list(m3) == list(m2)  # a no-op run reports the same metrics

    out_b = str(tmp_path / "oneshot")
    pipeline.run_encode(spark, pages, out_b, n_chunks=6)

    ca = spark.read.parquet(out_a + "/chunks").select(
        "chunk_id", "column", "checksum").orderBy("chunk_id", "column")
    cb = spark.read.parquet(out_b + "/chunks").select(
        "chunk_id", "column", "checksum").orderBy("chunk_id", "column")
    assert [r.asDict() for r in ca.collect()] == [r.asDict() for r in cb.collect()]
    assert pipeline.verify_encoded(spark, pages, out_a)["ok"]


def test_whole_waves_sizing():
    """n_chunks is the smallest multiple of the parallelism whose chunks
    fit the byte target."""
    t = 32 << 20
    waves = pipeline._whole_waves
    assert [waves(b, t, 4) for b in (0, 1000, 4 * t, 4 * t + 1, 5 * t,
                                     8 * t, 8 * t + 1)] == \
        [4, 4, 4, 8, 8, 8, 12]
    assert [waves(b, t, 1) for b in (1, t, t + 1, 7 * t)] == [1, 1, 2, 7]


def test_fresh_encode_one_chunk_per_core(spark, tmp_path, stage_tasks):
    """A small fresh store without n_chunks gets one chunk per core: the
    meta records defaultParallelism chunks, the grouped encode runs that
    many tasks, and each writes one chunk_id=N file."""
    import os
    p = spark.sparkContext.defaultParallelism
    df = spark.range(0, 3000, numPartitions=1).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") % 7).alias("v"))
    out = str(tmp_path / "enc")
    m, tasks = stage_tasks(lambda: pipeline.run_encode(
        spark, df, out, key="k"))
    assert m["n_chunks"] == pipeline._read_meta(out)["n_chunks"] == p
    assert m["chunks_encoded"] == p and max(tasks) == p, tasks
    chunks = pipeline._chunks_path(out)
    assert sorted(os.listdir(chunks)) == sorted(f"chunk_id={c}"
                                                for c in range(p))
    assert all(len([f for f in os.listdir(f"{chunks}/chunk_id={c}")
                    if f[0] not in "._"]) == 1 for c in range(p))
    assert pipeline.verify_encoded(spark, df, out)["ok"]


def test_resume_keeps_meta_n_chunks(spark, pages, tmp_path):
    """A resume without n_chunks keeps the n_chunks table_meta.json pins,
    whatever the sizing rule would pick for a fresh store."""
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, pages, out, n_chunks=16, max_chunks_this_run=2)
    m = pipeline.run_encode(spark, pages, out)
    assert m["n_chunks"] == pipeline._read_meta(out)["n_chunks"] == 16
    assert m["chunks_skipped"] == 2 and m["chunks_encoded"] == 14
    assert pipeline.verify_encoded(spark, pages, out)["ok"]


def test_checksum_verify_mode(spark, pages, tmp_path):
    """Aggregate-checksum verify: no join, no table-data shuffle — and it
    must still detect a genuinely corrupted chunk in the store."""
    import contextlib
    import io
    import shutil

    import pyspark.sql.functions as F
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, pages, out, n_chunks=4)
    res = pipeline.verify_encoded(spark, pages, out, mode="checksum")
    assert res["ok"], res

    # plan hygiene: zero SortMergeJoin, zero hash-partition Exchange of
    # table rows (only single-row partial-agg gathers remain)
    decoded = pipeline.read_encoded(spark, out)
    from json_to_parquet_spark.operators.encode import verify_roundtrip
    vdf = verify_roundtrip(pages, decoded, "url", mode="checksum")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        vdf.explain("simple")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan

    # REAL chunk corruption: replace one chunk directory with the same
    # chunk from a store built over tampered rows (same n_chunks & key →
    # identical layout, different payload bytes) — must be detected
    tampered = pages.withColumn(
        "text", F.when(F.xxhash64("url") % 17 == 0,
                       F.concat(F.col("text"), F.lit("X"))).otherwise(
            F.col("text")))
    out_t = str(tmp_path / "enc_t")
    pipeline.run_encode(spark, tampered, out_t, n_chunks=4)
    shutil.rmtree(f"{out}/chunks/chunk_id=0")
    shutil.copytree(f"{out_t}/chunks/chunk_id=0", f"{out}/chunks/chunk_id=0")
    res_bad = pipeline.verify_encoded(spark, pages, out, mode="checksum")
    assert not res_bad["ok"], res_bad
    assert res_bad["text_bad"] == 1


def test_verify_detects_corruption(spark, pages, tmp_path):
    """The round-trip gate must FAIL when the source is perturbed — a
    verifier that can't fail is no gate."""
    import pyspark.sql.functions as F
    out = str(tmp_path / "enc_c")
    pipeline.run_encode(spark, pages, out, n_chunks=3)
    tampered = pages.withColumn(
        "text", F.when(F.xxhash64("url") % 100 == 0,
                       F.concat(F.col("text"), F.lit("!"))).otherwise(
            F.col("text")))
    res = pipeline.verify_encoded(spark, tampered, out)
    assert not res["ok"]
    assert res["text_bad"] > 0 and res["lang_bad"] == 0


def test_empty_input_pipeline(spark, tmp_path):
    """Empty source: pipeline completes with zero chunks, no crash."""
    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, "
            "lang string")
    m = pipeline.run_encode(spark, empty, str(tmp_path / "e"), n_chunks=4)
    assert m["rows"] == 0 and m["chunks_encoded"] == 0


def test_decode_via_read_encoded(spark, pages, tmp_path):
    out = str(tmp_path / "enc2")
    pipeline.run_encode(spark, pages, out, n_chunks=3)
    decoded = pipeline.read_encoded(spark, out)
    assert decoded.count() == 2000
    assert fingerprint(decoded.orderBy("url")) == fingerprint(pages.orderBy("url"))


def _manifest_metrics(spark, out, run_id, key):
    """Run metrics recomputed from a manifest read-back."""
    import json
    man = spark.read.parquet(out + "/manifest") \
        .filter(F.col("run_id") == run_id)
    g = man.agg(F.countDistinct("chunk_id").alias("chunks_encoded"),
                F.sum(F.when(F.col("column") == key, F.col("n_rows")))
                .alias("rows"),
                F.sum("raw_bytes").alias("raw_bytes"),
                F.sum("enc_bytes").alias("enc_bytes")).first().asDict()
    with open(out + "/table_meta.json") as fh:
        codecs = json.load(fh)["codecs"]
    g["codec_fallbacks"] = sum(r.codec != codecs[r.column] for r in
                               man.select("column", "codec").collect())
    return g


def test_run_metrics_match_manifest(spark, pages, tmp_path):
    """The observed run metrics equal a manifest read-back on a fresh
    run, a partial run and its resume. warc_ts is forced to fsst, which
    the integer lane downgrades: one codec fallback per chunk."""
    codecs = {"url": "plain", "warc_ts": "fsst", "html": "plain",
              "text": "fsst", "lang": "dict"}
    runs = []
    for name, kw in (("fresh", {}), ("partial", {"max_chunks_this_run": 2}),
                     ("partial", {})):
        out = str(tmp_path / name)
        runs.append((out, pipeline.run_encode(
            spark, pages, out, n_chunks=5, codecs=codecs, **kw)))
    assert [m["chunks_encoded"] for _, m in runs] == [5, 2, 3]
    for out, m in runs:
        expect = _manifest_metrics(spark, out, m["run_id"], "url")
        assert {k: m[k] for k in expect} == expect
        assert m["codec_fallbacks"] == m["chunks_encoded"]


def test_table_meta_written_once(spark, pages, tmp_path, monkeypatch):
    """A fresh run writes table_meta.json once, flag included; a resume
    never touches it (a store first written without the flag keeps its
    shuffle decode)."""
    import os
    out = str(tmp_path / "enc")
    writes = []
    write_meta = pipeline._write_meta
    monkeypatch.setattr(pipeline, "_write_meta",
                        lambda d, m: (writes.append(d), write_meta(d, m)))
    pipeline.run_encode(spark, pages, out, n_chunks=4, max_chunks_this_run=2)
    assert writes == [out]
    assert pipeline._read_meta(out)["single_row_group"] is True
    before = os.stat(out + "/table_meta.json")
    m = pipeline.run_encode(spark, pages, out, n_chunks=4)
    assert m["chunks_encoded"] == 2 and writes == [out]
    after = os.stat(out + "/table_meta.json")
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino,
                                                 before.st_mtime_ns)


def test_meta_rewrite_failure_keeps_previous(tmp_path, monkeypatch):
    """A table_meta.json rewrite that fails part-way leaves the previous
    meta readable and no temp file behind."""
    import json
    import os
    out = str(tmp_path)
    pipeline._write_meta(out, {"n_chunks": 4})

    def broken_dump(obj, fh, **kw):
        fh.write('{"n_chunks": ')
        raise OSError("disk full")
    monkeypatch.setattr(json, "dump", broken_dump)
    with pytest.raises(OSError, match="disk full"):
        pipeline._write_meta(out, {"n_chunks": 8})
    monkeypatch.undo()
    assert pipeline._read_meta(out) == {"n_chunks": 4}
    assert os.listdir(out) == ["table_meta.json"]


def test_fresh_encode_job_budget(spark, tmp_path, count_jobs):
    """A fresh run_encode of a JSON source: row count, pass 1 (one job),
    the encode and the manifest write. A further collector or read-back
    would break this budget."""
    from json_to_parquet_spark.sources import ingest
    p = tmp_path / "docs.json"
    p.write_text("".join(
        f'{{"id": {i}, "kind": "k{i % 3}", "score": {i * 0.5}, '
        f'"body": "text {i} of the fixture"}}\n' for i in range(300)))
    src = ingest.ingest_json(spark, str(p))
    m, jobs = count_jobs(lambda: pipeline.run_encode(
        spark, src, str(tmp_path / "enc"), key="id", n_chunks=4))
    assert m["rows"] == 300 and m["chunks_encoded"] == 4
    assert jobs <= 6, jobs
