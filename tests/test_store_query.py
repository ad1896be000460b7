"""Querying the encoded chunk store: selective column decode and
zone-map chunk pruning (the columnar payoffs of the format)."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T
from conftest import plan_of

from json_to_parquet_spark.plans import pipeline


@pytest.fixture(scope="module")
def store(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("store") / "enc")
    pipeline.run_encode(spark, pages, out, n_chunks=8)
    return out


def test_selective_column_decode(spark, pages, store):
    two = pipeline.read_encoded(spark, store, columns=["url", "lang"])
    assert two.columns == ["url", "lang"]
    assert two.count() == 2000
    got = {r.lang: r.cnt for r in
           two.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    want = {r.lang: r.cnt for r in
            pages.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert got == want


def test_zone_map_pruning_numeric(spark, tmp_path):
    """Range predicate on a numeric column must prune chunks via the
    manifest zone map and still return exactly the right rows."""
    df = spark.range(0, 20000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"),
        (F.col("id") * 2).alias("w"))
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=10)
    lo, hi = 5000, 5999
    got = pipeline.read_encoded(spark, out, where=("v", lo, hi))
    rows = got.select("v").collect()
    assert sorted(r.v for r in rows) == list(range(lo, hi + 1))


def test_zone_map_prunes_chunk_count(spark, tmp_path):
    """With a key aligned to the predicate column, pruning must actually
    skip most chunks (not just filter rows post-decode)."""
    df = spark.range(0, 20000).select(
        F.lpad(F.col("id").cast("string"), 8, "0").alias("k"),
        F.col("id").alias("v"))
    out = str(tmp_path / "enc2")
    # chunk id from xxhash is content-uniform → zone maps of v are wide;
    # use the manifest to measure what survives for a narrow range anyway
    pipeline.run_encode(spark, df, out, n_chunks=16, key="k")
    m = spark.read.parquet(out + "/manifest").filter("column = 'v'")
    total = m.select("chunk_id").distinct().count()
    live = m.filter((F.col("max_val").cast("double") >= 0)
                    & (F.col("min_val").cast("double") <= 10)).count()
    assert total == 16
    # hash chunking spreads values, but per-chunk minima still prune a
    # narrow v<=10 predicate to the chunks whose min is small enough
    assert 1 <= live < total
    # and the predicate path returns exactly the right rows
    got = pipeline.read_encoded(spark, out, where=("v", None, 10))
    assert got.count() == 11


def test_zone_map_keeps_chunks_missing_from_manifest(spark, tmp_path):
    """Crash window: a chunk present in the store but absent from the
    manifest (store write succeeded, manifest append did not) must be
    KEPT by zone-map pruning, not silently dropped."""
    df = spark.range(0, 5000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"))
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=6)
    # simulate the crash window: drop manifest rows for half the chunks
    m = spark.read.parquet(out + "/manifest")
    kept_manifest = m.filter(F.col("chunk_id") < 3)
    kept_manifest.write.mode("overwrite").parquet(str(tmp_path / "m2"))
    import shutil
    shutil.rmtree(out + "/manifest")
    shutil.move(str(tmp_path / "m2"), out + "/manifest")
    got = pipeline.read_encoded(spark, out, where=("v", 100, 4900))
    assert got.count() == 4801  # nothing lost from manifest-less chunks


def test_zone_map_duplicate_manifest_rows(spark, tmp_path):
    """A chunk listed twice in the manifest (a resumed run re-encoded it)
    is pruned or kept once: the read returns each row once."""
    import shutil
    df = spark.range(0, 6000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"))
    out = str(tmp_path / "enc_dup")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=6)
    m = spark.read.parquet(out + "/manifest")
    m.unionByName(m).write.parquet(str(tmp_path / "m_dup"))
    shutil.rmtree(out + "/manifest")
    shutil.move(str(tmp_path / "m_dup"), out + "/manifest")
    got = pipeline.read_encoded(spark, out, where=("v", 100, 199))
    assert sorted(r.v for r in got.select("v").collect()) == \
        list(range(100, 200))


def test_zone_map_null_bounds_kept(spark, tmp_path):
    """Chunks whose min/max are NULL (e.g. all-null values in the chunk /
    min-max failure) must be kept: NULL bounds prove nothing."""
    df = spark.range(0, 4000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"))
    out = str(tmp_path / "enc_nb")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=4)
    # null out the bounds of every manifest row for v
    m = spark.read.parquet(out + "/manifest")
    nulled = m.withColumn(
        "min_val", F.when(F.col("column") == "v",
                          F.lit(None).cast("string"))
        .otherwise(F.col("min_val"))).withColumn(
        "max_val", F.when(F.col("column") == "v",
                          F.lit(None).cast("string"))
        .otherwise(F.col("max_val")))
    nulled.write.mode("overwrite").parquet(str(tmp_path / "m3"))
    import shutil
    shutil.rmtree(out + "/manifest")
    shutil.move(str(tmp_path / "m3"), out + "/manifest")
    got = pipeline.read_encoded(spark, out, where=("v", 10, 20))
    assert got.count() == 11


def test_zone_map_int64_beyond_double_precision(spark, tmp_path):
    """int64 bounds above 2^53 must compare exactly (bigint, not double)."""
    base = 1 << 60
    df = spark.range(0, 3000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") + F.lit(base)).alias("v"))
    out = str(tmp_path / "enc_big")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=4)
    got = pipeline.read_encoded(spark, out, where=("v", base + 7, base + 9))
    assert sorted(r.v for r in got.select("v").collect()) == [
        base + 7, base + 8, base + 9]


def test_fresh_run_cleans_stale_layout(spark, tmp_path):
    """resume=False over a used out_dir must not leak ghost rows from an
    older (different n_chunks) layout or keep appending to the old
    manifest."""
    df = spark.range(0, 3000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"))
    out = str(tmp_path / "enc_fresh")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=9)
    smaller = df.filter(F.col("v") < 1000)
    pipeline.run_encode(spark, smaller, out, key="k", n_chunks=3,
                        resume=False)
    got = pipeline.read_encoded(spark, out)
    assert got.count() == 1000  # no ghost rows from the 9-chunk layout
    m = spark.read.parquet(out + "/manifest")
    assert m.select("chunk_id").distinct().count() == 3


def test_resume_filter_scales_to_many_chunks(spark, tmp_path, stage_tasks):
    """Resume filtering is a broadcast anti-join, not an isin literal
    list: with 50k completed chunks the plan must stay small, the encode
    shuffle must be sized by the chunks left to encode, and the run must
    complete."""
    import json
    import os
    df = spark.range(0, 500).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"))
    out = str(tmp_path / "enc_many")
    n_chunks = 60_000
    # seed a manifest claiming 50k chunks complete (both columns present)
    fake = spark.range(0, 50_000).selectExpr(
        "cast(id as int) as chunk_id").crossJoin(
        spark.createDataFrame([("k",), ("v",)], "column string"))
    fake = fake.select(
        "chunk_id", "column", F.lit("plain").alias("codec"),
        F.lit(0).cast("long").alias("n_rows"),
        F.lit(0).cast("long").alias("raw_bytes"),
        F.lit(0).cast("long").alias("enc_bytes"),
        F.lit("x").alias("checksum"), F.lit(0.0).alias("wall_ms"),
        F.lit(None).cast("string").alias("min_val"),
        F.lit(None).cast("string").alias("max_val"),
        F.lit("seed").alias("run_id"), F.lit("ok").alias("status"))
    os.makedirs(out, exist_ok=True)
    fake.coalesce(4).write.mode("overwrite").parquet(out + "/manifest")
    with open(out + "/table_meta.json", "w") as fh:
        json.dump({"schema": df.schema.json(), "key": "k",
                   "n_chunks": n_chunks, "codecs": {"k": "plain", "v": "for"},
                   "codec_plan": {"k": {"codec": "plain"},
                                  "v": {"codec": "for"}},
                   "sort_order": ["k"]}, fh)
    m, tasks = stage_tasks(lambda: pipeline.run_encode(
        spark, df, out, key="k", n_chunks=n_chunks))
    assert m["chunks_skipped"] == 50_000
    # the encode shuffle is sized by the 10k chunks left to encode, not
    # by n_chunks (one near-empty task per already-complete chunk)
    assert tasks and max(tasks) <= 10_000
    # only rows hashing OUTSIDE the 50k "done" chunks were encoded
    from json_to_parquet_spark.operators.chunking import with_chunk_id
    expect = with_chunk_id(df, "k", n_chunks) \
        .filter(F.col("__chunk_id") >= 50_000).count()
    assert m["rows"] == expect


def test_resume_ignores_non_ok_manifest_rows(spark, tmp_path):
    """Only manifest rows with status='ok' mark a chunk complete. Stores
    written by older engine versions can hold 'skipped' rows (a run that
    wrote no chunk files); a resume over such a store must re-encode
    those chunks, not trust them."""
    import shutil
    df = spark.range(0, 3000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"))
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=4)
    man = spark.read.parquet(out + "/manifest")
    skipped = man.withColumn("status", F.lit("skipped"))
    spark.createDataFrame(skipped.collect(), skipped.schema) \
        .write.mode("overwrite").parquet(out + "/manifest")
    shutil.rmtree(out + "/chunks")
    m = pipeline.run_encode(spark, df, out, key="k", n_chunks=4)
    assert m["chunks_skipped"] == 0 and m["chunks_encoded"] == 4
    assert pipeline.read_encoded(spark, out).count() == 3000


def test_direct_store_guard_non_local_master(spark, tmp_path):
    """A non-local master without the store_is_shared attestation must
    raise instead of silently scattering chunk files across
    executor-local disks (ADVICE r3 medium)."""
    import os

    import pytest as _pytest

    df = spark.range(0, 10).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"))

    class _FakeSC:
        master = "spark://cluster:7077"

    class _FakeSpark:
        sparkContext = _FakeSC()

    with _pytest.raises(ValueError, match="store_is_shared=True"):
        pipeline.run_encode(_FakeSpark(), df, str(tmp_path / "x"), key="k")
    assert not os.path.exists(tmp_path / "x")
    # an attested shared mount passes the guard (local spark does the run)
    m = pipeline.run_encode(spark, df, str(tmp_path / "y"), key="k",
                            n_chunks=2, store_is_shared=True)
    assert m["chunks_encoded"] == 2


@pytest.mark.parametrize("scheme", ["hdfs://nn:8020", "s3a://bucket",
                                    "file://"])
def test_uri_store_rejected(spark, tmp_path, monkeypatch, scheme):
    """A URI out_dir raises before anything is written: local file I/O
    would create a directory named after the scheme instead."""
    import os
    monkeypatch.chdir(tmp_path)
    df = spark.range(0, 10).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"))
    with pytest.raises(ValueError, match="pyarrow.fs"):
        pipeline.run_encode(spark, df, f"{scheme}{tmp_path}/enc", key="k")
    assert os.listdir(tmp_path) == []


def _sub_stores(spark, parts, out, **kw):
    """Encode each DataFrame in `parts` as one sub-store of a streaming
    store at `out` (the layout encode_stream writes)."""
    for i, part in enumerate(parts):
        pipeline.run_encode(spark, part, f"{out}/batches/{i:010d}", **kw)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("v"))


def test_streaming_store_colliding_chunk_ids(spark, tmp_path):
    """Both sub-stores hold chunks 0..3 and every chunk file lands in ONE
    scan task: each chunk must still decode on its own, keyed by
    (sub-store, chunk_id), on the map path and on the shuffle path."""
    from json_to_parquet_spark.operators.encode import verify_roundtrip
    out = str(tmp_path / "enc")
    _sub_stores(spark, [_kv(spark, 0, 1500), _kv(spark, 1500, 3000)], out,
                key="k", n_chunks=4)
    confs = {"spark.sql.files.maxPartitionBytes": "1g",
             "spark.sql.files.openCostInBytes": "0",
             "spark.sql.files.minPartitionNum": "1"}
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        got = pipeline.read_encoded(spark, out)
        assert got.rdd.getNumPartitions() == 1
        assert got.count() == 3000
        assert pipeline.verify_encoded(spark, _kv(spark, 0, 3000), out,
                                       mode="checksum")["ok"]
        # stores without the single-row-group flag take the shuffle decode
        for d in pipeline._batch_dirs(out):
            meta = pipeline._read_meta(d)
            del meta["single_row_group"]
            pipeline._write_meta(d, meta)
        shuffled = pipeline.read_encoded(spark, out)
        assert "FlatMapGroupsInArrow" in plan_of(shuffled)
        row = verify_roundtrip(_kv(spark, 0, 3000), shuffled, "k",
                               mode="checksum").collect()[0]
        assert row.rows == 3000 and row.key_missing == 0 and row.v_bad == 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_streaming_store_prunes_per_sub_store(spark, tmp_path,
                                              monkeypatch):
    """Zone-map pruning is per (sub-store, chunk_id): sub-store 0 holds
    v < 3000 and is pruned whole by a range inside sub-store 1, whose
    chunks with the same ids must be kept."""
    from json_to_parquet_spark.operators.encode import STORE_COL
    out = str(tmp_path / "enc")
    _sub_stores(spark, [_kv(spark, 0, 3000), _kv(spark, 3000, 6000)], out,
                key="k", n_chunks=4)
    seen = []  # the chunk rows that survive the anti-join, before decode
    decode = pipeline.decode_chunks
    monkeypatch.setattr(pipeline, "decode_chunks",
                        lambda chunks, *a, **kw: seen.append(chunks)
                        or decode(chunks, *a, **kw))
    got = pipeline.read_encoded(spark, out, where=("v", 4000, 4100))
    want = _kv(spark, 0, 6000).filter(F.col("v").between(4000, 4100)).count()
    assert got.count() == want == 101
    # the chunks the manifests predict: every chunk whose v range meets
    # [4000, 4100] — none of sub-store 0, all four of sub-store 1
    kept = {(d[-1], r.chunk_id) for d in ("0", "1")
            for r in spark.read.parquet(
                pipeline._manifest_path(f"{out}/batches/{int(d):010d}"))
            .filter("column = 'v'").collect()
            if int(r.max_val) >= 4000 and int(r.min_val) <= 4100}
    assert kept == {("1", c) for c in range(4)}
    read = {(r[STORE_COL][-1], r.chunk_id) for r in
            seen[0].select(STORE_COL, "chunk_id").distinct().collect()}
    assert read == kept


def test_zone_map_read_without_manifest(spark, tmp_path):
    """A store whose manifest/ is gone proves nothing: a range read keeps
    every chunk and returns exactly the rows in range."""
    import shutil
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, _kv(spark, 0, 3000), out, key="k",
                        n_chunks=4)
    shutil.rmtree(pipeline._manifest_path(out))
    got = pipeline.read_encoded(spark, out, where=("v", 100, 199))
    assert sorted(r.v for r in got.select("v").collect()) == \
        list(range(100, 200))


def test_zone_map_keeps_nan_rows(spark, tmp_path):
    """Spark orders NaN above every number, so `f >= lo` keeps NaN rows:
    a chunk holding NaN must not be pruned by its non-NaN maximum."""
    df = spark.range(0, 400).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.when(F.col("id") % 50 == 0, F.lit(float("nan")))
        .otherwise(F.col("id") / 100).alias("f"))
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=4)
    got = pipeline.read_encoded(spark, out, where=("f", 3.995, None))
    assert got.count() == df.filter(F.col("f") >= 3.995).count() == 8


def test_zone_map_old_store_keeps_nan_rows(spark, tmp_path):
    """A store without `nan_aware_max` may hold NaN-blind float maxima
    (older encoders skipped NaN): there a float max prunes nothing, so the
    NaN row survives a range above every finite value. A flagged store
    still leaves its NaN-free chunks out of the scan."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from json_to_parquet_spark.operators.chunking import (CHUNK_COL,
                                                          with_chunk_id)
    df = spark.range(0, 400).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.when(F.col("id") == 0, F.lit(float("nan")))
        .otherwise(F.col("id") / 100).alias("f"))
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=4)
    where = ("f", 3.995, None)  # above every finite value
    got = pipeline.read_encoded(spark, out, where=where)
    assert got.count() == df.filter(F.col("f") >= 3.995).count() == 1
    assert len(got.inputFiles()) == 1  # only the chunk holding the NaN
    # make it an old store: no flag, and the NaN chunk's max is its
    # largest finite value, as the NaN-blind encoder wrote it
    meta = pipeline._read_meta(out)
    del meta["nan_aware_max"]
    pipeline._write_meta(out, meta)
    blind = {r[0]: repr(r[1]) for r in with_chunk_id(df, "k", 4)
             .filter(~F.isnan("f")).groupBy(CHUNK_COL).agg(F.max("f"))
             .collect()}
    mdir = pipeline._manifest_path(out)
    m = pq.read_table(mdir)
    nan_row = pc.and_(pc.equal(m["column"], "f"),
                      pc.equal(m["max_val"], "nan"))
    assert pc.sum(nan_row).as_py() == 1
    old_max = [blind[c] if n else v for c, v, n in zip(
        m["chunk_id"].to_pylist(), m["max_val"].to_pylist(),
        nan_row.to_pylist())]
    m = m.set_column(m.schema.get_field_index("max_val"), "max_val",
                     pa.array(old_max, pa.string()))
    shutil.rmtree(mdir)
    (tmp_path / "enc" / "manifest").mkdir()
    pq.write_table(m, f"{mdir}/part-0.parquet")
    got = pipeline.read_encoded(spark, out, where=where)
    assert got.count() == 1 and len(got.inputFiles()) == 4


def _fake_store(tmp_path, rows, n_chunks=4):
    """A sub-store skeleton for _scan_paths: manifest rows (chunk_id,
    min_val, max_val) for column `c`, and n_chunks chunk_id=N dirs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tmp_path / "s"
    for c in range(n_chunks):
        (d / "chunks" / f"chunk_id={c}").mkdir(parents=True)
    (d / "chunks" / ".tmp-x.parquet").write_bytes(b"")  # hidden: ignored
    (d / "manifest").mkdir()
    ids, lo, hi = zip(*rows)
    pq.write_table(pa.table({
        "chunk_id": pa.array(ids, pa.int32()), "column": ["c"] * len(ids),
        "min_val": pa.array(lo, pa.string()),
        "max_val": pa.array(hi, pa.string())}),
        str(d / "manifest" / "part-0.parquet"))
    return str(d)


@pytest.mark.parametrize("dtype,rows,lo,hi,kept", [
    # int64 beyond 2^53 compares exactly; a float end compares as double
    (T.LongType(), [(0, "1152921504606846976", "1152921504606846977"),
                    (1, "1152921504606846978", "1152921504606846979")],
     (1 << 60) + 2, None, {1, 2, 3}),
    (T.LongType(), [(0, "0", "9"), (1, "10", "19"), (2, "0", "5")], 9.5,
     None, {1, 3}),
    # ends equal to a bound keep its chunk
    (T.LongType(), [(0, "0", "9"), (1, "10", "19")], 9, 10, {0, 1, 2, 3}),
    # one damaged bound: its end prunes nothing (chunk 1's max 5 < 12
    # would prune it); NULL bounds keep a chunk
    (T.LongType(), [(0, "0", "x"), (1, "0", "5")], 12, None, {0, 1, 2, 3}),
    (T.LongType(), [(0, None, None), (1, "10", "19")], None, 5, {0, 2, 3}),
    # any duplicate row proves exclusion; chunks 2, 3 have no rows
    (T.LongType(), [(0, "0", "9"), (0, "0", "99"), (1, "0", "99")], 50, None,
     {1, 2, 3}),
    # NaN bounds never prove exclusion
    (T.DoubleType(), [(0, "0.5", "nan"), (1, "0.5", "1.5")], 2.0, None,
     {0, 2, 3}),
    # an integral end past 2^24 meets a float column as float32: no prune
    (T.FloatType(), [(0, "0.0", "1.0")], 1 << 25, None, {0, 1, 2, 3}),
    (T.FloatType(), [(0, "0.0", "1.0")], 2, None, {1, 2, 3}),
    # strings compare as UTF-8 bytes (U+FFFF sorts below U+1F600)
    (T.StringType(), [(0, "a", "\uffff"), (1, "a", "\U0001f600")],
     "\U0001f000", None, {1, 2, 3}),
    # booleans have no exact comparison: nothing is pruned
    (T.BooleanType(), [(0, "False", "False")], True, None, {0, 1, 2, 3}),
])
def test_scan_paths_rules(tmp_path, dtype, rows, lo, hi, kept):
    import os
    d = _fake_store(tmp_path, rows)
    paths = pipeline._scan_paths(d, "c", dtype, lo, hi, True)
    if paths == [f"{d}/chunks"]:
        paths = [f"{d}/chunks/chunk_id={c}" for c in range(4)]
    assert {int(os.path.basename(p).split("=")[1]) for p in paths} == kept


def test_scan_paths_dates_and_timestamps(tmp_path):
    """Date ends compare as days; timestamp bounds are naive UTC and a
    naive end is local time, as PySpark's literal converter reads it."""
    import datetime as dt
    d = _fake_store(tmp_path, [(0, "2024-01-01", "2024-01-31"),
                               (1, "2024-02-01", "2024-02-29")], 2)
    paths = pipeline._scan_paths(d, "c", T.DateType(),
                                 dt.date(2024, 2, 10), None, True)
    assert paths == [f"{d}/chunks/chunk_id=1"]
    d = _fake_store(tmp_path / "t", [
        (0, "2024-01-01 00:00:00", "2024-01-01 00:59:59.999999"),
        (1, "2024-01-01 01:00:00", "2024-01-01 01:59:59")], 2)
    end = dt.datetime(2024, 1, 1, 1, tzinfo=dt.timezone.utc)
    for e in (end, end.astimezone().replace(tzinfo=None)):
        assert pipeline._scan_paths(d, "c", T.TimestampType(), e, None,
                                    True) == [f"{d}/chunks/chunk_id=1"]


T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC


@pytest.fixture(scope="module")
def ts_store(spark, tmp_path_factory):
    """Two sub-stores of (k, v, ts): v in [0, 3000) then [3000, 6000),
    ts v minutes after T0."""
    out = str(tmp_path_factory.mktemp("ts") / "enc")
    _sub_stores(spark, [_kv(spark, lo, lo + 3000).withColumn(
        "ts", F.timestamp_seconds(F.lit(T0) + F.col("v") * 60))
        for lo in (0, 3000)], out, key="k", n_chunks=4)
    return out


def _predicted(spark, out, col, keep):
    """(sub-store, chunk_id) pairs whose manifest bounds for `col` meet
    the range, computed by Spark from min_val/max_val (`keep`)."""
    return {(d, r.chunk_id) for d in (0, 1) for r in spark.read.parquet(
        pipeline._manifest_path(f"{out}/batches/{d:010d}"))
        .filter(F.col("column") == col).filter(keep).collect()}


def _scanned(df):
    """(sub-store, chunk_id) of every file the scan of `df` reads."""
    import re
    return {(int(m[1]), int(m[2])) for m in (
        re.search(r"batches/(\d+)/chunks/chunk_id=(\d+)/", f)
        for f in df.inputFiles())}


def test_pruned_read_scans_surviving_files_only(spark, ts_store):
    """Pruning is file-level: the scan's input files are exactly the
    files of the chunks the zone maps keep, one per chunk."""
    import glob
    got = pipeline.read_encoded(spark, ts_store, where=("v", None, 2))
    kept = _predicted(spark, ts_store, "v",
                      F.col("min_val").cast("bigint") <= 2)
    assert 1 <= len(kept) < 4  # part of sub-store 0, none of sub-store 1
    want = {f for d, c in kept for f in glob.glob(
        f"{ts_store}/batches/{d:010d}/chunks/chunk_id={c}/*.parquet")}
    files = {f.removeprefix("file://") for f in got.inputFiles()}
    assert files == want and len(want) == len(kept)
    assert sorted(r.v for r in got.select("v").collect()) == [0, 1, 2]
    # a range past every chunk scans nothing and returns no row
    none = pipeline.read_encoded(spark, ts_store, where=("v", 6000, None))
    assert none.inputFiles() == [] and none.count() == 0


def test_pruned_read_runs_no_extra_job(spark, ts_store, count_jobs):
    """The prune runs on the driver: a pruned count() starts as many
    Spark jobs as an unfiltered one (no manifest scan, no broadcast)."""
    n, pruned = count_jobs(lambda: pipeline.read_encoded(
        spark, ts_store, where=("v", 4000, 4100)).count())
    total, full = count_jobs(
        lambda: pipeline.read_encoded(spark, ts_store).count())
    assert (n, total) == (101, 6000)
    assert pruned == full


def test_pruned_timestamp_read_matches_manifest(spark, ts_store):
    """On a timestamp column the kept (sub-store, chunk) set is the one
    the manifest bounds predict when Spark compares them in the session
    time zone, and the read returns exactly the rows in range."""
    import datetime as dt
    utc = dt.timezone.utc
    lo = dt.datetime(2024, 1, 1, 0, 1, tzinfo=utc)  # v = 1
    hi = dt.datetime(2024, 1, 1, 0, 3, 30, tzinfo=utc)  # v = 3.5
    got = pipeline.read_encoded(spark, ts_store, columns=["v"],
                                where=("ts", lo, hi))
    kept = _predicted(spark, ts_store, "ts",
                      (F.col("max_val").cast("timestamp") >= F.lit(lo))
                      & (F.col("min_val").cast("timestamp") <= F.lit(hi)))
    assert {d for d, _ in kept} == {0}
    assert _scanned(got) == kept
    assert sorted(r.v for r in got.collect()) == [1, 2, 3]


def test_streaming_store_schema_mismatch_raises(spark, tmp_path):
    """A sub-store whose table_meta schema differs from the first one's
    must stop the read with a ValueError naming that sub-store."""
    import json
    import re
    out = str(tmp_path / "enc")
    _sub_stores(spark, [_kv(spark, 0, 500), _kv(spark, 500, 1000)], out,
                key="k", n_chunks=2)
    bad = f"{out}/batches/{1:010d}"
    with open(f"{bad}/table_meta.json") as fh:
        meta = json.load(fh)
    meta["schema"] = _kv(spark, 0, 1).withColumn("w", F.lit(1)).schema.json()
    with open(f"{bad}/table_meta.json", "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match=re.escape(f"sub-store {bad} ")):
        pipeline.read_encoded(spark, out)


def test_chunk_file_outside_chunk_dir_fails(spark, tmp_path):
    """A chunk file that sits outside every chunk_id=N/ directory has no
    chunk id: the read must fail, never decode it as chunk NULL."""
    import glob
    import shutil
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, _kv(spark, 0, 500), out, key="k", n_chunks=2)
    src = sorted(glob.glob(f"{out}/chunks/chunk_id=*/*.parquet"))[0]
    shutil.copy(src, f"{out}/chunks/part-stray.parquet")
    with pytest.raises(Exception, match="outside chunk_id=N/"):
        pipeline.read_encoded(spark, out).count()
    # a pruned read lists chunks/ on the driver and fails there
    with pytest.raises(ValueError, match="outside chunk_id=N/"):
        pipeline.read_encoded(spark, out, where=("v", 1000, None))
