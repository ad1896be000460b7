"""Unit tests: codec selector rules, stats collectors, codec plan build,
shared-FSST collision fallback, and reference-parity ingest semantics."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_to_parquet_spark.functions.codecs import fsst
from json_to_parquet_spark.functions.codecs.column import (decode_column,
                                                           encode_column)
from json_to_parquet_spark.operators.selector import (build_codec_plan,
                                                      choose_codec,
                                                      choose_codecs)
from json_to_parquet_spark.operators.stats import collect_stats


def test_selector_rules():
    long_t, str_t = T.LongType(), T.StringType()
    assert choose_codec({"rows": 1000, "non_null": 1000, "distinct": 5,
                         "avg_run": 10.0}, long_t) == "rle"
    assert choose_codec({"rows": 1000, "non_null": 1000, "distinct": 50,
                         "avg_run": 1.0}, long_t) == "dict"
    assert choose_codec({"rows": 1000, "non_null": 1000, "distinct": 900,
                         "avg_run": 1.0}, long_t) == "for"
    assert choose_codec({"rows": 1000, "non_null": 1000, "distinct": 10,
                         "avg_run": 1.0}, str_t) == "dict"
    assert choose_codec({"rows": 1000, "non_null": 1000, "distinct": 950,
                         "avg_run": 1.0, "distinct_bytes": 80,
                         "top_byte_frac": 0.1}, str_t) == "fsst"
    assert choose_codec({"rows": 1000, "non_null": 1000, "distinct": 950,
                         "avg_run": 1.0, "distinct_bytes": 256,
                         "top_byte_frac": 0.004}, str_t) == "plain"


def test_collect_stats_values(spark):
    df = spark.createDataFrame(
        [(i, "x" * 10, None if i % 2 else float(i)) for i in range(100)],
        "a long, s string, f double")
    stats = collect_stats(df)
    assert stats["a"]["rows"] == 100 and stats["a"]["non_null"] == 100
    assert stats["f"]["non_null"] == 50
    assert stats["s"]["avg_len"] == 10.0
    assert stats["s"]["distinct"] == 1
    assert stats["s"]["avg_run"] > 10  # constant column = one long run
    assert stats["s"]["distinct_bytes"] == 1
    assert stats["s"]["sample_blob"].startswith(b"xxxx")
    assert stats["a"]["min"] == "0" and stats["a"]["max"] == "99"


def test_collect_stats_is_one_job(spark, count_jobs):
    df = spark.range(0, 5000, 1, 4).selectExpr(
        "id", "cast(id % 7 as string) as s",
        "cast(cast(id as string) as binary) as b")
    for fraction in (1.0, 0.5):
        _, jobs = count_jobs(
            lambda: collect_stats(df, sample_fraction=fraction))
        assert jobs == 1, fraction


def test_collect_stats_distinct_estimates(spark):
    """Counts are exact; HyperLogLog distinct estimates are within
    max(2, 2%) of countDistinct, also with -0.0, NaN and nulls."""
    i = F.col("id")
    df = spark.range(0, 100_000, 1, 4).select(
        (i % 50_000).alias("big"),
        F.concat(F.lit("v"), (i % 20_000).cast("string")).alias("s"),
        F.when(i % 10 == 0, None).when(i % 10 == 1, F.lit(-0.0))
        .when(i % 10 == 2, F.lit(float("nan"))).when(i % 10 == 3, F.lit(0.0))
        .otherwise((i % 500) / 7.0).alias("d"),
        (i % 3).alias("three"))
    stats = collect_stats(df)
    exact = df.agg(*[F.count(c).alias(f"{c}_nn") for c in df.columns],
                   *[F.countDistinct(c).alias(c) for c in df.columns]).first()
    for c in df.columns:
        assert stats[c]["rows"] == 100_000
        assert stats[c]["non_null"] == exact[f"{c}_nn"]
        err = abs(stats[c]["distinct"] - exact[c])
        assert err <= max(2, 0.02 * exact[c]), (c, stats[c]["distinct"])


def test_collect_stats_empty_and_all_null(spark):
    empty = spark.createDataFrame(
        [], "a long, s string, b binary, t timestamp")
    stats = collect_stats(empty)
    assert all(s["rows"] == 0 and s["distinct"] == 0 for s in stats.values())
    assert stats["s"]["sample_blob"] == b"" and stats["a"]["min"] is None
    nulls = spark.range(0, 50).select(
        "id", F.lit(None).cast("string").alias("s"),
        F.lit(None).cast("double").alias("d"))
    stats = collect_stats(nulls)
    for c in ("s", "d"):
        assert stats[c]["non_null"] == 0 and stats[c]["distinct"] == 0
    assert stats["s"]["avg_len"] is None and stats["d"]["max"] is None
    assert stats["id"]["min"] == "0" and stats["id"]["max"] == "49"


def test_collect_stats_sample_blob_matches_limit(spark):
    """The blob is the first 400 sampled rows in partition order, as
    df.sample().limit(400) returns them, cut at SAMPLE_BLOB_BYTES; here
    it spans partitions and one column hits the byte cap."""
    from json_to_parquet_spark.operators.stats import SAMPLE_BLOB_BYTES
    i = F.col("id")
    df = spark.range(0, 1600, 1, 8).select(
        i, F.when(i % 5 == 0, None)
        .otherwise(F.concat(F.lit("page-"), i.cast("string"))).alias("s"),
        F.expr("cast(repeat(cast(id as string), 300) as binary)").alias("big"))
    f, seed = 0.5, 42
    stats = collect_stats(df, sample_fraction=f, seed=seed)
    rows = df.sample(fraction=f, seed=seed).select("s", "big") \
        .limit(400).collect()
    for c in ("s", "big"):
        ref = b"".join(v.encode() if isinstance(v, str) else bytes(v)
                       for v in (r[c] for r in rows) if v is not None)
        assert stats[c]["sample_blob"] == ref[:SAMPLE_BLOB_BYTES], c
    assert len(stats["big"]["sample_blob"]) == SAMPLE_BLOB_BYTES


def test_collect_stats_many_partitions(spark):
    """With many partitions the blob is still limit()'s (here its 400
    rows span ~80 partitions), and the driver takes in one partial per
    task only up to _DRIVER_PARTIALS tasks; past that a second job folds
    them to sqrt(tasks) first."""
    import math
    import uuid

    from json_to_parquet_spark.operators.stats import (SAMPLE_BLOB_BYTES,
                                                       _DRIVER_PARTIALS)
    sc, i = spark.sparkContext, F.col("id")
    st = sc.statusTracker()
    for parts in (100, _DRIVER_PARTIALS + 44):
        df = spark.range(0, 10 * parts, 1, parts).select(
            i, F.when(i % 5 == 0, None)
            .otherwise(F.concat(F.lit("page-"), i.cast("string"))).alias("s"))
        group = uuid.uuid4().hex
        sc.setJobGroup(group, "counted")
        try:
            stats = collect_stats(df, sample_fraction=0.5, seed=3)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = st.getJobIdsForGroup(group)
        last = max(s for j in jobs for s in st.getJobInfo(j).stageIds)
        folded = parts > _DRIVER_PARTIALS
        assert len(jobs) == 1 + folded, parts
        assert st.getStageInfo(last).numTasks == \
            (math.isqrt(parts - 1) + 1 if folded else parts)
        sample = df.sample(fraction=0.5, seed=3)
        exact = sample.agg(F.count("*").alias("n"), F.count("s").alias("nn"),
                           F.countDistinct("id").alias("d")).first()
        assert stats["s"]["rows"] == exact["n"]
        assert stats["s"]["non_null"] == exact["nn"]
        assert abs(stats["id"]["distinct"] - exact["d"]) <= 0.02 * exact["d"]
        ref = b"".join(r["s"].encode() for r in sample.limit(400).collect()
                       if r["s"] is not None)
        assert stats["s"]["sample_blob"] == ref[:SAMPLE_BLOB_BYTES], parts


def test_codec_plan_builds_shared_fsst(spark):
    df = spark.createDataFrame(
        [(i, "the quick brown fox " * 20) for i in range(500)],
        "id long, text string")
    stats = collect_stats(df)
    codecs = choose_codecs(stats, df.schema)
    plan = build_codec_plan(stats, df.schema, codecs)
    if plan["text"]["codec"] == "fsst":
        assert plan["text"].get("symbols"), "shared table expected"
        assert len(plan["text"]["symbols"]) == len(plan["text"]["codes"])


def test_shared_table_collision_falls_back():
    """A chunk containing a 'free' code byte must not be corrupted: the
    encoder detects the collision and builds a chunk-local table."""
    text = b"the quick brown fox jumps over the dog " * 200
    free = fsst.free_code_bytes(text)
    symbols, codes = fsst.build_symbol_table(text, free)
    assert symbols
    # poison: a value containing the first shared code byte
    poison = bytes([codes[0]]) + b"the quick brown fox"
    vals = [text.decode()] * 50 + [poison.decode("latin1")]
    arr = pa.array(vals)
    payload, meta = encode_column(
        arr, {"codec": "fsst", "symbols": symbols, "codes": codes})
    assert decode_column(payload, meta).equals(arr)


def test_shared_table_applies_when_clean():
    text = b"columnar lightweight compression engine " * 100
    free = fsst.free_code_bytes(text)
    symbols, codes = fsst.build_symbol_table(text, free)
    arr = pa.array([text.decode()] * 20)
    payload, meta = encode_column(
        arr, {"codec": "fsst", "symbols": symbols, "codes": codes})
    assert meta["codec"] == "fsst"
    assert len(payload) < sum(len(v) for v in arr.to_pylist())
    assert decode_column(payload, meta).equals(arr)


def test_ingest_reference_semantics(spark, tmp_path):
    """FIXTURES.md F2: widening, all-null drop, nested-array flattening,
    empty-struct nullification (reference src/JsonFactory.java behaviors)."""
    from json_to_parquet_spark.sources import ingest
    p = tmp_path / "docs.json"
    p.write_text(
        '{"a": 1, "b": 2.5, "c": "s", "d": true, "e": null}\n'
        '{"a": 3.0, "c": "t", "e": null}\n'
        '{"g": {"x": 1, "y": [1, 2, 3]}, "arr": [{"k": 1}, {"k": 2}]}\n'
        '{"g": {"x": null}, "empty": {}}\n'
        '{"nested": [[1, 2], [3]], "mixed": [1, 2.5, 3]}\n')
    df = ingest.ingest_json(spark, str(p))
    dt = dict(df.dtypes)
    assert dt["a"] == "double"          # long→double widening
    assert "e" not in dt                # always-NULL dropped
    assert dt["mixed"] == "array<double>"  # in-array widening
    flat = ingest.flatten_nested_arrays(df)
    assert dict(flat.dtypes)["nested"] == "array<bigint>"
    fixed = ingest.empty_structs_to_null(flat)
    g_vals = [r.g for r in fixed.select("g").collect()]
    assert None in g_vals               # {"x": null} struct → NULL


def test_ingest_concatenated_docs(spark, tmp_path):
    """Back-to-back {...}{...} files (the reference splitter's input,
    src/JsonFormater.java:32-46) — including braces inside strings and
    multi-line pretty-printed docs mixed with concatenated ones."""
    from json_to_parquet_spark.sources import ingest
    p = tmp_path / "concat.json"
    p.write_text(
        '{"a": 1, "s": "has } brace"}{"a": 2, "s": "x"}\n'
        '{\n  "a": 3,\n  "s": "multi\\nline"\n}{"a": 4, "s": "{{"}'
    )
    df = ingest.ingest_json_concat(spark, str(p))
    rows = {r.a: r.s for r in df.collect()}
    assert rows == {1: "has } brace", 2: "x", 3: "multi\nline", 4: "{{"}


def test_split_concat_docs_escapes():
    from json_to_parquet_spark.sources.ingest import _split_concat_docs
    # escaped quote inside string, backslash runs, nested objects
    blob = r'{"k": "a\"b}", "n": {"x": 1}}{"k": "c\\"}'
    docs = _split_concat_docs(blob)
    assert docs == [r'{"k": "a\"b}", "n": {"x": 1}}', r'{"k": "c\\"}']
    assert _split_concat_docs("") == []
    assert _split_concat_docs("   \n ") == []


def test_split_concat_docs_lenient_instring_newlines(spark, tmp_path):
    """Raw \\n/\\r INSIDE string values (illegal JSON that lenient
    parsers accept) must survive ingest bit-exactly — escaped to \\\\n,
    not flattened to spaces — while out-of-string newlines still
    collapse so each emitted document is one line (ADVICE r3)."""
    import json as _json

    from json_to_parquet_spark.sources import ingest
    blob = '{"a": 1,\n "s": "line1\nline2\r"}{"a": 2, "s": "x\\n"}'
    docs = ingest._split_concat_docs(blob)
    assert all("\n" not in d and "\r" not in d for d in docs)
    assert [_json.loads(d) for d in docs] == [
        {"a": 1, "s": "line1\nline2\r"}, {"a": 2, "s": "x\n"}]
    p = tmp_path / "lenient.json"
    p.write_text(blob)
    rows = {r.a: r.s for r in ingest.ingest_json_concat(spark, str(p)).collect()}
    assert rows == {1: "line1\nline2\r", 2: "x\n"}


def test_write_table_seam(spark, tmp_path):
    """Sink seam: the explicit `iceberg_available` config probe decides
    the branch. No Iceberg runtime in the sandbox → path-shaped target,
    parquet fallback fires and round-trips; the iceberg branch (an
    identifier-shaped target via writeTo) is exercised by mocking a
    session whose conf registers the Iceberg extensions."""
    from json_to_parquet_spark.sources.webpages import (iceberg_available,
                                                        load_table,
                                                        write_table)
    assert not iceberg_available(spark)
    df = spark.range(5).selectExpr("id", "cast(id as string) as s")
    out = str(tmp_path / "t")
    fmt = write_table(df, out)  # path-shaped target → parquet branch
    assert fmt == "parquet"
    assert load_table(spark, out).count() == 5

    class FakeConf:
        def getAll(self):
            return [("spark.sql.extensions",
                     "org.apache.iceberg.spark.extensions."
                     "IcebergSparkSessionExtensions"),
                    ("spark.sql.catalog.cat",
                     "org.apache.iceberg.spark.SparkCatalog")]

    class FakeContext:
        def getConf(self):
            return FakeConf()

    class FakeSession:
        sparkContext = FakeContext()

    class FakeWriter:
        calls = []

        def using(self, f):
            FakeWriter.calls.append(f)
            return self

        def createOrReplace(self):
            FakeWriter.calls.append("createOrReplace")

        def append(self):
            FakeWriter.calls.append("append")

    class FakeDF:
        sparkSession = FakeSession()

        def writeTo(self, target):
            FakeWriter.calls.append(("writeTo", target))
            return FakeWriter()

    assert iceberg_available(FakeSession())
    # identifier-shaped target → iceberg branch (writeTo identifier)
    assert write_table(FakeDF(), "cat.db.t") == "iceberg"
    assert FakeWriter.calls == [("writeTo", "cat.db.t"), "iceberg",
                                "createOrReplace"]
    FakeWriter.calls.clear()
    assert write_table(FakeDF(), "cat.db.t", mode="append") == "iceberg"
    assert FakeWriter.calls == [("writeTo", "cat.db.t"), "iceberg", "append"]

    class FailingWriter(FakeWriter):
        def createOrReplace(self):
            raise RuntimeError("schema mismatch")

    class FailingDF(FakeDF):
        def writeTo(self, target):
            return FailingWriter()

    # a REAL iceberg write error propagates — never a silent parquet write
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="schema mismatch"):
        write_table(FailingDF(), "cat.db.t")


def test_tighten_nullability(spark, tmp_path):
    """required/optional recovery from per-chunk null counts (reference
    emits `required` for never-null fields, SchemaBuilder.java:91-99)."""
    import json as _json

    import pyspark.sql.functions as F

    from json_to_parquet_spark.plans import pipeline
    df = spark.range(0, 1000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("always"),
        F.when(F.col("id") % 7 == 0, F.col("id")).alias("sometimes_null"))
    out = str(tmp_path / "enc")
    pipeline.run_encode(spark, df, out, key="k", n_chunks=4)
    schema = pipeline.tighten_nullability(spark, out)
    by_name = {f.name: f.nullable for f in schema.fields}
    assert by_name == {"k": False, "always": False, "sometimes_null": True}
    meta = _json.load(open(out + "/table_meta.json"))
    assert meta["required"] == ["always", "k"]
