"""Physical-plan hygiene (SURVEY §4.2): predicate pushdown, column
pruning, broadcast joins, whole-stage codegen, and shuffle counts —
asserted on .explain output so regressions in plan shape fail CI."""

import pyspark.sql.functions as F
from conftest import plan_of

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (li.filter(F.col("l_quantity") > 45)
           .select("l_orderkey", "l_quantity"))
    plan = plan_of(q)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
        "PushedFilters")[1][:200]
    # projection pruned to the two referenced columns at the scan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_broadcast_join_for_small_dim(spark):
    import __spark_entry__ as e
    plan = plan_of(e.q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_aggregation(spark):
    import __spark_entry__ as e
    df = e.q_tpch_pricing(spark, SF)
    plan = plan_of(df, mode="simple")
    assert plan.count("HashAggregate") >= 2  # partial + final
    codegen = plan_of(df, mode="codegen")
    assert "WholeStageCodegen" in codegen


def test_encode_plan_single_shuffle(spark):
    """The encode pipeline must shuffle exactly once (the chunk-id hash
    partition) — no hidden extra exchange."""
    from json_to_parquet_spark.operators.encode import encode_chunks
    from json_to_parquet_spark.sources.webpages import synth_webpages
    pages = synth_webpages(spark, 1000, partitions=8)
    chunks = encode_chunks(pages, "url", {"text": "fsst"}, n_chunks=4)
    plan = plan_of(chunks, mode="simple")
    assert plan.count("Exchange") == 1, plan
    # the one exchange is the explicit chunk-width repartition (pinned to
    # ~1 chunk/task; REPARTITION_BY_NUM so AQE cannot re-lump it) and the
    # groupBy reuses it rather than adding its own
    assert "REPARTITION_BY_NUM" in plan, plan
    one = encode_chunks(synth_webpages(spark, 200, partitions=1), "url",
                        {"text": "plain"}, n_chunks=2)
    assert plan_of(one, mode="simple").count("Exchange") == 1


def test_decode_plan_shuffle_free(spark, tmp_path):
    """read_encoded must decode the chunk store with ZERO Exchange: the
    store is laid out one file per chunk, so the mapInArrow decode groups
    rows in-task — at 100 TB the old groupBy path re-shuffled every
    encoded payload byte just to read the table back. A two-sub-store
    streaming store reads the same way: one chunk-store scan, no Union."""
    from json_to_parquet_spark.plans import pipeline
    from json_to_parquet_spark.sources.webpages import synth_webpages
    pages = synth_webpages(spark, 800, partitions=4)
    single = str(tmp_path / "store")
    pipeline.run_encode(spark, pages, single, n_chunks=3)
    stream = str(tmp_path / "stream")
    for i in (0, 1):
        part = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
        pipeline.run_encode(spark, part, f"{stream}/batches/{i:010d}",
                            n_chunks=3)
    first = pages.agg(F.min("url")).first()[0]
    for out in (single, stream):
        decoded = pipeline.read_encoded(spark, out)
        plan = plan_of(decoded, mode="simple")
        assert "Exchange" not in plan and "Union" not in plan, plan
        assert plan.count("Scan parquet") == 1, plan
        assert decoded.count() == 800
        # a projected read filters chunk rows by `column` above the scan:
        # pushed into Parquet it could never skip data (one row group
        # holds every column's rows) and only costs per-file filter setup
        proj = plan_of(pipeline.read_encoded(spark, out, columns=["lang"]))
        assert not any("column" in ln for ln in proj.splitlines()
                       if "PushedFilters" in ln), proj
        # zone-map pruned reads prune on the driver, from the manifest
        # files: no broadcast of a manifest scan, no Exchange of any kind,
        # and the one scan reads the surviving chunk files only. The
        # second range keeps just the chunk(s) holding the smallest url.
        for where in (("lang", "aa", "zz"), ("url", None, first)):
            pruned = pipeline.read_encoded(spark, out, columns=["lang"],
                                           where=where)
            plan2 = plan_of(pruned, mode="simple")
            assert "Exchange" not in plan2 and "Union" not in plan2, plan2
            assert plan2.count("Scan parquet") == 1, plan2
        assert len(pruned.inputFiles()) < len(decoded.inputFiles())


def test_decode_map_detects_straddled_chunk(spark):
    """A chunk whose column rows straddle scan partitions must FAIL with
    instructions, never decode wrongly."""
    import pytest
    from json_to_parquet_spark.operators.encode import (STORE_COL,
                                                        decode_chunks,
                                                        encode_chunks)
    from json_to_parquet_spark.sources.webpages import synth_webpages
    pages = synth_webpages(spark, 300, partitions=2)
    chunks = encode_chunks(pages, "url", {"text": "plain"}, n_chunks=2)
    # repartition WITHOUT the chunk key: rows of one chunk now spread
    # over several partitions — the map-path decode must refuse
    straddled = chunks.repartition(6)
    with pytest.raises(Exception, match="straddle.*single_row_group"):
        decode_chunks(straddled, pages.schema).count()
    # with the sub-store tag present, the error names the sub-store too
    tagged = chunks.withColumn(STORE_COL, F.lit("sub-a")).repartition(6)
    with pytest.raises(Exception, match=r"chunks \[\('sub-a', \d+\)"):
        decode_chunks(tagged, pages.schema).count()
    # the documented fallback handles exactly this shape
    assert decode_chunks(straddled, pages.schema, shuffle=True).count() == 300


def test_decode_keys_chunks_by_sub_store(spark):
    """Rows of two sub-stores that share chunk ids, interleaved within one
    partition, must decode as separate chunks on both decode paths."""
    from json_to_parquet_spark.operators.encode import (STORE_COL,
                                                        decode_chunks,
                                                        encode_chunks)
    from json_to_parquet_spark.sources.webpages import synth_webpages
    pages = synth_webpages(spark, 600, partitions=2)
    parts = [encode_chunks(pages.filter(F.crc32("url") % 2 == i), "url",
                           {"text": "plain"}, n_chunks=2)
             .withColumn(STORE_COL, F.lit(f"sub-{i}")) for i in (0, 1)]
    mixed = (parts[0].unionByName(parts[1]).repartition(1)
             .sortWithinPartitions("chunk_id", "column"))
    for shuffle in (False, True):
        got = decode_chunks(mixed, pages.schema, shuffle=shuffle)
        assert got.select("url").distinct().count() == got.count() == 600
    # the shuffle path hands Python one chunk per call (grouped by the
    # same key), never an arbitrary Arrow batch of many chunks
    plan = plan_of(got, mode="simple")
    assert "FlatMapGroupsInArrow" in plan and "MapInArrow" not in plan


def test_embedding_neardup_single_scan(spark):
    """embedding_neardup_pairs must read the embeddings table ONCE: the
    old bucket self-join expanded into two subtrees that each recomputed
    the hyperplane pandas_udf and the scan."""
    from json_to_parquet_spark.operators.dedup import embedding_neardup_pairs
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(embedding_neardup_pairs(emb), mode="simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan  # hyperplane udf once


def test_read_encoded_auto_fallback_multi_rowgroup(spark, tmp_path):
    """A store whose meta lacks the single-row-group flag (written before
    the flag, or by the retired JVM writer) decodes through the shuffle
    path, so even a split multi-row-group chunk file yields every row. A
    flagged store keeps the zero-Exchange map plan."""
    import json
    import os

    import pyarrow.parquet as pq

    from json_to_parquet_spark.plans import pipeline
    from json_to_parquet_spark.sources.webpages import synth_webpages
    pages = synth_webpages(spark, 500, partitions=4)
    out = str(tmp_path / "store")
    pipeline.run_encode(spark, pages, out, n_chunks=3)
    with open(out + "/table_meta.json") as fh:
        meta = json.load(fh)
    assert meta["single_row_group"] is True
    # rewrite one chunk file one-row-group-PER-ROW (foreign-writer shape)
    # and drop the flag, as in a store written before the flag existed
    f = out + "/chunks/chunk_id=1/part-00000.parquet"
    pq.write_table(pq.read_table(f), f, row_group_size=1,
                   compression="none")
    assert pq.ParquetFile(f).metadata.num_row_groups > 1
    del meta["single_row_group"]
    with open(out + "/table_meta.json", "w") as fh:
        json.dump(meta, fh)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # force Spark to split the rewritten file across scan partitions
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        assert os.path.getsize(f) > 8192  # genuinely splittable
        decoded = pipeline.read_encoded(spark, out)
        assert "Exchange" in plan_of(decoded, mode="simple")
        assert decoded.count() == 500
        with open(out + "/table_meta.json", "w") as fh:
            json.dump(dict(meta, single_row_group=True), fh)
        fast = pipeline.read_encoded(spark, out)
        assert "Exchange" not in plan_of(fast, mode="simple")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_topk_uses_partial_limit(spark):
    """orderBy().limit(k) must plan TakeOrderedAndProject, not a full
    global sort."""
    import __spark_entry__ as e
    plan = plan_of(e.q_top_lineitems(spark, SF), mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_minhash_partial_aggregation(spark):
    """MinHash signature aggregation must do map-side partial aggregation
    (shuffle carries per-doc partials, not exploded shingles)."""
    from json_to_parquet_spark.operators.dedup import minhash_signatures
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signatures(docs), mode="simple")
    first_agg = plan.rindex("HashAggregate")  # bottom-most = map side
    assert "partial_min" in plan[first_agg:first_agg + 4000] or \
        plan.count("HashAggregate") >= 2


def test_perfect_shuffle_salts_bijection():
    """salts[cid] must land chunk cid in partition cid of an n-partition
    HashPartitioning — checked against a pure-python Murmur3 that the
    Spark-parity test below pins to the real hash()."""
    from json_to_parquet_spark.operators.chunking import (
        _murmur3_int32, perfect_shuffle_salts)
    for n in (1, 2, 7, 64, 256, 1024):
        salts = perfect_shuffle_salts(n)
        assert sorted(_murmur3_int32(v) % n for v in salts) == list(range(n))


def test_murmur3_matches_spark_hash(spark):
    from json_to_parquet_spark.operators.chunking import _murmur3_int32
    rows = (spark.range(0, 200, 7)
            .select(F.col("id").cast("int").alias("i"),
                    F.hash(F.col("id").cast("int")).alias("h")).collect())
    assert all(_murmur3_int32(r.i) == r.h for r in rows)


def test_encode_one_chunk_per_task(spark):
    """With the perfect-salt shuffle column, every encode task holds
    EXACTLY one chunk: n_chunks tasks, no empties, no 2-chunk stragglers
    (balls-in-bins would leave ~37% empty). Asserted by counting rows per
    output partition of the single-exchange plan."""
    from json_to_parquet_spark.operators.encode import encode_chunks
    from json_to_parquet_spark.sources.webpages import synth_webpages
    pages = synth_webpages(spark, 4000, partitions=8)
    chunks = encode_chunks(pages, "url", {"text": "plain"}, n_chunks=16)
    sizes = (chunks.select(F.spark_partition_id().alias("p"), "chunk_id")
             .groupBy("p").agg(F.countDistinct("chunk_id").alias("k"))
             .collect())
    assert len(sizes) == 16 and all(r.k == 1 for r in sizes)


def test_encode_jvm_presort_one_sort_bit_identical(spark):
    """The chunk-local row permutation rides the JVM group sort: the plan
    has exactly ONE Sort (sortWithinPartitions satisfies applyInArrow's
    required ordering — no Catalyst re-sort that could scramble rows) and
    ONE Exchange, and every chunk's decoded rows are already in the
    permutation's order, nulls last (pyarrow's at_end placement)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from json_to_parquet_spark.functions.codecs import (decode_column,
                                                        meta_from_json)
    from json_to_parquet_spark.operators.encode import encode_chunks
    df = spark.range(0, 6000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.when(F.col("id") % 5 != 0, F.concat(
            F.lit("l"), (F.col("id") % 3).cast("string"))).alias("lang"),
        F.when(F.col("id") % 7 != 0, F.col("id") % 11).alias("bucket"))
    sort_cols = ["lang", "bucket"]
    codecs = {"url": "fsst", "lang": "dict", "bucket": "for"}
    chunks = encode_chunks(df, "url", codecs, n_chunks=5, sort_cols=sort_cols)
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Sort ") == 1 and plan.count("Exchange") == 1
    decoded: dict[int, dict] = {}
    for r in chunks.select("chunk_id", "column", "meta", "payload").collect():
        decoded.setdefault(r.chunk_id, {})[r.column] = decode_column(
            bytes(r.payload), meta_from_json(r.meta))
    assert len(decoded) == 5 and all(len(c) == 3 for c in decoded.values())
    keys = [(c, "ascending") for c in sort_cols + ["url"]]
    for cols in decoded.values():
        tbl = pa.table(cols)
        assert tbl.column("lang").null_count and tbl.column("bucket").null_count
        order = pc.sort_indices(tbl, sort_keys=keys, null_placement="at_end")
        assert order.to_pylist() == list(range(tbl.num_rows))
