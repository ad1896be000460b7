"""Tests: text-analysis functions, dedup families, ANN, multimodal."""

import pyspark.sql.functions as F
import pytest

from json_to_parquet_spark.functions import text as TX
from json_to_parquet_spark.operators import ann, dedup, multimodal

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_token_count(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("one",), (None,)], "t string")
    got = [r[0] for r in
           df.select(TX.token_count(F.col("t"))).collect()]
    assert got == [3, 0, 0, 1, None]


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcdef",), ("ab",)], "t string")
    rows = df.select(TX.char_shingles(F.col("t"), 3).alias("s")).collect()
    assert rows[0].s == ["abc", "bcd", "cde", "def"]
    assert rows[1].s == []


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the quick brown fox runs over it",),
         ("中文网页内容包含大量汉字而且都是汉字",),
         ("Русский текст для проверки",),
         ("ひらがなとカタカナのテキスト",),
         ("1234 5678",)], "t string")
    got = [r[0] for r in df.select(TX.lang_id(F.col("t"))).collect()]
    assert got == ["latin", "zh", "ru", "ja", "unknown"]


def test_quality_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("The cat and the dog run in the park.",),
         ("!!!! ???? ;;;; ::::",),
         ("x  Y \t z",), ("X y Z",)], "t string")
    rows = df.select(TX.quality_score(F.col("t")).alias("q"),
                     TX.fingerprint(F.col("t")).alias("fp")).collect()
    assert rows[0].q > rows[1].q  # prose beats punctuation soup
    assert 0.0 <= rows[1].q <= 1.0
    assert rows[2].fp == rows[3].fp  # whitespace/case-normalized


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello World"), (3, "different"),
         (4, "hello world")], "doc_id long, text string")
    kept = dedup.exact_dedup(df).select("doc_id").collect()
    assert sorted(r.doc_id for r in kept) == [1, 3]
    clusters = dedup.duplicate_clusters(df).filter("n_docs > 1").collect()
    assert len(clusters) == 1 and clusters[0].n_docs == 3


def test_minhash_lsh_finds_neardups(spark):
    base = ("spark engine columnar codec pipeline encode decode manifest "
            "chunk resume verify throughput scaling " * 4)
    rows = [(1, base), (2, base + "tail difference"),
            (3, "totally unrelated short text about cats and dogs"),
            (4, "another unrelated document mentioning pyspark once")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_candidates(df).collect()
    assert (1, 2) in [(p.id_a, p.id_b) for p in pairs]
    kept = dedup.minhash_lsh_dedup(df, threshold=0.6).select("doc_id").collect()
    ids = sorted(r.doc_id for r in kept)
    assert 2 not in ids and 1 in ids and 3 in ids and 4 in ids


def test_simhash_deterministic_and_neardup(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "completely different words entirely here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s1 = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    s2 = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert s1 == s2
    pairs = dedup.simhash_neardup_pairs(df).collect()
    assert all(p.hamming <= 3 for p in pairs)


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs, block_cols=["lang"], threshold=0.8).collect()
    for p in pairs:
        assert p.id_a < p.id_b and p.jaccard >= 0.8


def test_embedding_neardup_and_ann(spark, emb):
    q = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    top = ann.brute_force_topk(emb, q, k=5).collect()
    assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-9
    assert all(top[i].cosine >= top[i + 1].cosine for i in range(4))
    # LSH tier returns a subset ranked identically at its top
    lsh = ann.lsh_topk(emb, q, k=5, max_hamming=4)
    got = lsh.collect()
    assert got and got[0].vec_id == 0
    # IVF tier
    assigned, cents = ann.ivf_index(emb, n_centroids=8)
    ivf = ann.ivf_topk(assigned, cents, q, k=5, nprobe=3).collect()
    assert ivf and ivf[0].vec_id == 0
    # near-dup pairs (self-similar dataset may or may not have pairs;
    # assert the op runs and respects the threshold)
    nd = dedup.embedding_neardup_pairs(emb, threshold=0.99).collect()
    assert all(p.cosine >= 0.99 for p in nd)


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, 200)
    meta = multimodal.extract_media_meta(media).cache()
    assert meta.count() == 200
    r = meta.filter("media_id = 7").collect()[0]
    assert r.width >= 8 and r.height >= 8 and len(r.features) == 8
    assert meta.filter("features is null").count() == 0
    fs = multimodal.frame_sample_plan(media, every_n=24)
    vids = meta.filter("kind = 'video'").count()
    assert fs.select("media_id").distinct().count() == vids
    with pytest.raises(NotImplementedError):
        multimodal.set_decoder(None)


def test_connected_components_transitive_chain(spark):
    """A~B, B~C (A not adjacent to C) must collapse to ONE component with
    the smallest id as representative; disjoint pairs stay separate."""
    from json_to_parquet_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 9)], "id_a long, id_b long")
    comp = {r.id: r.component
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9, 10: 9}


def test_connected_components_long_chain_bounded_lineage(spark):
    """A path graph of diameter 12 needs 13 rounds: labels must converge
    to the path's smallest id, and the lineage cut every
    CC_CHECKPOINT_ROUNDS rounds must keep the returned plan small (each
    round doubles it, so an uncut plan holds ~2**14 joins here)."""
    from json_to_parquet_spark.operators.dedup import (CC_CHECKPOINT_ROUNDS,
                                                       connected_components)
    # path 100-101-...-112, listed in shuffled order; plus a disjoint pair
    path = [(100 + i, 101 + i) for i in (7, 2, 11, 0, 5, 9, 3, 8, 1, 6, 10,
                                         4)]
    pairs = spark.createDataFrame(path + [(5, 6)], "id_a long, id_b long")
    labels = connected_components(pairs)
    comp = {r.id: r.component for r in labels.collect()}
    assert comp == {**{100 + i: 100 for i in range(13)}, 5: 5, 6: 5}
    plan = labels._jdf.queryExecution().logical().toString()
    joins = sum("Join " in line for line in plan.splitlines())
    assert joins < 2 ** (CC_CHECKPOINT_ROUNDS + 1), joins


def test_minhash_dedup_transitive_cluster(spark):
    """Chain of near-dups A~B~C keeps exactly one representative even
    when A and C alone would not be near-dups."""
    from json_to_parquet_spark.operators.dedup import minhash_lsh_dedup
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight ") * 6
    mid = base.replace("quick", "rapid").replace("lazy", "idle") \
              .replace("deep", "vast")
    far = mid.replace("brown", "grey").replace("dog", "cat") \
             .replace("dark", "dim")
    rows = [(1, base), (2, mid), (3, far), (4, "completely different "
            "content about spark query engines and columnar codecs " * 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = minhash_lsh_dedup(df, threshold=0.55)
    ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    assert 4 in ids
    assert len([i for i in ids if i in (1, 2, 3)]) == 1, ids


def test_minhash_dedup_md5_matches_duckdb_cc(spark):
    """The md5-lane dedup twin's dropped set matches a DuckDB recursive
    CTE computing the same min-label connected components — value-exact,
    including a transitive A~B~C chain collapsing to min-id rep."""
    import duckdb

    import __spark_entry__ as entry
    from json_to_parquet_spark.operators.dedup import minhash_lsh_dedup_md5
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight ") * 6
    mid = base.replace("quick", "rapid").replace("lazy", "idle")
    far = mid.replace("brown", "grey").replace("dog", "cat")
    rows = [(1, base), (2, mid), (3, far),
            (4, "completely different content about spark query engines "
                "and columnar codecs " * 8),
            (5, base)]  # exact dup of 1 → same component
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.doc_id, r.component) for r in
                 minhash_lsh_dedup_md5(df, threshold=0.5).collect())
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    sql = entry._minhash_dedup_md5_sql(threshold=0.5)
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want and len(got) >= 2
    # every chain member except the min id is dropped to that min id
    dropped = dict(got)
    assert all(dropped[i] == 1 for i in dropped if i in (2, 3, 5))


def test_dedup_null_text_passthrough(spark):
    """NULL-text rows: exact_dedup passes them through (no collapse into
    one NULL group), simhash does not crash, clusters exclude them."""
    from json_to_parquet_spark.operators.dedup import (duplicate_clusters,
                                                       exact_dedup, simhash)
    rows = [(1, "same text"), (2, "same text"), (3, None), (4, None),
            (5, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 3, 4, 5]
    cl = duplicate_clusters(df)
    assert cl.agg(F.sum("n_docs")).collect()[0][0] == 3  # nulls excluded
    sh = simhash(df).collect()  # must not raise on None text
    assert len(sh) == 5


def test_bucket_pairs_hot_bucket_spreads_across_tasks(spark):
    """A mega-bucket's C(n,2) pair generation must fan out over many
    tasks (sliced segment pairs), produce exactly the unsliced pair set,
    and keep id_a < id_b everywhere."""
    from json_to_parquet_spark.operators.dedup import _bucket_pairs
    n = 2000
    rows = [(i, 0, 77) for i in range(n)]         # one 2000-id bucket
    rows += [(5000, 1, 3), (5001, 1, 3)]          # plus a normal bucket
    df = spark.createDataFrame(rows, "doc_id long, band int, key long")
    pairs = _bucket_pairs(df, "doc_id", slice_size=64)
    # distinct() re-shuffles by pair value; measure spread where the
    # pairs are GENERATED (pre-distinct) via the raw element-pair stream
    from json_to_parquet_spark.operators.dedup import bucket_element_pairs
    raw = bucket_element_pairs(df, ["band", "key"], F.col("doc_id"),
                               slice_size=64)
    parts = (raw.select(F.spark_partition_id().alias("p"))
             .distinct().count())
    assert parts >= 8, f"pair generation concentrated in {parts} task(s)"
    got = pairs.collect()
    assert len(got) == n * (n - 1) // 2 + 1
    assert all(r.id_a < r.id_b for r in got)
    # slicing must not change the pair set (vs one-segment generation)
    unsliced = _bucket_pairs(df, "doc_id", slice_size=10 ** 6)
    assert pairs.exceptAll(unsliced).count() == 0
    assert unsliced.exceptAll(pairs).count() == 0


def test_bucket_pairs_max_bucket_drops_and_surfaces(spark):
    """max_bucket drops oversized buckets from pair generation, never
    silently: the Observation carries the dropped bucket/id counts."""
    from pyspark.sql import Observation

    from json_to_parquet_spark.operators.dedup import _bucket_pairs
    rows = [(i, 0, 77) for i in range(50)]        # oversize (50 > 10)
    rows += [(200, 2, 99), (201, 2, 99)]          # normal bucket
    df = spark.createDataFrame(rows, "doc_id long, band int, key long")
    obs = Observation("oversize")
    pairs = _bucket_pairs(df, "doc_id", max_bucket=10, observation=obs)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(200, 201)}
    assert obs.get == {"oversize_buckets": 1, "oversize_ids": 50}


def test_bucket_pairs_hot_bucket(spark):
    """_bucket_pairs streams exactly C(n,2) ordered pairs from a hot
    bucket, drops singleton buckets, and dedups ids repeated across
    bands (collect_set + distinct)."""
    from json_to_parquet_spark.operators.dedup import _bucket_pairs
    rows = [(i, 0, 77) for i in range(50)]          # hot bucket: 50 ids
    rows += [(100 + i, 1, i) for i in range(20)]    # 20 singletons
    rows += [(200, 2, 99), (201, 2, 99)]            # small bucket
    rows += [(200, 2, 99)]                          # duplicate member row
    rows += [(3, 3, 55), (4, 3, 55)]                # pair ALSO in hot bucket
    df = spark.createDataFrame(rows, "doc_id long, band int, key long")
    got = _bucket_pairs(df, "doc_id").collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    # (3,4) appears in two buckets but counts once (distinct)
    assert len(got) == len(pairs) == 50 * 49 // 2 + 1
    assert all(a < b for a, b in pairs)
    assert (200, 201) in pairs and (3, 4) in pairs


def test_bucket_pairs_bounded_buckets_skip_spread_shuffle(spark):
    """max_bucket <= slice_size proves every surviving bucket fits one
    segment, so the skew-spread exchange is skipped (plan-asserted) and
    the pair set is unchanged."""
    from json_to_parquet_spark.operators.dedup import _bucket_pairs
    rows = [(i, 0, 77) for i in range(40)] + [(200, 2, 99), (201, 2, 99)]
    df = spark.createDataFrame(rows, "doc_id long, band int, key long")
    spread = _bucket_pairs(df, "doc_id", slice_size=64)
    gated = _bucket_pairs(df, "doc_id", slice_size=64, max_bucket=64)
    def n_exchanges(d):
        return d._sc._jvm.PythonSQLUtils.explainString(
            d._jdf.queryExecution(), "simple").count("Exchange")
    assert n_exchanges(gated) == n_exchanges(spread) - 1
    assert sorted((r.id_a, r.id_b) for r in gated.collect()) == \
           sorted((r.id_a, r.id_b) for r in spread.collect())
