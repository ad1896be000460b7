"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, all shuffle-conscious:

  exact_dedup          hash-groupBy on a canonical fingerprint (one shuffle)
  minhash_lsh          shingles → minhash signature → banded LSH buckets →
                       candidate pairs → exact Jaccard confirm
  simhash              64-bit simhash via vectorized pandas_udf; near-dup =
                       identical band keys (hamming-adjacent buckets)
  ngram_jaccard_pairs  exact word/char-shingle Jaccard over bounded pair
                       space (same-group blocking), JVM array ops only
  embedding_neardup    cosine near-dup over embedding columns; hyperplane
                       LSH blocks candidates, exact cosine confirms

Scale design: every family blocks candidates BEFORE any pairwise work —
pairwise generation happens only within LSH/blocking buckets (bounded),
never globally, and is join-free: buckets collapse to sorted element
arrays whose sliced segment-pairs spread across tasks, so even a
mega-bucket's C(n,2) output parallelizes (bucket_element_pairs). MinHash
signatures and band keys are computed with built-in xxhash64/array exprs
(JVM, codegen); only simhash and embedding math use Arrow-vectorized
pandas UDFs (numpy matmul — no per-row Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import LongType

# Buckets are sliced into DEFAULT_SLICE-element segments before pair
# generation so a hot bucket's C(n,2) output parallelizes across tasks
# (see bucket_element_pairs). 4096 keeps a slice-pair row under ~64 KB of
# ids while a 10^6-id bucket still fans out into ~30k independent tasks.
DEFAULT_SLICE = 4096

from ..functions.text import char_shingles, fingerprint, word_tokens

# --- exact -------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row per canonical fingerprint (smallest id wins —
    deterministic). One hash-shuffle; no sort. NULL-text rows have no
    fingerprint and pass through untouched (they are not all collapsed
    into one NULL-key group)."""
    fp = fingerprint(F.col(text_col)).alias("__fp")
    keep = (df.select(F.col(id_col), fp)
              .filter(F.col("__fp").isNotNull())
              .groupBy("__fp").agg(F.min(id_col).alias(id_col))
              .drop("__fp"))
    deduped = df.join(keep, id_col, "left_semi")
    return deduped.unionByName(df.filter(F.col(text_col).isNull()))


def duplicate_clusters(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact-dup clusters: fingerprint → (n_docs, representative id).
    NULL-text rows are excluded (no canonical content to cluster on)."""
    return (df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
              .filter(F.col("fp").isNotNull())
              .groupBy("fp")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.min(id_col).alias("rep_id")))


# --- minhash + LSH -----------------------------------------------------------


def minhash_signature(shingles: Column, num_hashes: int = 64,
                      seed: int = 42) -> Column:
    """MinHash signature as array<bigint>: hash each shingle STRING once
    (the expensive op), then derive the per-lane hashes by re-hashing the
    resulting int64 (xxhash64 over a fixed 8-byte input — ~10x cheaper
    than re-hashing the string per lane). Pure JVM exprs."""
    base = F.transform(shingles, lambda s: F.xxhash64(s, F.lit(seed)))

    def lane(i: int):
        # NB: the lambda must take exactly one arg — PySpark passes the
        # element INDEX to 2-arg lambdas, which would shadow a default-arg
        # capture of i
        return F.array_min(F.transform(base,
                                       lambda h: F.xxhash64(h, F.lit(i))))

    return F.array(*[lane(i) for i in range(num_hashes)])


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_k: int = 5, seed: int = 42) -> DataFrame:
    """Per-document MinHash signatures via explode + groupBy with
    `num_hashes` min-aggregates: each shingle string is hashed ONCE, the
    per-lane variants re-hash the resulting int64 (cheap fixed-width op),
    and Catalyst's partial aggregation computes the mins map-side in
    whole-stage codegen — the shuffle carries only one row per document.
    (The array-expression variant `minhash_signature` re-evaluates its
    lambda per lane — Catalyst does not CSE across lambda functions.)"""
    shingled = df.select(
        F.col(id_col),
        F.explode(char_shingles(F.col(text_col), shingle_k)).alias("__s"))
    hashed = shingled.select(
        id_col, F.xxhash64(F.col("__s"), F.lit(seed)).alias("__h"))
    aggs = [F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__m{i}")
            for i in range(num_hashes)]
    return (hashed.groupBy(id_col).agg(*aggs)
            .select(F.col(id_col),
                    F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
                    .alias("__sig")))


def band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: hash of each signature slice → array<bigint>."""
    keys = [
        F.xxhash64(F.slice(signature, b * rows_per_band + 1, rows_per_band)
                   .cast("string"), F.lit(b))
        for b in range(bands)
    ]
    return F.array(*keys)


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 64,
                           bands: int = 16, shingle_k: int = 5,
                           seed: int = 42,
                           slice_size: int = DEFAULT_SLICE,
                           max_bucket: int | None = None,
                           observation: Observation | None = None
                           ) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded MinHash LSH.

    Shuffle profile: one explode+groupBy for the signatures, one
    groupBy(band, key) that materializes collision buckets — singleton
    buckets (the vast majority at corpus scale) are dropped, pairs are
    streamed join-free from each bucket's sliced id array, hot buckets
    fanning out across tasks (bucket_element_pairs). `max_bucket` drops
    mega-buckets with the count surfaced on `observation`.
    """
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k,
                             seed)
    banded = sig.select(
        id_col, F.posexplode(band_keys(F.col("__sig"), bands, r))
        .alias("band", "key"))
    return _bucket_pairs(banded, id_col, slice_size, max_bucket, observation)


def bucket_element_pairs(bucketed: DataFrame, group_cols: list[str],
                         elem: Column, slice_size: int = DEFAULT_SLICE,
                         max_bucket: int | None = None,
                         observation: Observation | None = None
                         ) -> DataFrame:
    """Unordered element pairs (`__a` < `__b`) within each bucket of
    `bucketed` (one row per (group..., element)) — WITHOUT a self-join,
    and WITHOUT serializing a hot bucket's C(n,2) pair output into one
    task.

    A self-join of the bucketed stream is the textbook plan, but Spark
    expands a DataFrame self-join into two independent subtrees, so the
    whole (expensive) pipeline upstream runs twice — verified: even with
    a merge hint the executed plan shows two scans and no ReusedExchange.
    Instead: one groupBy collects each bucket's sorted distinct element
    array (singleton buckets — the overwhelming majority at corpus
    scale — are dropped; they cannot produce a pair). The array is then
    cut into `slice_size`-element segments and every (i <= j) segment
    pair becomes its own row, hash-spread across tasks by a second
    (tiny) shuffle that carries only the segment arrays — so a
    boilerplate mega-bucket of n ids fans its C(n,2) pair generation out
    over ~ (n/slice_size)^2 / 2 independent tasks instead of one, while
    a normal bucket (n <= slice_size) stays a single row. Within a row,
    same-segment pairs stream i<j via posexplode+slice and cross-segment
    pairs stream the full a×b product; segments are contiguous cuts of
    the SORTED array, so `__a` < `__b` holds everywhere and the pair set
    is exactly the unsliced one.

    Memory bound: the aggregation materializes one O(|bucket|) element
    array per bucket in its task (8 bytes/id ≈ 8 MB for a 10^6-id
    bucket) — linear, not quadratic; the slice shuffle then carries each
    segment ~n/slice_size times (n²/slice_size ids total — for n = 10^6,
    slice 4096: ~2 GB, dwarfed by the 10^12-pair output it spreads).

    `max_bucket` caps bucket size: larger buckets (mass boilerplate — at
    Common-Crawl scale pairing them is neither tractable nor useful) are
    DROPPED before pair generation, never silently: the drop count and
    dropped-element count are recorded on `observation` (one is created
    if the caller passed none) as `oversize_buckets` / `oversize_ids`,
    readable after the first action via `Observation.get`. Default None
    = nothing dropped."""
    agg = (bucketed.groupBy(*group_cols)
           .agg(F.array_distinct(F.sort_array(F.collect_list(elem)))
                .alias("__es"))
           .filter(F.size("__es") >= 2))
    if max_bucket is not None:
        if observation is None:
            observation = Observation("lsh_oversize")
        over = F.size("__es") > max_bucket
        agg = agg.observe(
            observation,
            F.sum(F.when(over, 1).otherwise(0)).alias("oversize_buckets"),
            F.sum(F.when(over, F.size("__es")).otherwise(0))
            .alias("oversize_ids"))
        agg = agg.filter(~over)
    b = slice_size
    nsl = F.ceil(F.size("__es") / F.lit(b)).cast("int")
    seg_pairs = F.flatten(F.transform(
        F.sequence(F.lit(0), nsl - F.lit(1)),
        lambda i: F.transform(F.sequence(i, nsl - F.lit(1)),
                              lambda j: F.struct(i.alias("i"),
                                                 j.alias("j")))))
    segs = (agg.select(*group_cols, F.explode(seg_pairs).alias("__ij"),
                       "__es")
            .select(*group_cols,
                    F.col("__ij.i").alias("__si"),
                    F.col("__ij.j").alias("__sj"),
                    F.slice("__es", F.col("__ij.i") * b + 1, b).alias("__ea"),
                    # NULL when same-segment → pair with __ea's own suffix
                    F.when(F.col("__ij.i") != F.col("__ij.j"),
                           F.slice("__es", F.col("__ij.j") * b + 1, b))
                    .alias("__eb")))
    # explicit REPARTITION_BY_NUM: AQE would coalesce a by-column
    # repartition of these few-KB rows back into one partition — exactly
    # the serialization this exists to break. Provably-useless case
    # skipped: with max_bucket <= slice_size every surviving bucket is a
    # single segment, so there is nothing to spread and the exchange
    # would only add a stage barrier.
    if not (max_bucket is not None and max_bucket <= slice_size):
        n_part = int(bucketed.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
        segs = segs.repartition(n_part, *group_cols, "__si", "__sj")
    lead = segs.select(F.posexplode("__ea").alias("__p", "__a"),
                       "__ea", "__eb")
    return lead.select(
        "__a",
        F.explode(F.coalesce(
            F.col("__eb"),
            F.slice("__ea", F.col("__p") + F.lit(2), F.size("__ea"))))
        .alias("__b"))


def _bucket_pairs(banded: DataFrame, id_col: str,
                  slice_size: int = DEFAULT_SLICE,
                  max_bucket: int | None = None,
                  observation: Observation | None = None) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ids sharing an LSH (band, key)
    bucket — join-free, hot-bucket-sliced (see bucket_element_pairs)."""
    pairs = bucket_element_pairs(banded, ["band", "key"], F.col(id_col),
                                 slice_size, max_bucket, observation)
    return (pairs.select(F.col("__a").alias("id_a"),
                         F.col("__b").alias("id_b"))
            .distinct())


CC_CHECKPOINT_ROUNDS = 5  # label-propagation rounds between lineage cuts


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 20) -> DataFrame:
    """Connected components of an undirected pair graph by min-label
    propagation: every vertex repeatedly takes the minimum label among
    itself and its neighbors until fixpoint (≤ graph diameter rounds,
    checked with a cheap changed-count action each round).

    Returns (id, component) where component = the smallest vertex id in
    the component — the canonical "keep smallest id" representative.
    Each round is one shuffle join + one aggregation; dedup candidate
    graphs are near-diameter-1 (stars of near-identical docs), so this
    converges in 2-3 rounds in practice. A graph whose component
    diameter exceeds `max_iter` raises rather than silently returning
    partial (wrong) labels — raise `max_iter` for long-chain graphs.

    Each round's plan holds the previous round's labels twice, so the
    logical plan doubles per round; every `CC_CHECKPOINT_ROUNDS` rounds
    the labels are `localCheckpoint`ed, which cuts the lineage and bounds
    analysis time on long chains."""
    edges = (pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
             .unionByName(pairs.select(F.col(dst).alias("s"),
                                       F.col(src).alias("d")))
             .distinct())
    labels = (edges.select(F.col("s").alias("id")).distinct()
              .withColumn("component", F.col("id")))
    changed = None
    for rnd in range(1, max_iter + 1):
        neighbor_min = (edges.join(labels, edges.s == labels.id)
                        .groupBy(F.col("d").alias("id"))
                        .agg(F.min("component").alias("nmin")))
        updated = (labels.join(neighbor_min, "id", "left")
                   .select("id", F.least("component",
                                         F.coalesce("nmin", "component"))
                           .alias("component"))
                   .persist())
        changed = (updated.join(labels.withColumnRenamed("component", "old"),
                                "id")
                   .filter(F.col("component") != F.col("old")).count())
        labels.unpersist()  # no-op on the (unpersisted) first iteration
        labels = updated
        if rnd % CC_CHECKPOINT_ROUNDS == 0:
            labels = updated.localCheckpoint()  # eager: reads the cache
            updated.unpersist()
        if changed == 0:
            break
    if changed:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing — component diameter exceeds "
            f"max_iter); call again with a larger max_iter")
    return labels


def minhash_lsh_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.7,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_k: int = 5,
                      max_bucket: int | None = None,
                      observation: Observation | None = None) -> DataFrame:
    """Near-dup removal: LSH candidates → exact shingle-Jaccard confirm →
    connected components over confirmed pairs → keep the smallest id of
    each component. Transitive chains (A~B, B~C, A≁C) collapse to ONE
    representative — pairwise loser-dropping would drop C against a B
    that is itself dropped against A. `max_bucket` drops mega-buckets
    (their members are then KEPT, not deduped — surfaced on
    `observation`, see bucket_element_pairs)."""
    cand = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands,
                                  shingle_k, max_bucket=max_bucket,
                                  observation=observation)
    sh = df.select(F.col(id_col),
                   char_shingles(F.col(text_col), shingle_k).alias("sh"))
    confirmed = (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
            .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
            .withColumn("jac", F.size(F.array_intersect("sh_a", "sh_b"))
                        / F.size(F.array_union("sh_a", "sh_b")))
            .filter(F.col("jac") >= threshold))
    comp = connected_components(confirmed, "id_a", "id_b")
    losers = (comp.filter(F.col("id") != F.col("component"))
              .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def md5_lane_hash(col: Column, lane: int) -> Column:
    """60-bit lane hash computable IDENTICALLY in ANSI SQL/DuckDB: first
    15 hex digits of md5(s || ':' || lane) as bigint. ~10x slower than
    the xxhash64 lanes — used by the oracle-checkable *_md5 variants that
    let the driver's DuckDB harness verify the LSH/banding pipeline
    end-to-end; the xxhash64 variants remain the production path."""
    return F.conv(F.substring(F.md5(F.concat(col, F.lit(f":{lane}"))),
                              1, 15), 16, 10).cast("bigint")


def minhash_lsh_candidates_md5(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", num_hashes: int = 16,
                               bands: int = 4, shingle_k: int = 5
                               ) -> DataFrame:
    """Same banded-LSH candidate generation as `minhash_lsh_candidates`
    but with md5 lane hashes and plain string band keys, so a DuckDB
    oracle can reproduce every value. Same shuffle profile: explode →
    map-side-partial min aggregation → join-free bucket pairs."""
    r = num_hashes // bands
    shingled = df.select(
        F.col(id_col),
        F.explode(char_shingles(F.col(text_col), shingle_k)).alias("__s"))
    aggs = [F.min(md5_lane_hash(F.col("__s"), i)).alias(f"__m{i}")
            for i in range(num_hashes)]
    sig = shingled.groupBy(id_col).agg(*aggs)
    banded = None
    for b in range(bands):
        key = F.concat_ws(",", *[F.col(f"__m{b * r + j}").cast("string")
                                 for j in range(r)])
        part = sig.select(F.col(id_col), F.lit(b).alias("band"),
                          key.alias("key"))
        banded = part if banded is None else banded.unionByName(part)
    return _bucket_pairs(banded, id_col)


def minhash_lsh_dedup_md5(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", threshold: float = 0.6,
                          num_hashes: int = 16, bands: int = 4,
                          shingle_k: int = 5) -> DataFrame:
    """Oracle-checkable twin of the FULL `minhash_lsh_dedup` pipeline
    (md5 lane hashes instead of xxhash64): banded-LSH candidates →
    exact shingle-Jaccard confirm → connected components → the DROPPED
    docs as (doc_id, component). A DuckDB recursive CTE reproduces the
    min-label components value-exactly, making the transitive-chain
    clustering itself (not just the candidate pairs) hash-checkable.
    Same shuffle profile as the production lane: join-free bucket
    pairs plus one join+agg per label-propagation round."""
    cand = minhash_lsh_candidates_md5(df, text_col, id_col, num_hashes,
                                      bands, shingle_k)
    sh = df.select(F.col(id_col),
                   char_shingles(F.col(text_col), shingle_k).alias("sh"))
    confirmed = (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
            .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
            .withColumn("jac", F.size(F.array_intersect("sh_a", "sh_b"))
                        / F.size(F.array_union("sh_a", "sh_b")))
            .filter(F.col("jac") >= threshold)
            .select("id_a", "id_b"))
    comp = connected_components(confirmed, "id_a", "id_b")
    return (comp.filter(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col), "component"))


# --- simhash -----------------------------------------------------------------


@pandas_udf(LongType())
def _simhash_from_hashes(tok_hashes: pd.Series) -> pd.Series:
    """Bit-majority over per-token 64-bit hashes → 64-bit SimHash.

    Token hashes are computed JVM-side with xxhash64 (deterministic across
    workers); this kernel is pure vectorized numpy over the flattened
    ragged batch — no per-row Python arithmetic."""
    n = len(tok_hashes)
    lens = np.fromiter((len(v) for v in tok_hashes), dtype=np.int64, count=n)
    out = np.zeros(n, dtype=np.uint64)
    total = int(lens.sum())
    if total:
        flat = np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in tok_hashes if len(v)])
        # bits as uint8 via unpackbits (8x smaller than int64 broadcast);
        # per-doc vote sums via reduceat over the contiguous doc segments
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(total, 8), axis=1, bitorder="little")
        offsets = np.zeros(len(lens[lens > 0]), dtype=np.int64)
        np.cumsum(lens[lens > 0][:-1], out=offsets[1:])
        ones = np.add.reduceat(bits, offsets, axis=0)
        votes = 2 * ones - lens[lens > 0, None]
        packed = np.packbits((votes > 0).astype(np.uint8), axis=1,
                             bitorder="little").view(np.uint64).ravel()
        out[lens > 0] = packed
    return pd.Series(out.view(np.int64))


def simhash(df: DataFrame, text_col: str = "text",
            out_col: str = "simhash") -> DataFrame:
    tok_hashes = F.transform(word_tokens(F.col(text_col)),
                             lambda t: F.xxhash64(t))
    return df.withColumn(out_col, _simhash_from_hashes(tok_hashes))


def simhash_md5(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-document 60-bit SimHash from md5 token hashes — the
    oracle-checkable twin of `simhash` (DuckDB recomputes the identical
    bit-majority from the same lane hashes). Blank/NULL docs excluded
    (no tokens → no vote)."""
    tok_hashes = F.transform(word_tokens(F.col(text_col)),
                             lambda t: md5_lane_hash(t, 0))
    return (df.filter(F.length(F.trim(F.coalesce(F.col(text_col),
                                                 F.lit("")))) > 0)
            .select(F.col(id_col),
                    _simhash_from_hashes(tok_hashes).alias("simhash")))


def simhash_neardup_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", band_bits: int = 16,
                          slice_size: int = DEFAULT_SLICE,
                          max_bucket: int | None = None,
                          observation: Observation | None = None
                          ) -> DataFrame:
    """Hamming-near pairs: identical 16-bit simhash band → candidate;
    confirm with popcount(xor) <= 3 (bit_count is a built-in).

    No self-join (see bucket_element_pairs): buckets carry (id, simhash)
    structs so the hamming confirm reads both hashes from the pair, and
    hot buckets fan their pair generation out across tasks."""
    s = simhash(df, text_col, "__sh").select(id_col, "__sh")
    bands = s.select(
        id_col, "__sh",
        F.posexplode(F.array(*[
            (F.shiftrightunsigned(F.col("__sh"), b * band_bits)
             .bitwiseAND(F.lit((1 << band_bits) - 1)))
            for b in range(64 // band_bits)])).alias("band", "key"))
    pairs = bucket_element_pairs(
        bands, ["band", "key"], F.struct(F.col(id_col), F.col("__sh")),
        slice_size, max_bucket, observation)
    return (pairs.select(
        F.col(f"__a.{id_col}").alias("id_a"),
        F.col(f"__b.{id_col}").alias("id_b"),
        F.bit_count(F.col("__a.__sh").bitwiseXOR(F.col("__b.__sh")))
        .alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct())


# --- exact n-gram Jaccard over blocked pairs ---------------------------------


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", block_cols: list[str] = (),
                        threshold: float = 0.5, use_words: bool = True,
                        shingle_k: int = 5) -> DataFrame:
    """Exact Jaccard over word/char shingle sets for pairs sharing the
    blocking key (e.g. lang) — the SQL-oracle-friendly dedup variant.
    Without blocking this is O(n²): only use on bounded groups."""
    shingles = (word_tokens(F.col(text_col)) if use_words
                else char_shingles(F.col(text_col), shingle_k))
    s = df.select(F.col(id_col), *[F.col(c) for c in block_cols],
                  shingles.alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (a.join(b, cond)
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    (F.size(F.array_intersect("a.sh", "b.sh"))
                     / F.size(F.array_union("a.sh", "b.sh"))).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# --- embedding cosine near-dup ----------------------------------------------


def cosine_expr(va: Column, vb: Column) -> Column:
    """Cosine similarity of two array<float|double> columns, JVM-side."""
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(va, F.lit(0.0), lambda a, v: a + v * v))
    nb = F.sqrt(F.aggregate(vb, F.lit(0.0), lambda a, v: a + v * v))
    return dot / (na * nb)


def _hyperplane_matrix(dim: int, nbits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, nbits)).astype(np.float64)


def md5_hyperplane_matrix(dim: int, nbits: int) -> np.ndarray:
    """Deterministic hyperplane matrix DuckDB can recompute closed-form:
    H[d, b] = md5_lane_hash('hp:'||d, b) / 2^60 - 0.5 (uniform on
    [-0.5, 0.5) — not gaussian, but hyperplane LSH only needs a
    symmetric direction distribution). Powers the *_md5 oracle twin of
    the hyperplane-LSH pipeline; the gaussian seed matrix remains the
    production path."""
    import hashlib
    h = np.empty((dim, nbits), dtype=np.float64)
    for d in range(dim):
        for b in range(nbits):
            hx = hashlib.md5(f"hp:{d}:{b}".encode()).hexdigest()
            h[d, b] = int(hx[:15], 16) / float(1 << 60) - 0.5
    return h


def hyperplane_signature(dim: int, nbits: int = 16, seed: int = 42,
                         planes: np.ndarray | None = None):
    """Returns a pandas_udf mapping array<float> → int bucket (LSH sign
    bits of random hyperplane projections; numpy matmul per batch).
    `planes` overrides the seeded gaussian matrix (oracle twins pass the
    md5-derived one)."""
    if planes is None:
        planes = _hyperplane_matrix(dim, nbits, seed)

    @pandas_udf(LongType())
    def sig(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (n, dim) one allocation per batch
        bits = (mat.astype(np.float64) @ planes) > 0
        vals = np.packbits(bits, axis=1, bitorder="little")
        padded = np.zeros((len(vecs), 8), dtype=np.uint8)
        padded[:, : vals.shape[1]] = vals
        return pd.Series(padded.view(np.int64).ravel())

    return sig


def embedding_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id", dim: int = 64,
                            threshold: float = 0.95, nbits: int = 12,
                            seed: int = 42,
                            slice_size: int = DEFAULT_SLICE,
                            max_bucket: int | None = None,
                            observation: Observation | None = None,
                            planes: np.ndarray | None = None) -> DataFrame:
    """Cosine near-dup pairs: hyperplane-LSH bucket blocking + exact
    cosine confirm inside buckets.

    Join-free: buckets carry (id, vector) structs through
    bucket_element_pairs, so the hyperplane pandas_udf and the upstream
    scan run ONCE (the old bucket self-join expanded into two subtrees
    that each recomputed the signature pipeline) and hot buckets fan
    out across tasks. The vector rides the struct into the pair row,
    where the cosine confirm reads both sides JVM-side."""
    sig = hyperplane_signature(dim, nbits, seed, planes=planes)
    s = df.select(F.col(id_col),
                  F.col(vec_col).cast("array<double>").alias("v"),
                  sig(F.col(vec_col)).alias("bucket"))
    pairs = bucket_element_pairs(
        s, ["bucket"], F.struct(F.col(id_col), F.col("v")),
        slice_size, max_bucket, observation)
    return (pairs.select(F.col(f"__a.{id_col}").alias("id_a"),
                         F.col(f"__b.{id_col}").alias("id_b"),
                         cosine_expr(F.col("__a.v"), F.col("__b.v"))
                         .alias("cosine"))
            .filter(F.col("cosine") >= threshold))
