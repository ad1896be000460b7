"""The benchmark's two workloads: input staging from a seed and one
encode per call, through the engine's public functions only.

    json-lineitem lineitem-shaped JSON lines; ingest_json + run_encode
    stream-pages  web pages cut into time-ordered slices; one
                  encode_stream trigger per slice

Every workload is a closed loop from one process on local[nproc]. Between
them they reach every layer of the encode path: sources.ingest only on
json-lineitem, streaming.encode_stream and the FSST-heavy page columns
only on stream-pages. A run costs about 50 s of mostly fixed Spark costs
whatever the input size, so a third workload (one run_encode of a
persisted pages table) does not fit the time the whole benchmark gets.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import importlib
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from json_to_parquet_spark.plans import pipeline
from json_to_parquet_spark.sources import ingest
from json_to_parquet_spark.sources.webpages import synth_webpages

# the package re-exports the function under the module's name
streaming = importlib.import_module(
    "json_to_parquet_spark.streaming.encode_stream")

# Input sizes. They are far below the engine's design point because a run
# (session start, staging, a cold encode, the round-trip gate and several
# warm iterations) must finish in well under a minute on 4 CPUs; the
# per-encode fixed costs the layers are judged on still dominate at these
# sizes.
LINEITEM_ROWS = 60_000
STREAM_ROWS = 16_000
STREAM_SLICES = 4

# a range read selects this share of the range column's span
RANGE_SHARE = 0.02

# codecs the encoder may record instead of the planned one
_ALLOWED = {"for": {"for", "delta"}, "delta": {"for", "delta"},
            "fsst": {"fsst", "plain"}}


def span(tracer, name: str, layer: str = "bench"):
    """A span of `tracer`, or nothing when the iteration is untraced."""
    return tracer.span(name, layer) if tracer else contextlib.nullcontext()


# --- store inspection (files only, no Spark jobs) ---------------------------


def store_dirs(out_dir: str) -> list[str]:
    """The store itself, or the per-batch sub-stores of a streaming store."""
    if os.path.exists(os.path.join(out_dir, "table_meta.json")):
        return [out_dir]
    return sorted(os.path.dirname(p) for p in glob.glob(
        os.path.join(out_dir, "batches", "*", "table_meta.json")))


def store_files(out_dir: str) -> list[str]:
    """Data and metadata files of a store; Spark's hidden checksum files
    and markers are not part of the format."""
    out = []
    for root, _, files in os.walk(out_dir):
        out += [os.path.join(root, f) for f in files
                if not f.startswith((".", "_"))]
    return out


def store_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(f) for f in store_files(out_dir))


def read_manifest(store: str):
    return pq.read_table(os.path.join(store, "manifest")).to_pylist()


def read_meta(store: str) -> dict:
    with open(os.path.join(store, "table_meta.json")) as fh:
        return json.load(fh)


def read_run_metrics(store: str) -> dict:
    (path,) = glob.glob(os.path.join(store, "metrics_*.json"))
    with open(path) as fh:
        return json.load(fh)


def file_checks(out_dir: str, rows: int) -> dict[str, bool]:
    """Round-trip checks that need no Spark job: the manifest covers every
    source row, and each chunk's codec is the planned one or a fallback
    the encoder documents."""
    stores = store_dirs(out_dir)
    got_rows, codecs_ok = 0, bool(stores)
    for s in stores:
        meta = read_meta(s)
        for r in read_manifest(s):
            if r["column"] == meta["key"]:
                got_rows += r["n_rows"]
            planned = meta["codecs"][r["column"]]
            if r["codec"] not in {planned} | _ALLOWED.get(planned, set()):
                codecs_ok = False
    return {"manifest_rows": got_rows == rows, "manifest_codecs": codecs_ok}


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# --- workloads ---------------------------------------------------------------


class Workload:
    """Stages inputs in `work` and encodes them into a store.

    After `stage()`: `src` is the source DataFrame the round-trip gate
    compares against, `rows` its row count, `range` the (column, lo, hi)
    of the range read and `projected` the columns of the projected read."""

    key = "url"
    projected = ["text"]
    range_col = "warc_ts"
    # encodes even when --seconds has passed (the first one is cold)
    min_iterations = 3
    # reads of each kind after every encode; metrics take medians
    read_repeats = 1

    def __init__(self, spark, work: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale

    def n(self, rows: int) -> int:
        return max(1000, int(rows * self.scale))

    def parallelism(self) -> int:
        """Source partitions: one per core, as Spark's file sources split
        an input this small."""
        return self.spark.sparkContext.defaultParallelism

    def _set_range(self, lo, hi) -> None:
        """A range read over RANGE_SHARE of [lo, hi], in its middle."""
        width = hi - lo
        a = lo + width * 0.49
        b = a + width * RANGE_SHARE
        if isinstance(lo, int):
            a, b = int(a), int(b)
        self.range = (self.range_col, a, b)

    def stage(self) -> None:
        raise NotImplementedError

    def encode(self, out_dir: str, tracer) -> list[dict]:
        """Encode the input into `out_dir`. Returns one record per batch:
        {"wall_s", "raw_bytes"}."""
        raise NotImplementedError

    def cleanup(self) -> None:
        """Remove per-iteration inputs."""


def _lineitem(spark, n: int, seed: int, partitions: int):
    """TPC-H-lineitem-shaped rows: 4 lines per order, skewed small
    domains for flags/modes/dates, prices derived from part keys, and a
    unique `l_key = l_orderkey*8 + l_linenumber`."""
    def h(tag, mod):
        return F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(tag)),
                      F.lit(mod))

    def pick(tag, values):
        return F.element_at(F.array(*[F.lit(v) for v in values]),
                            (h(tag, len(values)) + 1).cast("int"))

    words = ["furiously", "carefully", "quickly", "blithely", "slyly",
             "ironic", "final", "regular", "express", "pending", "bold",
             "special", "deposits", "accounts", "packages", "requests",
             "theodolites", "pinto", "beans", "foxes", "instructions",
             "asymptotes", "sleep", "wake", "haggle", "nag", "cajole"]
    order = F.floor(F.col("id") / 4)
    orderkey = order * 32 + F.pmod(F.xxhash64(order, F.lit(seed)), F.lit(32))
    linenumber = (F.col("id") % 4 + 1).cast("long")
    partkey = h("pk", 20000) + 1
    quantity = (h("qty", 50) + 1).cast("double")
    price = (F.lit(900.0) + F.pmod(partkey * 7919, F.lit(100000)) / 100.0)
    shipdate = F.date_add(F.lit(dt.date(1992, 1, 2)), h("ship", 2526).cast("int"))
    comment = F.concat_ws(" ", *[pick(f"w{i}", words) for i in range(4)])
    return spark.range(0, n, 1, partitions).select(
        orderkey.alias("l_orderkey"),
        partkey.alias("l_partkey"),
        (h("sk", 1000) + 1).alias("l_suppkey"),
        linenumber.alias("l_linenumber"),
        quantity.alias("l_quantity"),
        F.round(quantity * price, 2).alias("l_extendedprice"),
        (h("disc", 11) / 100.0).alias("l_discount"),
        (h("tax", 9) / 100.0).alias("l_tax"),
        pick("rf", ["N", "N", "A", "R"]).alias("l_returnflag"),
        pick("ls", ["O", "F"]).alias("l_linestatus"),
        F.date_format(shipdate, "yyyy-MM-dd").alias("l_shipdate"),
        F.date_format(F.date_add(shipdate, (h("commit", 91) - 30).cast("int")),
                      "yyyy-MM-dd").alias("l_commitdate"),
        F.date_format(F.date_add(shipdate, (h("rcpt", 30) + 1).cast("int")),
                      "yyyy-MM-dd").alias("l_receiptdate"),
        pick("si", ["DELIVER IN PERSON", "COLLECT COD", "NONE",
                    "TAKE BACK RETURN"]).alias("l_shipinstruct"),
        pick("sm", ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL",
                    "FOB"]).alias("l_shipmode"),
        comment.alias("l_comment"),
        (orderkey * 8 + linenumber).alias("l_key"))


class JsonLineitem(Workload):
    key = "l_key"
    projected = ["l_comment"]
    range_col = "l_key"
    # each read takes about half a second, so one sample is mostly noise
    read_repeats = 2

    def stage(self) -> None:
        self.path = os.path.join(self.work, "lineitem_json")
        self.rows = self.n(LINEITEM_ROWS)
        gen = _lineitem(self.spark, self.rows, self.seed, self.parallelism())
        gen.write.mode("overwrite").json(self.path)
        self._set_range(*gen.agg(F.min(self.key), F.max(self.key)).first())
        self.src = ingest.ingest_json(self.spark, self.path)

    def encode(self, out_dir, tracer):
        t0 = time.perf_counter()
        src = ingest.ingest_json(self.spark, self.path)
        m = pipeline.run_encode(self.spark, src, out_dir, key=self.key)
        return [{"wall_s": time.perf_counter() - t0,
                 "raw_bytes": m["raw_bytes"]}]


class StreamPages(Workload):
    # one pass already holds STREAM_SLICES - 1 warm triggers
    min_iterations = 1

    def stage(self) -> None:
        self.rows = self.n(STREAM_ROWS)
        pages = synth_webpages(self.spark, self.rows, seed=self.seed,
                               partitions=self.parallelism())
        us = F.unix_micros("warc_ts")
        lo, hi = pages.agg(F.min(us), F.max(us)).first()
        part = F.least(F.lit(STREAM_SLICES - 1),
                       F.floor((us - lo) * STREAM_SLICES / (hi - lo + 1)))
        tmp = os.path.join(self.work, "slices_tmp")
        (pages.withColumn("slice", part.cast("int")).repartition(1, "slice")
         .write.partitionBy("slice").parquet(tmp))
        os.makedirs(os.path.join(self.work, "slices"))
        self.slices = []
        for k in range(STREAM_SLICES):
            (path,) = glob.glob(os.path.join(tmp, f"slice={k}", "*.parquet"))
            dest = os.path.join(self.work, "slices", f"slice_{k:03d}.parquet")
            os.replace(path, dest)
            self.slices.append(dest)
        _rm(tmp)
        self.src = self.spark.read.schema(streaming.WEBPAGE_SCHEMA) \
            .parquet(os.path.join(self.work, "slices"))
        self._set_range(*self.src.agg(F.min("warc_ts"), F.max("warc_ts")).first())
        # one chunk per core: a slice is small, and with more chunks (the
        # default is 64) a trigger is mostly task start-up
        self.n_chunks = self.parallelism()
        self._pass = 0

    def encode(self, out_dir, tracer):
        """One trigger per slice: the slice is moved into the source
        directory, then one availableNow query encodes it."""
        self._pass += 1
        src_dir = os.path.join(self.work, f"stream_src{self._pass}")
        ckpt = os.path.join(self.work, f"stream_ckpt{self._pass}")
        os.makedirs(src_dir)
        batches = []
        for k, path in enumerate(self.slices):
            os.link(path, os.path.join(src_dir, os.path.basename(path)))
            t0 = time.perf_counter()
            with span(tracer, "trigger", "streaming.encode_stream"):
                q = streaming.encode_stream(self.spark, src_dir, out_dir, ckpt,
                                            n_chunks=self.n_chunks)
                q.awaitTermination()
            wall = time.perf_counter() - t0
            subs = store_dirs(out_dir)
            if len(subs) != k + 1:
                raise RuntimeError(f"trigger {k} wrote {len(subs)} sub-stores")
            batches.append({"wall_s": wall,
                            "raw_bytes": read_run_metrics(subs[-1])["raw_bytes"]})
        return batches

    def cleanup(self) -> None:
        for d in glob.glob(os.path.join(self.work, "stream_*")):
            _rm(d)


WORKLOADS = {"json-lineitem": JsonLineitem, "stream-pages": StreamPages}


def median(values) -> float:
    return statistics.median(values) if values else 0.0
