#!/usr/bin/env python3
"""Encode/decode benchmark of json_to_parquet_spark.

    python3 perfbench/run.py --workload json-lineitem --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts a local[nproc] session,
stages the workload's inputs from the seed, times a cold encode, checks
the round trip, then runs warm iterations (encode, then full, projected
and range reads) for --seconds. The last stdout line is one JSON object:
the end-to-end metrics with --trace 0, the per-layer metrics of
layers.PER_LAYER with --trace 1 (spans around the engine's layer
functions plus Spark's event log; traced and untraced iterations
alternate to measure the tracing overhead). Per-iteration records go to
.perfbench/results/. Exits non-zero when a round-trip check fails.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# the engine is imported from the checkout this file sits in
from pyspark.sql import functions as F  # noqa: E402

from json_to_parquet_spark.plans import pipeline  # noqa: E402
from json_to_parquet_spark.session import get_spark  # noqa: E402
from json_to_parquet_spark.sources import ingest  # noqa: E402
from kernels import kernel_lane  # noqa: E402
from layers import (PER_LAYER, decode_layers, encode_layers,  # noqa: E402
                    kernel_layers, self_time_check, store_layers)
from spans import (Trace, Tracer, event_log_file,  # noqa: E402
                   install_layer_spans, parse_event_log)
from workloads import (WORKLOADS, file_checks, median, read_meta,  # noqa: E402
                       span, store_bytes, store_dirs)

DEADLINE_S = 50         # no optional iteration after this long since process start
# A fixed, pre-touched JVM heap: the heap's resident size then does not
# depend on when the collector chose to grow it, and peak_pss_mb moves
# with what the engine itself holds (Python workers, Arrow buffers).
DRIVER_MEM = "2g"

END_TO_END = [("setup_s", "s"), ("cold_encode_s", "s"),
              ("encode_mb_per_s", "MB/s"), ("decode_mb_per_s", "MB/s"),
              ("read_projected_s", "s"), ("read_range_s", "s"),
              ("batch_latency_s", "s"), ("compression_ratio", "ratio"),
              ("size_vs_reference", "ratio"), ("peak_pss_mb", "MB")]


def process_start() -> float:
    """Epoch time at which this process started."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_pss() -> dict[str, int]:
    """Proportional set size, in bytes, of this process and each of its
    descendants by command name. PSS splits pages shared between forked
    Python workers among them, so the sum counts memory once."""
    out: dict[str, int] = {}
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(int(line.split()[1]) for line in fh
                           if line.startswith("Pss:"))
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
        except (OSError, StopIteration, ValueError):
            continue
        out[name] = out.get(name, 0) + pss * 1024
    return out


class MemorySampler(threading.Thread):
    """Peak of the summed PSS of this process and all its descendants
    (the JVM and the Python workers), with the split at the peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            split = tree_pss()
            if sum(split.values()) > self.peak:
                self.peak, self.peak_split = sum(split.values()), split

    def stop(self) -> None:
        self._done.set()
        self.join()


def configure_env(work: str, trace: bool) -> None:
    """Session settings, passed in before the JVM starts; every file the
    session writes stays inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # spark-submit adds these to the driver JVM's command line
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")
    args = []
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        for kv in ("spark.eventLog.enabled=true",
                   f"spark.eventLog.dir=file://{log_dir}",
                   "spark.eventLog.compress=false",
                   "spark.eventLog.rolling.enabled=false"):
            args += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and every process under it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.05)


class Bench:
    def __init__(self, spark, wl, work: str, args, t_proc: float):
        self.spark = spark
        self.wl = wl
        self.work = work
        self.args = args
        self.t_proc = t_proc
        self.res: dict = {"checks": {}, "iterations": []}

    def read(self, out_dir: str, kind: str, tracer) -> tuple[float, int, int]:
        """One read of the mix → (wall, span id or -1, rows or -1). The full
        read goes to Spark's noop sink, which consumes every column of
        every row, so the Arrow→JVM hand-back counts; projected and range
        reads are counted, and their counts are checked."""
        wl = self.wl
        kw = {"full": {}, "projected": {"columns": wl.projected},
              "range": {"where": wl.range}}[kind]
        rows = -1
        with span(tracer, f"read.{kind}") as rec:
            t0 = time.perf_counter()
            df = pipeline.read_encoded(self.spark, out_dir, **kw)
            if kind == "full":
                df.write.format("noop").mode("overwrite").save()
            else:
                rows = df.count()
            wall = time.perf_counter() - t0
        return wall, rec["id"] if rec else -1, rows

    def first_store(self, out_dir: str) -> None:
        """Checks and sizes taken once, on the first store of the run."""
        wl, res = self.wl, self.res
        v = pipeline.verify_encoded(self.spark, wl.src, out_dir, mode="checksum")
        res["checks"]["verify_checksum"] = bool(v["ok"]) and v["rows"] == wl.rows
        col, lo, hi = wl.range
        self.expect = {"projected": wl.rows, "range": wl.src.filter(
            (F.col(col) >= lo) & (F.col(col) <= hi)).count()}
        res["checks"]["range_nonempty"] = self.expect["range"] > 0
        res["store_bytes"] = store_bytes(out_dir)
        ref_dir = os.path.join(self.work, "reference")
        ingest.write_reference_parquet(wl.src, ref_dir)
        res["reference_bytes"] = store_bytes(ref_dir)
        shutil.rmtree(ref_dir)
        if self.args.trace:
            meta = read_meta(store_dirs(out_dir)[0])
            res["kernel_lane"] = kernel_lane(wl.src, meta, self.args.seed)

    def iteration(self, i: int, traced: bool) -> dict:
        """Encode into a fresh store; the first iteration's first encode
        is the process's cold encode."""
        out_dir = os.path.join(self.work, f"store{i}")
        tracer = Tracer(self.spark.sparkContext) if traced else None
        rec = {"traced": traced, "spans": {},
               "reads": {"full": [], "projected": [], "range": []}}
        checks = self.res["checks"]
        if tracer:
            install_layer_spans(tracer)
        try:
            with span(tracer, "encode") as enc:
                rec["batches"] = self.wl.encode(out_dir, tracer)
            if i == 0:
                self.first_store(out_dir)
            # read samples are spread over the run: machine speed drifts
            # on the scale of a run, and samples taken back to back share
            # one drift
            for r in range(self.wl.read_repeats):
                for kind in ("full", "projected", "range"):
                    wall, sid, rows = self.read(out_dir, kind, tracer)
                    rec["reads"][kind].append(wall)
                    rec["spans"].setdefault(f"read.{kind}", sid)
                    if kind != "full":
                        checks[f"iter{i}.{kind}{r}_rows"] = \
                            rows == self.expect[kind]
        finally:
            if tracer:
                tracer.unpatch()
        rec["raw_bytes"] = sum(b["raw_bytes"] for b in rec["batches"])
        for k, ok in file_checks(out_dir, self.wl.rows).items():
            checks[f"iter{i}.{k}"] = ok
        if tracer:
            rec["spans"]["encode"] = enc["id"]
            rec["store"] = store_layers(out_dir, self.wl.range)
            rec["tracer_spans"] = tracer.spans
        shutil.rmtree(out_dir)
        self.wl.cleanup()
        return rec

    def more(self, t_loop: float) -> bool:
        """Another iteration? Every run makes the same iterations (so a
        slow machine does not also shorten the warm-up); only those past
        that minimum depend on --seconds and the deadline."""
        iters = self.res["iterations"]
        if len(iters) < self.wl.min_iterations:
            return True
        if self.args.trace and not any(a["traced"] and not b["traced"]
                                       for a, b in zip(iters, iters[1:])):
            return True
        return (time.time() - self.t_proc < DEADLINE_S
                and time.perf_counter() - t_loop < self.args.seconds)

    def run(self) -> dict:
        iters = self.res["iterations"]
        t_loop = time.perf_counter()
        while self.more(t_loop):
            # a traced run traces an iteration only between two untraced
            # ones with warm batches, which tracing_overhead compares it to
            i = len(iters)
            traced = (bool(self.args.trace) and i > 0
                      and not iters[-1]["traced"] and bool(_warm(i - 1, iters[-1])))
            iters.append(self.iteration(i, traced))
        return self.res


def _warm(i: int, it: dict) -> list[dict]:
    """Encode batches of iteration `i` after the first one of the process."""
    return it["batches"][1 if i == 0 else 0:]


def tracing_overhead(iters: list[dict]) -> float:
    """Median over traced iterations of their mean warm batch wall minus
    the mean of the untraced iterations just before and after; a linear
    warm-up trend cancels."""
    def wall(i: int) -> float:
        w = _warm(i, iters[i])
        return sum(b["wall_s"] for b in w) / len(w)

    return median([wall(i) - (wall(i - 1) + wall(i + 1)) / 2
                   for i in range(1, len(iters) - 1) if iters[i]["traced"]])


def end_to_end(res: dict, setup_s: float, peak_pss: int) -> dict[str, float]:
    iters = res["iterations"]
    rates = [sum(b["raw_bytes"] for b in w) / 1e6 / sum(b["wall_s"] for b in w)
             for i, it in enumerate(iters) if (w := _warm(i, it))]
    return {
        "setup_s": setup_s,
        "cold_encode_s": iters[0]["batches"][0]["wall_s"],
        "encode_mb_per_s": median(rates),
        "decode_mb_per_s": median([it["raw_bytes"] / 1e6 / t for it in iters
                                   for t in it["reads"]["full"]]),
        "read_projected_s": median([t for it in iters
                                    for t in it["reads"]["projected"]]),
        "read_range_s": median([t for it in iters
                                for t in it["reads"]["range"]]),
        "batch_latency_s": median([b["wall_s"] for i, it in enumerate(iters)
                                   for b in _warm(i, it)]),
        "compression_ratio": iters[0]["raw_bytes"] / res["store_bytes"],
        "size_vs_reference": res["store_bytes"] / res["reference_bytes"],
        "peak_pss_mb": peak_pss / 1e6,
    }


def per_layer(res: dict, session_s: float, log_dir: str) -> dict[str, float]:
    job_span, stages = parse_event_log(event_log_file(log_dir))
    vals: dict[str, list[float]] = {}
    checks = []
    for it in res["iterations"]:
        if not it["traced"]:
            continue
        tr = Trace(it["tracer_spans"], job_span, stages)
        m = dict(it["store"])
        m.update(encode_layers(tr, it["spans"]["encode"]))
        m.update(decode_layers(tr, it["spans"]["read.full"]))
        m["encode.envelope_s"] = m["encode.task_run_s"] - m["codecs.encode_core_s"]
        checks.append(self_time_check(tr, it["spans"]["encode"]))
        for k, v in m.items():
            vals.setdefault(k, []).append(v)
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: median(v) for k, v in vals.items()})
    out["session.start_s"] = session_s
    out.update(kernel_layers(res["kernel_lane"]))
    out["trace.overhead_s"] = tracing_overhead(res["iterations"])
    res["self_time_check"] = checks
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    return out


def unit_of(name: str) -> str:
    for suffix, unit in (("_mb_per_s", "MB/s"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_share", "ratio"),
                         ("_over_median", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test uses a "
                        "small one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_proc = process_start()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    atexit.register(shutil.rmtree, work, True)
    configure_env(work, bool(args.trace))

    sampler = MemorySampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        wl.stage()
        setup_s = time.time() - t_proc
        res = Bench(spark, wl, work, args, t_proc).run()
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()

    res.update(workload=args.workload, seed=args.seed, trace=args.trace,
               scale=args.scale, rows=wl.rows, setup_s=setup_s,
               session_s=session_s, peak_memory_split=sampler.peak_split)
    if args.trace:
        metrics = per_layer(res, session_s, os.path.join(work, "eventlog"))
    else:
        metrics = end_to_end(res, setup_s, sampler.peak)
        units = dict(END_TO_END)
    attempted = len(res["checks"])
    failed = sum(1 for ok in res["checks"].values() if not ok)
    res["metrics"] = metrics
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    path = os.path.join(base, "results", f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump(res, fh, default=str)
    print(f"{args.workload} seed={args.seed}: {len(res['iterations'])} "
          f"iterations, failed_frac={failed / attempted} ({failed}/{attempted} "
          f"round-trip checks failed); records in "
          f"{os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v,
                        "unit": units[k] if not args.trace else unit_of(k)}
                    for k, v in metrics.items()}}, separators=(",", ":")))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
