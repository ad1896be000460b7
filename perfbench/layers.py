"""Per-layer metrics of one traced iteration, named after the engine's
modules. LAYERS.md maps each metric to the end-to-end metric and the
workload it should move."""

from __future__ import annotations

import os

from spans import ENCODE_SCOPE, Trace, task_max_over_median, task_sum
from workloads import (median, read_manifest, read_meta, read_run_metrics,
                       store_dirs, store_files)

# every column of every workload, for codecs.<column>.encode_core_s
COLUMNS = ["url", "warc_ts", "html", "text", "lang",
           "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
           "l_quantity", "l_extendedprice", "l_discount", "l_tax",
           "l_returnflag", "l_linestatus", "l_shipdate", "l_commitdate",
           "l_receiptdate", "l_shipinstruct", "l_shipmode", "l_comment",
           "l_key"]
CODECS = ["plain", "for", "delta", "rle", "dict", "fsst"]

PER_LAYER = (
    ["session.start_s",
     "ingest.infer_s", "ingest.json_scans", "ingest.scan_task_s",
     "stats.wall_s", "stats.jobs", "stats.task_cpu_s",
     "selector.wall_s",
     "encode.stage_wall_s", "encode.task_run_s", "encode.task_cpu_s",
     "encode.gc_s", "encode.shuffle_write_mb", "encode.shuffle_read_mb",
     "encode.fetch_wait_s", "encode.spill_mb", "encode.peak_exec_mem_mb",
     "encode.tasks", "encode.task_max_over_median", "encode.envelope_s",
     "codecs.encode_core_s", "codecs.fallback_frac"]
    + [f"codecs.{c}.encode_core_s" for c in COLUMNS]
    + [f"codecs.{c}.{d}_mb_per_s" for c in CODECS for d in ("encode", "decode")]
    + ["pipeline.self_s", "pipeline.encode_jobs", "pipeline.manifest_s",
       "pipeline.store_files",
       "decode.plan_s", "decode.task_cpu_s", "decode.scan_mb",
       "decode.chunks_pruned_frac", "decode.substores",
       "stream.trigger_s", "stream.batch_stats_s", "stream.batch_stats_min_s",
       "stream.batch_overhead_s",
       "layers.ingest_stats_share", "trace.overhead_s"])


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def store_layers(out_dir: str, rng: tuple) -> dict[str, float]:
    """Layer numbers read from the store's own files: the manifest's
    per-(chunk, column) kernel wall, codecs versus plan, zone maps and the
    per-run metrics file."""
    m: dict[str, float] = {}
    rows = planned_diff = 0
    chunks = pruned = 0
    stats_s, manifest_s = [], 0.0
    col, lo, hi = rng
    for s in store_dirs(out_dir):
        meta = read_meta(s)
        run = read_run_metrics(s)
        stats_s.append(run["stats_s"])
        manifest_s += run["manifest_s"]
        for r in read_manifest(s):
            key = f"codecs.{r['column']}.encode_core_s"
            m[key] = m.get(key, 0.0) + r["wall_ms"] / 1e3
            rows += 1
            planned_diff += r["codec"] != meta["codecs"][r["column"]]
            if r["column"] == col:
                chunks += 1
                pruned += _excluded(r["min_val"], r["max_val"], lo, hi)
    m["codecs.encode_core_s"] = sum(m.values())
    m["codecs.fallback_frac"] = planned_diff / max(rows, 1)
    m["decode.chunks_pruned_frac"] = pruned / max(chunks, 1)
    m["pipeline.manifest_s"] = manifest_s
    files = store_files(out_dir)
    m["pipeline.store_files"] = len(files)
    # what a full read scans (Spark's input-bytes metric misses reads made
    # by the thread that feeds the Python worker)
    m["decode.scan_mb"] = sum(os.path.getsize(f) for f in files
                              if f"{os.sep}chunks{os.sep}" in f) / 1e6
    m["stream.batch_stats_s"] = median(stats_s)
    m["stream.batch_stats_min_s"] = min(stats_s)
    return m


def _excluded(vmin, vmax, lo, hi) -> bool:
    """The zone map [vmin, vmax] provably misses [lo, hi]; bounds are
    stored as strings (numbers as digits, timestamps in str() form)."""
    if vmin is None or vmax is None:
        return False
    if isinstance(lo, int):
        return int(vmax) < lo or int(vmin) > hi
    return vmax < str(lo) or vmin > str(hi)


def encode_layers(tr: Trace, root: int) -> dict[str, float]:
    """Layers of the encode under span `root` (one json-lineitem encode,
    or all triggers of one stream-pages pass)."""
    m: dict[str, float] = {}
    runs = tr.find(root, "run_encode")
    stats = tr.find(root, "collect_stats")
    m["stats.wall_s"] = _dur(stats)
    m["stats.jobs"] = sum(tr.jobs_under(s["id"]) for s in stats)
    m["stats.task_cpu_s"] = task_sum(
        [st for s in stats for st in tr.stages_under(s["id"])],
        "Executor CPU Time") / 1e9
    m["selector.wall_s"] = _dur(s for i in tr.subtree(root)
                                if (s := tr.spans[i])["layer"]
                                == "operators.selector")
    enc = tr.stages_under(root, "encode")
    m["encode.stage_wall_s"] = sum(st["end"] - st["submit"] for st in enc)
    m["encode.task_run_s"] = task_sum(enc, "Executor Run Time") / 1e3
    m["encode.task_cpu_s"] = task_sum(enc, "Executor CPU Time") / 1e9
    m["encode.gc_s"] = task_sum(enc, "JVM GC Time") / 1e3
    m["encode.shuffle_write_mb"] = task_sum(
        enc, "Shuffle Write Metrics", "Shuffle Bytes Written") / 1e6
    m["encode.shuffle_read_mb"] = (
        task_sum(enc, "Shuffle Read Metrics", "Remote Bytes Read")
        + task_sum(enc, "Shuffle Read Metrics", "Local Bytes Read")) / 1e6
    m["encode.fetch_wait_s"] = task_sum(
        enc, "Shuffle Read Metrics", "Fetch Wait Time") / 1e3
    m["encode.spill_mb"] = (task_sum(enc, "Memory Bytes Spilled")
                            + task_sum(enc, "Disk Bytes Spilled")) / 1e6
    m["encode.peak_exec_mem_mb"] = max(
        (t.get("Peak Execution Memory", 0) for st in enc for t in st["tasks"]),
        default=0) / 1e6
    m["encode.tasks"] = sum(len(st["tasks"]) for st in enc)
    m["encode.task_max_over_median"] = task_max_over_median(
        [st for st in enc if ENCODE_SCOPE in st["scopes"]])
    m["pipeline.self_s"] = sum(tr.self_time(r["id"]) for r in runs)
    m["pipeline.encode_jobs"] = sum(tr.jobs_under(r["id"]) for r in runs)
    ingests = tr.find(root, "ingest_json")
    in_ingest = {i for s in ingests for i in tr.subtree(s["id"])}
    scans = [st for st in tr.stages_under(root)
             if st["json"] or st["span"] in in_ingest]
    m["ingest.infer_s"] = _dur(ingests)
    m["ingest.json_scans"] = len(scans)
    m["ingest.scan_task_s"] = task_sum(scans, "Executor Run Time") / 1e3
    triggers = tr.find(root, "trigger")
    if triggers:
        m["stream.trigger_s"] = median([_dur([t]) for t in triggers])
        m["stream.batch_overhead_s"] = median(
            [_dur([t]) - _dur(tr.find(t["id"], "run_encode"))
             for t in triggers])
    m["layers.ingest_stats_share"] = (
        (m["ingest.infer_s"] + m["stats.wall_s"]) / _dur([tr.spans[root]]))
    return m


def decode_layers(tr: Trace, root: int) -> dict[str, float]:
    """Decode side of one full read under span `root`."""
    reads = tr.find(root, "read_encoded")
    top = [s for s in reads if s["parent"] == root]
    dec = tr.stages_under(root, "decode")
    return {"decode.plan_s": _dur(top),
            "decode.task_cpu_s": task_sum(dec, "Executor CPU Time") / 1e9,
            "decode.substores": max(1, len(reads) - len(top))}


def self_time_check(tr: Trace, root: int) -> tuple[float, float]:
    """(sum of per-layer self times, wall) over every run_encode span
    under `root`; they agree when the attribution covers the encode."""
    runs = tr.find(root, "run_encode")
    total = sum(sum(tr.self_times(r["id"]).values()) for r in runs)
    return total, _dur(runs)


def kernel_layers(lane: dict[str, dict]) -> dict[str, float]:
    m = {}
    for codec, acc in lane.items():
        mb = acc["raw_bytes"] / 1e6
        m[f"codecs.{codec}.encode_mb_per_s"] = mb / acc["encode_s"]
        m[f"codecs.{codec}.decode_mb_per_s"] = mb / acc["decode_s"]
    return m

