"""Layer tracing for the benchmark: spans around the engine's layer
functions plus per-stage task metrics parsed from Spark's event log.

Spans are recorded from the benchmark's own files, by replacing layer
functions through their module attributes (the engine is not edited).
Each span tags the Spark jobs launched inside it with a local property,
so every stage in the event log can be assigned to the span that caused
it. Stages are then re-assigned by what they execute: the lazy grouped
encode (an Arrow group map, plus the map stage that feeds its shuffle)
belongs to `operators.encode` even though the action that runs it is
issued by `plans.pipeline.run_encode`; the Arrow map that decodes chunks
belongs to the decode side of `operators.encode`.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

SPAN_PROP = "perfbench.span"

ENCODE_SCOPE = "FlatMapGroupsInArrow"
DECODE_SCOPE = "MapInArrow"
JSON_SCAN_SCOPE = "Scan json"


class Tracer:
    """In-memory span recorder. Spans nest by call order: the benchmark
    drives the engine from one closed loop, so at most one span chain is
    open at a time (a streaming sink runs while the caller blocks)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield rec
        finally:
            self.sc.setLocalProperty(SPAN_PROP, prev)
            self._stack.pop()
            rec["end"] = time.time()

    def patch(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(attr, layer):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the layer functions that run_encode and read_encoded call."""
    from json_to_parquet_spark.plans import pipeline
    from json_to_parquet_spark.sources import ingest

    tracer.patch(pipeline, "run_encode", "plans.pipeline")
    tracer.patch(pipeline, "read_encoded", "plans.pipeline")
    tracer.patch(pipeline, "collect_stats", "operators.stats")
    for fn in ("choose_codecs", "build_codec_plan", "choose_sort_order"):
        tracer.patch(pipeline, fn, "operators.selector")
    tracer.patch(pipeline, "encode_chunks", "operators.encode")
    tracer.patch(pipeline, "decode_chunks", "operators.encode")
    tracer.patch(ingest, "ingest_json", "sources.ingest")


# --- event log ---------------------------------------------------------------


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    return files[0]


def parse_event_log(path: str) -> tuple[dict[int, int | None], dict[int, dict]]:
    """→ (job id → span id, stage id → stage record).

    A stage record holds `span` (the span whose job ran it, None if the
    job was launched outside every span), `submit`/`end` in seconds,
    `scopes` (plan node names), `rdds`, `parents` (RDDs it reads through
    a shuffle), `tasks` (task metric dicts), `kind` and `json`."""
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                sid = (e.get("Properties") or {}).get(SPAN_PROP)
                job_span[e["Job ID"]] = int(sid) if sid is not None else None
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if m:
                    tasks.setdefault(e["Stage ID"], []).append(m)
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                scopes, rdds, parents = set(), set(), set()
                for r in si["RDD Info"]:
                    rdds.add(r["RDD ID"])
                    parents.update(r["Parent IDs"])
                    if r.get("Scope"):
                        scopes.add(json.loads(r["Scope"])["name"].strip())
                stages[si["Stage ID"]] = {
                    "submit": si["Submission Time"] / 1000.0,
                    "end": si["Completion Time"] / 1000.0,
                    "scopes": scopes, "rdds": rdds,
                    "parents": parents - rdds}
    for sid, st in stages.items():
        st["span"] = job_span.get(stage_job.get(sid))
        st["tasks"] = tasks.get(sid, [])
    _classify(stages)
    return job_span, stages


def _classify(stages: dict[int, dict]) -> None:
    """kind: "encode" (the grouped encode and the map stage feeding its
    shuffle), "decode" (the chunk-decoding Arrow map) or "other";
    json: the stage scans JSON text."""
    feeds_encode: set[int] = set()
    for st in stages.values():
        st["json"] = JSON_SCAN_SCOPE in st["scopes"]
        st["kind"] = "other"
        if ENCODE_SCOPE in st["scopes"]:
            st["kind"] = "encode"
            feeds_encode |= st["parents"]
        elif DECODE_SCOPE in st["scopes"]:
            st["kind"] = "decode"
    for st in stages.values():
        if st["rdds"] & feeds_encode:
            st["kind"] = "encode"


# --- span arithmetic ---------------------------------------------------------


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Trace:
    """Query helpers over recorded spans and parsed stages."""

    def __init__(self, spans: list[dict], job_span: dict[int, int | None],
                 stages: dict[int, dict]):
        self.spans = spans
        self.job_span = job_span
        self.stages = stages
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, []))
        return out

    def find(self, root: int, name: str) -> list[dict]:
        return [self.spans[i] for i in self.subtree(root)
                if self.spans[i]["name"] == name]

    def stages_under(self, root: int, kind: str | None = None) -> list[dict]:
        ids = set(self.subtree(root))
        return [st for st in self.stages.values() if st["span"] in ids
                and (kind is None or st["kind"] == kind)]

    def jobs_under(self, root: int) -> int:
        ids = set(self.subtree(root))
        return sum(1 for sid in self.job_span.values() if sid in ids)

    def _encode_stages(self, sid: int) -> list[tuple[float, float]]:
        """Intervals of the encode stages run by the jobs of span `sid`."""
        return [(st["submit"], st["end"]) for st in self.stages.values()
                if st["span"] == sid and st["kind"] == "encode"]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part covered by its child spans and by
        the encode stages its own jobs ran (those belong to
        operators.encode)."""
        s = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"])
                for c in self.children.get(sid, [])]
        kids += self._encode_stages(sid)
        return (s["end"] - s["start"]) - _covered(kids, s["start"], s["end"])

    def self_times(self, sid: int) -> dict[str, float]:
        """Self time per layer over the subtree of `sid`; encode stages
        launched directly by a span count as operators.encode self time."""
        out: dict[str, float] = {}
        for i in self.subtree(sid):
            s = self.spans[i]
            out[s["layer"]] = out.get(s["layer"], 0.0) + self.self_time(i)
            enc = _covered(self._encode_stages(i), s["start"], s["end"])
            out["operators.encode"] = out.get("operators.encode", 0.0) + enc
        return out


def task_sum(stages: list[dict], *path: str) -> float:
    total = 0.0
    for st in stages:
        for m in st["tasks"]:
            v = m
            for p in path:
                v = v.get(p, 0) if isinstance(v, dict) else 0
            total += v or 0
    return total


def task_max_over_median(stages: list[dict]) -> float:
    ratios = []
    for st in stages:
        runs = [m.get("Executor Run Time", 0) for m in st["tasks"]]
        med = statistics.median(runs) if runs else 0
        if med > 0:
            ratios.append(max(runs) / med)
    return statistics.median(ratios) if ratios else 0.0
