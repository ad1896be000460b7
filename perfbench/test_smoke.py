"""Smoke tests of the benchmark on tiny inputs (about a minute per
workload on 4 CPUs):

    python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import PER_LAYER  # noqa: E402
from run import END_TO_END, unit_of  # noqa: E402
from spans import _covered  # noqa: E402


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == PER_LAYER
    assert all(m["unit"] == unit_of(m["name"]) for m in bench["per_layer"])


def test_covered_merges_overlapping_intervals():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2), (5, 6)], 1, 5.5) == 1.5
    assert _covered([], 0, 1) == 0


@pytest.mark.parametrize("workload", ["json-lineitem", "stream-pages"])
def test_traced_run_emits_every_layer_metric(workload):
    p = _run(workload, trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    summary, last = p.stdout.strip().splitlines()[-2:]
    out = json.loads(last)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == set(PER_LAYER)
    # the tracing overhead is a difference of two walls and may be negative
    assert all(v >= 0 for k, v in m.items() if k != "trace.overhead_s"), m
    assert m["encode.tasks"] > 0 and m["stats.jobs"] > 0
    assert m["codecs.encode_core_s"] > 0 and m["decode.plan_s"] > 0
    with open(os.path.join(ROOT, summary.split("records in ")[1])) as fh:
        res = json.load(fh)
    assert res["self_time_check"]
    for total, wall in res["self_time_check"]:
        assert abs(total - wall) <= abs(m["trace.overhead_s"]) + 1e-6
    if workload == "json-lineitem":
        assert m["ingest.json_scans"] > 0 and m["ingest.infer_s"] > 0
    if workload == "stream-pages":
        assert m["stream.batch_stats_min_s"] > 0
        assert m["decode.substores"] > 1


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("json-lineitem", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
