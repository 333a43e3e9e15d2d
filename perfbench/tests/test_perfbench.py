"""Self-tests of the benchmark: span arithmetic, the event-log fold, the
refusal to run without the engine, and a tiny smoke run of each workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each on a 4-core host) and use
the benchmark's own work directory, so do not run them while a benchmark
run is in progress.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench.trace import Span, fold_event_log, rollup, self_times  # noqa: E402


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        Span("p", "iteration", 0.0, 10.0),
        Span("a", "call", 1.0, 3.0, parent="p"),
        Span("b", "call", 2.0, 5.0, parent="p"),    # overlaps a: union [1, 5]
        Span("c", "call", 7.0, 8.0, parent="p"),
        Span("d", "call", 9.0, 12.0, parent="p"),   # clipped to [9, 10]
        Span("g", "inner", 1.5, 2.5, parent="a"),   # inside a: not the parent's
    ]
    st = self_times(spans)
    assert st["p"] == pytest.approx(10.0 - 4.0 - 1.0 - 1.0)
    assert st["a"] == pytest.approx(2.0 - 1.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["g"] == pytest.approx(1.0)


def test_fold_recorded_event_log_into_span_counters():
    """Recorded from pyspark 4.1.2 on local[2] (uncompressed event log):
    job group s0 ran a mapInArrow + groupBy count (2 jobs; stage 1 is
    skipped, stages 0 and 2 ran 2 + 1 tasks), job group s1 a plain count
    (2 jobs; stages 3 and 5 ran 2 + 1 tasks). Events and fields the fold
    does not read were dropped to keep the file small."""
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as f:
        groups = fold_event_log(f)
    assert set(groups) == {"s0", "s1"}
    s0, s1 = groups["s0"], groups["s1"]
    assert (s0["jobs"], s0["stages"], s0["tasks"]) == (2, 2, 3)
    assert (s1["jobs"], s1["stages"], s1["tasks"]) == (2, 2, 3)
    # only the Arrow stage talks to Python workers: 2 tasks x 11072 B out
    assert (s0["to_python_bytes"], s0["from_python_bytes"]) == (22144, 21632)
    assert s0["python_ms"] == 1511 + 1534
    assert s1["to_python_bytes"] == 0 and s1["python_ms"] == 0
    assert (s0["shuffle_write_bytes"], s1["shuffle_write_bytes"]) == (302, 118)
    assert s0["executor_cpu_s"] > 0 and len(s0["task_s"]) == 3
    # a parent span carries its children's counters
    spans = [Span("p", "iteration", 0, 1), Span("s0", "a", 0, 1, parent="p"),
             Span("s1", "b", 0, 1, parent="p")]
    tot = rollup(spans, groups)
    assert tot["p"]["jobs"] == 4 and tot["p"]["tasks"] == 6
    assert tot["p"]["shuffle_write_bytes"] == 302 + 118


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", ["ingest", "query"])
def test_tiny_smoke_run_passes_its_checks(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    res, out = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, out
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert "check " in out and "FAILED" not in out


@pytest.mark.parametrize("workload", ["ingest", "query"])
def test_tiny_traced_run_reports_every_layer(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    res, out = _run(workload, 1)
    assert res["correct"], out
    assert set(res["metrics"]) == {m["name"] for m in spec["per_layer"]}
    # every call span's jobs were tagged and folded
    jobs = {"ingest": "pipeline.fresh_jobs", "query": "spatial.knn_jobs"}[workload]
    assert res["metrics"][jobs]["value"] > 0
