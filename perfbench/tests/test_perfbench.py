"""Benchmark self-test: helpers, the event-log fold, and every workload at
tiny size through the real command line.

    python3 -m pytest perfbench/tests -q

The workload tests start a JVM each and take a few minutes in total.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench.stats import TooFewSamples, percentile  # noqa: E402
from perfbench.trace import Tracer, fold_event_log, fold_jobs, fold_progress  # noqa: E402
from perfbench.workloads import canonical_digest, rounded_mismatch  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 0.5)
    assert percentile(list(range(21)), 0.5) == 10
    with pytest.raises(TooFewSamples):
        percentile([1.0] * 99, 0.9)
    assert percentile(list(range(100)), 0.9) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        percentile(list(range(50)), 1.0)


def test_event_log_fold_small_fixture():
    jobs = fold_event_log(os.path.join(HERE, "eventlog_small.jsonl"))
    assert [j["job"] for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0["group"] == "q-stream_corr-0" and j1["group"] is None
    assert (j0["submit"], j0["end"]) == (1.0, 1.5)
    assert j0["stages"] == 2 and j0["tasks"] == 3
    assert j0["executor_run_ms"] == 110 and j0["executor_cpu_ms"] == pytest.approx(82.0)
    assert j0["gc_ms"] == 6 and j0["shuffle_write_bytes"] == 400 and j0["spill_bytes"] == 7
    # stage 2 never completed (skipped): only stage 3 counts
    assert j1["stages"] == 1 and j1["tasks"] == 1
    tot = fold_jobs(jobs)
    assert tot["jobs"] == 2 and tot["stages"] == 3 and tot["executor_run_ms"] == 115


def test_progress_fold_skips_empty_epochs():
    prog = [
        {"numInputRows": 0, "durationMs": {"triggerExecution": 5}},
        {"numInputRows": 600, "durationMs": {"triggerExecution": 3000, "addBatch": 2800}},
        {"numInputRows": 1200, "durationMs": {"triggerExecution": 5000, "addBatch": 4600}},
    ]
    out = fold_progress(prog)
    assert out["epochs"] == 2 and out["input_rows_per_epoch"] == 900
    assert out["trigger_ms"] == 4000 and out["add_batch_ms"] == 3700
    assert out["wal_commit_ms"] == 0


def test_tracer_self_time_and_parents():
    tr = Tracer()
    with tr.op("r1"), tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = sorted(tr.spans, key=lambda s: s["name"])
    assert inner["parent"] == outer["id"] and inner["op"] == outer["op"] == "r1"
    self_ms = tr.self_ms()
    assert self_ms["outer"] <= 1000 * (outer["end"] - outer["start"])


def test_digest_is_order_insensitive_and_null_aware():
    a = canonical_digest(["b", "a"], [(1, "x"), (None, "y")])
    b = canonical_digest(["a", "b"], [("y", math.nan), ("x", 1.0)])
    assert a == b
    assert a != canonical_digest(["a", "b"], [("y", 0.0), ("x", 1.0)])


def test_rounded_result_allows_one_unit_in_the_last_place():
    import pandas as pd

    want = {"columns": ["k", "avg", "n"], "rows": [["a", 35.0037, 8], ["b", 1.5, 2]]}

    def pdf(rows):
        return pd.DataFrame(rows, columns=["n", "k", "avg"])

    # a half-way value rounded the other way, in any row or column order
    assert rounded_mismatch(pdf([(2, "b", 1.5), (8, "a", 35.0038)]), want, 4) is None
    assert rounded_mismatch(pdf([(8, "a", 35.0039), (2, "b", 1.5)]), want, 4)
    assert rounded_mismatch(pdf([(7, "a", 35.0037), (2, "b", 1.5)]), want, 4)
    assert rounded_mismatch(pdf([(8, "a", 35.0037)]), want, 4)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["dashboard_read", "ingest_live", "analytics_batch"])
def test_workload_tiny(workload, trace):
    """Each workload at sf0.001 (a few dozen ingest files) prints every
    metric of its mode with its unit, and no operation fails."""
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "3",
        "--trace", str(trace), "--scale", "sf0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = _bench()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), k
        if not trace:
            assert v["value"] > 0, k


def test_refuses_to_run_without_the_engine(tmp_path):
    """Outside a checkout (only BENCHMARK.json and perfbench/) it exits
    non-zero without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard_read",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
