"""Write the committed traced-run record of each workload.

    python3 perfbench/traced_report.py [--seed 11] [--seconds S] [workload ...]

For each workload, runs the benchmark untraced and then traced with the same
seed, and writes perfbench/results/<workload>.json: the per-layer numbers of
the traced run, span self times, both runs' end-to-end metrics, and the
tracing overhead (traced minus untraced) per end-to-end metric.  The window
defaults to BENCHMARK.json's ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    path = os.path.join(ROOT, ".bench_build", f"report-{workload}-{trace}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--report", path]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(path) as f:
        return json.load(f)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=11)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    p.add_argument("--seconds", type=float, default=run_seconds)
    p.add_argument("workloads", nargs="*",
                   default=["dashboard_read", "ingest_live", "analytics_batch"])
    args = p.parse_args()
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in args.workloads:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        record = {
            "workload": w, "seed": args.seed, "seconds": args.seconds,
            "host_cpus": len(os.sched_getaffinity(0)),
            "attempted": traced["attempted"], "failed": traced["failed"],
            "per_layer": traced["per_layer"],
            "span_self_ms": traced["self_ms"],
            "end_to_end_untraced": plain["end_to_end"],
            "end_to_end_traced": traced["end_to_end"],
            "tracing_overhead": {
                k: traced["end_to_end"][k] - v for k, v in plain["end_to_end"].items()
            },
            "info_untraced": plain["info"],
            "info_traced": traced["info"],
        }
        with open(os.path.join(HERE, "results", f"{w}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
