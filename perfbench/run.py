"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 20 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end metrics
(tracing off); ``--trace 1`` installs the benchmark's span wrappers and the
Spark event log and prints the per-layer metrics.  The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``; diagnostics go
to standard error.  Everything the run writes stays under
``.bench_build/perfbench/`` in the repository, and the run directory is
removed at the end.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("dashboard_read", "ingest_live", "analytics_batch")
#: data scale per workload (see README.md for why analytics is not sf0.1)
SCALES = {"dashboard_read": "sf0.1", "ingest_live": "sf0.1", "analytics_batch": "sf0.01"}


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """The end-to-end and per-layer name -> unit maps of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the peak usage of the JVM's heap pools, in MiB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    ) / 2**20


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", help="override the workload's data scale (self-test)")
    p.add_argument("--report", help="also write a full JSON report to this file")
    return p.parse_args(argv)


def start_spark(work: str, eventlog: str | None):
    """The engine's own session factory on local[<cores / 2>], with every
    scratch path inside the run directory."""
    from nntsc_spark.session import get_spark

    tmp = f"{work}/tmp"
    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog:
        os.makedirs(eventlog)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def spark_layers(workload: str, out, eventlog: str) -> dict:
    """Fold the event log: per query for analytics (job group = query run),
    per ingest epoch, and per request for the dashboard."""
    from perfbench.trace import fold_event_log, fold_jobs
    from perfbench.workloads import ANALYTICS_QUERIES, spark_per_op

    logs = [p for p in glob.glob(f"{eventlog}/*") if not p.endswith(".inprogress")]
    jobs = fold_event_log(logs[0]) if logs else []
    w0, w1 = out.window
    layers = {}
    if workload == "analytics_batch":
        timed = [j for j in jobs if (j["group"] or "").startswith("q-")
                 and not j["group"].endswith("-warm")]
        layers.update(spark_per_op(timed, out.ops))
        for q in ANALYTICS_QUERIES:
            mine = [j for j in timed if j["group"].rsplit("-", 1)[0] == f"q-{q}"]
            reps = max(1, len({j["group"] for j in mine}))
            tot = fold_jobs(mine)
            for k in ("stages", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                      "shuffle_write_bytes", "spill_bytes"):
                layers[f"spark.{q}.{k}"] = tot[k] / reps
    elif workload == "ingest_live":
        timed = [j for j in jobs if (j["group"] or "").startswith("epoch-") and j["submit"] >= w0]
        layers.update(spark_per_op(timed, out.ops))
    else:
        timed = [j for j in jobs if w0 <= j["submit"] <= w1]
        layers.update(spark_per_op(timed, out.requests))
    return layers


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nntsc_spark")):
        print(f"perfbench: no nntsc_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        # Spark gets half the cores as task slots.  The rest run what the
        # tasks wait on: driver-side planning in the JVM and in Python, GC
        # and JIT threads, the load generator and the clients.  With a slot
        # per core, a stage is held up whenever one of its tasks is
        # descheduled behind them.
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        # the JVM that spark-submit starts to build the driver command would
        # otherwise write its perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    try:
        return run(args, work, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, base: str) -> int:
    from perfbench import workloads
    from perfbench.stats import vm_hwm_mb
    from perfbench.trace import Tracer

    eventlog = f"{work}/eventlog" if args.trace else None
    t0 = time.monotonic()
    spark = start_spark(work, eventlog)
    jvm_s = time.monotonic() - t0
    jvm = spark.sparkContext._gateway.proc
    tracer = Tracer() if args.trace else None
    if tracer:
        workloads.trace_serving(tracer)
        workloads.trace_ingest(tracer)
    ctx = workloads.Ctx(
        spark=spark, work=work, seed=args.seed, seconds=args.seconds,
        scale=args.scale or SCALES[args.workload], tracer=tracer,
    )
    try:
        out = getattr(workloads, args.workload)(ctx)
        out.layers["process.peak_rss_mb"] = vm_hwm_mb() + vm_hwm_mb(jvm.pid)
        out.layers["spark.jvm_heap_peak_mb"] = jvm_heap_peak_mb(spark)
    except Exception:
        traceback.print_exc()
        stop_spark(spark)
        return 1
    finally:
        if tracer:
            tracer.unwrap_all()
    stop_spark(spark)
    out.setup_s += jvm_s
    e2e = {"setup_s": out.setup_s, "latency_s": out.latency_s,
           "throughput_per_s": out.throughput_per_s}
    e2e_units, units = metric_units()
    layers = dict.fromkeys(units, 0.0)
    layers.update(out.layers)
    if tracer:
        layers.update(spark_layers(args.workload, out, eventlog))
        tracer.dump(f"{base}/spans-{args.workload}.jsonl")
    unknown = set(layers) - set(units)
    if unknown:
        raise KeyError(f"unregistered per-layer metrics {sorted(unknown)}")
    for why in out.failures:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} jvm_s={jvm_s:.2f} "
          f"info={json.dumps(out.info, default=str)}", file=sys.stderr)
    if args.report:
        with open(args.report, "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "attempted": out.attempted, "failed": out.failed,
                "end_to_end": e2e, "per_layer": layers, "info": out.info,
                "self_ms": tracer.self_ms() if tracer else None,
            }, f, indent=1, default=str)
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({
        "correct": out.failed == 0, "attempted": out.attempted,
        "failed": out.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
