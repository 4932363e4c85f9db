"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized to the driver via Arrow (`toPandas`) so the
measured time includes the whole plan AND full result delivery, not just the
scan.  Arrow batches are the engine's sanctioned transfer path everywhere
else (pandas UDFs, mapInPandas); row-at-a-time ``collect()`` was measured
2-3x slower than the queries themselves on wide ~100k-row results, i.e. it
benchmarks py4j deserialization, not the engine.  A warmup absorbs one-time
session startup — JVM/codegen (flagship query) and the Python/Arrow worker
pool (a 1-row mapInPandas no-op) — so per-query numbers reflect steady-state
throughput; in production both are long-lived.

Each query runs $SPARK_GRAFT_BENCH_REPS times (default 3) and reports the
MINIMUM: the first execution pays one-time per-query analysis + codegen
(amortized to zero on a long-lived cluster), and min-of-N also suppresses
noisy-neighbor variance on shared hardware (observed single-run jitter here
is up to 4x on identical plans).  The full tier bounds its wall clock with
a PER-QUERY time budget (deadline / n_queries) rather than a global
elapsed-time cutoff: a global cutoff made a query's rep count depend on its
REGISTRY POSITION, so the r14 window rotation silently demoted a different
set of mid-registry queries to cold single reps and their first-execution
noise read as phantom 2x regressions (r14 verdict).  Under the per-query
budget the rep count is a function of the query's own cost alone —
rotation-invariant — and each query's actual rep count is recorded in the
artifact ("reps_used") so no reader has to guess.  The committed default
deadline is 1200 s (the r13 value; r14 accidentally ran 540, which is how
the policy drift was discovered).

Two tiers:

- **full** (default): the whole registry, deadline-tiered reps, writes
  BENCH_FULL.json.  Before it starts it spawns ``--headline`` in a FRESH
  subprocess (skip with SPARK_GRAFT_SKIP_HEADLINE=1).  Since r16 the full
  tier resets the session-scoped scratch pool and seam memo BETWEEN
  queries (r15 verdict task 1): the shared caches made rep-1 walls depend
  on registry position — a late query's first rep either rode an earlier
  query's cache or paid its eviction — so cold walls were unattributable.
  Within a query the caches still apply (that reuse is engine behavior
  under test); "queries" stays min-of-reps, and the artifact additionally
  records per-query ``cold_sec`` (rep 1) and ``warm_sec`` (min of later
  reps) so both axes are readable.  The headline tier's policy is pinned
  and unchanged.  Both artifacts now carry
  ``provenance.stability_band`` (sum of per-query rep minima vs maxima of
  THE SAME run); the committed artifact is always the single run it
  reports — min-over-RUNS, used once in r15 and flagged by its verdict,
  is retired.
- **--headline**: the fixed HEADLINE_QUERIES list only, full min-of-3 with
  NO deadline tiering, writes BENCH_HEADLINE.json.  This is the
  round-over-round comparison tier: the full registry's numbers drift with
  registry growth (133 queries sharing one JVM + scratch pool — three
  rounds of unattributable 1.1-1.6x tail drift on bit-identical pinned
  plans, r10-r12), so deltas are only attributable when the list, the rep
  policy, and the JVM state are all pinned.  Both artifacts carry
  provenance fields (sf, registry size, rep policy, deadline, driver mem)
  so a reader can tell two runs were comparable before comparing them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nntsc_spark.scratch import reset_scratch
from nntsc_spark.plans import queries as _q
from nntsc_spark.session import get_spark

#: the fixed round-over-round comparison list: the plan-audit heavyweights
#: (everything the r12 verdict's expensive-five covered), the ten rows that
#: drifted unattributably r11->r12, and a spread of core operator families
#: (select/agg/window/ingest/dedup/ANN/text).  FIXED BY CONTRACT — append
#: only; reordering or removing entries breaks round-over-round comparison.
HEADLINE_QUERIES = [
    "select_raw",
    "agg_bin",
    "smoke",
    "ingest_sip",
    "holt_winters",
    "rollup_percentile",
    "ngram_diversity",
    "stream_corr",
    "availability_bounded",
    "gap_report_summary_bounded",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "contamination",
    "contamination_suite",
    "vocab_fuzzy",
    "fuzzy_linkage",
    "semantic_dedup",
    "embedding_neardup",
    "embedding_clusters",
    "embedding_curation",
    "training_corpus_curated",
    "bm25_search",
    "cms_topk",
]


def _provenance(sf: str, tier: str, n_queries: int, registry_size: int,
                reps: int, budget: float) -> dict:
    """Stamp enough run context that two artifacts can be judged
    comparable before their numbers are compared (the r10-r12 drift
    lesson: numbers without provenance invited apples-to-oranges reads)."""
    prov = {
        "tier": tier,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": n_queries,
        "registry_size": registry_size,
        "reps": reps,
        "deadline_sec": budget,
        # full tier: reps bounded per query (deadline/n_queries), never by
        # global elapsed time — rep counts are registry-order-invariant
        # v2 (r16): scratch/seam caches reset between queries, minimum two
        # reps per query (one cold + one warm), cold_sec/warm_sec recorded
        "rep_policy": (
            "per-query-budget-v2" if tier == "full" else "fixed-min-of-N"
        ),
        "deadline_tiering": False,  # the r10-r14 global-elapsed policy
        "driver_mem": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }
    try:
        prov["git_rev"] = (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=os.path.dirname(os.path.abspath(__file__)),
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:
        prov["git_rev"] = None
    return prov


def _may_write_full(sf: str, force: bool) -> bool:
    """BENCH_FULL.json is the committed sf0.1 round artifact; a run at any
    other SF (e.g. an sf0.01 iteration loop) must not silently replace it.
    ``--force`` overrides for deliberate re-baselining."""
    return force or sf == "0.1"


def _write_artifact(filename: str, out: dict) -> None:
    try:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), filename
        )
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:  # a read-only checkout must not fail the bench
        print(f"bench: {filename} not written: {exc}", file=sys.stderr)


def run_tier(headline: bool, force: bool) -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("sparktsc-bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = _q.queries()
    if headline:
        missing = [n for n in HEADLINE_QUERIES if n not in registry]
        if missing:  # a renamed registry entry must fail loudly, not shrink
            raise SystemExit(f"bench --headline: unknown queries {missing}")
        names = list(HEADLINE_QUERIES)
    else:
        names = list(registry)

    # warmup: JVM + codegen + parquet footer caches
    registry["agg_bin"](spark, sf_dir).collect()
    # warmup: footer/file-listing caches of EVERY base table, not just the
    # events fact agg_bin touches.  Without this the first registry query
    # over each remaining table absorbed that table's first-scan setup
    # into its own cold_sec (r16: cms_topk, first documents consumer,
    # recorded 5.4 s cold in the bench vs 1.0 s cold isolated).  A
    # zero-column count reads row-group headers only — no query result is
    # computed or retained.
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            try:
                spark.read.parquet(os.path.join(sf_dir, fname)).count()
            except Exception:
                pass  # a malformed side file must not kill the bench
    # warmup: Python/Arrow worker pool (paid once per executor in prod)
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "1200"))
    t_start = time.time()
    # FULL tier: each query gets budget/n_queries seconds and runs reps
    # until its NEXT rep (estimated at its own best-so-far) would exceed
    # that slice — so a query's rep count depends only on its own cost,
    # never on where the registry rotation happened to place it (the r14
    # artifact mixed warm min-of-3 and cold single reps purely by
    # position, overstating mid-registry rows up to 2x).  Every query
    # always gets at least one rep.  A 2x-budget global deadline remains
    # as a pathological-host backstop; hitting it is flagged in
    # provenance because it breaks position-invariance.
    # The headline tier NEVER tiers: its whole point is a pinned rep
    # policy, so it runs full min-of-N or reports that it could not.
    per_query = budget / max(1, len(names))
    hard_deadline = t_start + 2 * budget
    deadline_hit = False

    timings: dict[str, float] = {}
    reps_used: dict[str, int] = {}
    cold_sec: dict[str, float] = {}
    warm_sec: dict[str, float] = {}
    worst_total = 0.0
    errors: dict[str, str] = {}
    for name in names:
        fn = registry[name]
        if not headline:
            # FULL tier: drop the session-scoped scratch pool and seam memo
            # between queries (r15 verdict task 1) so every query's rep 1
            # is ITS OWN cold wall — not a hit on a cache an earlier query
            # left behind, and not inflated by evicting one.  Within a
            # query the caches still work (that reuse is the optimization
            # under test); the headline tier keeps its pinned r10+ policy
            # untouched for round-over-round comparability.
            reset_scratch()
        try:
            # fn() runs INSIDE the timer on every rep: for most queries it
            # is pure plan construction, but the iterative operators
            # (dedup_clusters' label propagation, contamination's
            # checkpointed shingling) do real work during construction —
            # excluding it would under-report exactly the most expensive
            # queries.
            best = None
            spent = 0.0
            used = 0
            dts: list[float] = []
            for rep in range(reps):
                t0 = time.time()
                fn(spark, sf_dir).toPandas()
                dt = time.time() - t0
                dts.append(dt)
                spent += dt
                used += 1
                best = dt if best is None else min(best, dt)
                if headline:
                    continue  # pinned policy: always full min-of-N
                if time.time() > hard_deadline:
                    deadline_hit = True
                    break
                # this query's slice is spent — but never stop before one
                # WARM rep has run: with the between-query cache reset,
                # rep 1 is a construction-inclusive cold wall, and a
                # cold-only row would make "queries" (min-of-reps) flip
                # between cold and warm semantics depending on the budget,
                # the r14/r15 phantom-regression mechanism.  One warm rep
                # costs far less than the cold rep that already ran; the
                # 2x-budget hard deadline above remains the backstop.
                if used >= 2 and spent + best > per_query:
                    break
            timings[name] = round(best, 3)
            reps_used[name] = used
            # both walls, per query (r15 verdict task 1): rep 1 is the
            # attributable cold cost (full tier: caches reset above), the
            # min of later reps is the warm steady state.  min-of-all
            # ("queries") stays as the committed comparison number.
            cold_sec[name] = round(dts[0], 3)
            if used > 1:
                warm_sec[name] = round(min(dts[1:]), 3)
            worst_total += max(dts)
        except Exception as exc:  # keep benching: one bad query != no bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    tier = "headline" if headline else "full"
    prov = _provenance(sf, tier, len(names), len(registry), reps, budget)
    if not headline:
        prov["per_query_budget_sec"] = round(per_query, 3)
        prov["deadline_hit"] = deadline_hit
    # within-run noise band (r15 verdict task 7): "value" is the sum of
    # per-query rep MINIMA; rep_total_max is the sum of per-query rep
    # MAXIMA of the same run.  The committed artifact is always the single
    # run it reports (min-over-RUNS is no longer applied anywhere); a
    # reader judges a round-over-round delta against this band.
    prov["stability_band"] = {
        "rep_total_min": total,
        "rep_total_max": round(worst_total, 3),
    }
    # Key ORDER is load-bearing (r13 verdict task 8): the driver's
    # captured stdout clips the middle of this (long) line, keeping its
    # head and tail — so the summary fields sit BEFORE the per-query
    # table, and a compact duplicate ("head") sits AFTER it, making the
    # full-registry total and provenance recoverable from either
    # surviving end of a clipped artifact.
    out = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "provenance": prov,
        "queries": timings,
        # per-query rep counts (r14 verdict task 2): a reader can tell a
        # cold single rep from a warm min-of-3 without re-running anything
        "reps_used": reps_used,
        # per-query cold (rep 1) and warm (min of later reps) walls (r15
        # verdict task 1) — additions-only; "queries" above is unchanged
        "cold_sec": cold_sec,
        "warm_sec": warm_sec,
    }
    if errors:
        out["errors"] = errors
    out["head"] = {
        "value": total,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "git_rev": prov.get("git_rev"),
        "sf": out["sf"],
        "tier": tier,
    }

    if headline:
        if _may_write_full(sf, force):
            _write_artifact("BENCH_HEADLINE.json", out)
        else:
            print(
                f"bench: refusing to overwrite BENCH_HEADLINE.json at "
                f"sf={sf} (committed artifact is sf0.1; --force overrides)",
                file=sys.stderr,
            )
    else:
        # the driver stores a truncated tail of the printed line, losing
        # the head rows and blocking round-over-round comparison of exactly
        # the first-registered queries (r10 verdict task #8) — so ALSO
        # persist the complete artifact next to this script ...
        if _may_write_full(sf, force):
            _write_artifact("BENCH_FULL.json", out)
        else:
            # ... but never let an sf0.01 iteration loop silently replace
            # the committed sf0.1 round artifact (r12 verdict task #7)
            print(
                f"bench: refusing to overwrite BENCH_FULL.json at sf={sf} "
                f"(committed artifact is sf0.1; --force overrides)",
                file=sys.stderr,
            )
    return out


def main() -> None:
    headline = "--headline" in sys.argv[1:]
    force = "--force" in sys.argv[1:]
    unknown = [
        a for a in sys.argv[1:] if a not in ("--headline", "--force")
    ]
    if unknown:
        raise SystemExit(f"bench: unknown args {unknown}")

    if not headline and os.environ.get("SPARK_GRAFT_SKIP_HEADLINE") != "1":
        # the attributable tier runs FIRST, in a FRESH subprocess JVM, so
        # its numbers never depend on how much registry ran before it
        args = [sys.executable, os.path.abspath(__file__), "--headline"]
        if force:
            args.append("--force")
        try:
            res = subprocess.run(args, stdout=subprocess.DEVNULL)
            if res.returncode != 0:
                print(
                    f"bench: headline tier exited {res.returncode}",
                    file=sys.stderr,
                )
        except Exception as exc:
            print(f"bench: headline tier failed: {exc}", file=sys.stderr)

    out = run_tier(headline, force)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
