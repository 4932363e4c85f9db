"""Gap-based sessionization + skew-resistant two-phase aggregation.

Neither exists in the reference (its "windows" are fixed time bins), but
both are core large-scale time-series/training-pipeline operations and fit
the same engine surface:

- ``sessionize``: classic gap-based sessions per stream — a lag window
  marks session starts (gap > timeout), a running sum assigns session ids.
  Distributed shape: one window partitioned by stream (per-stream sort,
  no global sort), then plain aggregation.

- ``salted_agg``: two-phase aggregation for skewed group keys.  Phase 1
  groups on (key, salt) — the hot key's rows spread over ``salts``
  reducers; phase 2 merges the partials algebraically (same trick as the
  rollup matrix merge, operators/rollup.py).  AQE's skew-join handling
  covers joins; this covers skewed *aggregations*, which AQE does not
  rebalance.  sum/count/max/min merge trivially; avg = merged sum/count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..scratch import scratch_persist


def sessionize(
    fact: DataFrame,
    timeout: int,
    key: str = "stream_id",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Assign session ids per key: a new session starts when the gap from
    the previous row exceeds ``timeout`` seconds.

    Output: fact columns + ``session_id`` (per-key dense counter starting
    at 1 in timestamp order, ties broken deterministically by full order).
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    is_new = F.when(gap.isNull() | (gap > timeout), 1).otherwise(0)
    return fact.withColumn("_new", is_new).withColumn(
        "session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("_new")


def session_stats(
    fact: DataFrame,
    timeout: int,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Per-session summary: bounds, event count, value sum."""
    s = sessionize(fact, timeout, key, ts_col)
    return s.groupBy(key, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("value_sum"),
    )


def row_salt(df: DataFrame, salts: int) -> Column:
    """Deterministic salt in [0, salts): xxhash64 of the full row.

    Value-independent: rows of a hot key spread across salts even when
    every aggregated value is identical (only fully duplicate rows share a
    salt).  No random source, so streaming recovery replays identically.
    """
    return (F.abs(F.xxhash64(*[F.col(c) for c in df.columns])) % salts).cast(
        "int"
    )


def salted_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    salts: int = 16,
) -> DataFrame:
    """Skew-resistant sum/count/min/max/avg over ``group_cols``.

    Equivalent to ``df.groupBy(group_cols).agg(...)`` but the first shuffle
    key is (group_cols..., salt) so a pathological hot key fans out over
    ``salts`` partial reducers; the second (tiny) aggregation merges
    partials.  The salt hashes the FULL row (as salted_join does), not the
    value column: a hot key whose rows all share one value would otherwise
    collapse onto a single salt — the exact skew this exists to break.
    Still deterministic (no random source — replayable in streaming
    recovery).
    """
    salt = row_salt(df, salts).alias("_salt")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*group_cols, "_salt")
        .agg(
            F.sum(value_col).alias("_sum"),
            F.count(value_col).alias("_cnt"),
            F.min(value_col).alias("_min"),
            F.max(value_col).alias("_max"),
        )
    )
    return partial.groupBy(*group_cols).agg(
        F.sum("_sum").alias(f"{value_col}_sum"),
        F.sum("_cnt").alias(f"{value_col}_count"),
        F.min("_min").alias(f"{value_col}_min"),
        F.max("_max").alias(f"{value_col}_max"),
        (F.sum("_sum") / F.sum("_cnt")).alias(f"{value_col}_avg"),
    )


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    key: str,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: big side salted, dim side replicated.

    For a dim too large to broadcast joined against a fact with a
    pathological hot key, a plain sort-merge join lands the hot key's rows
    on one reducer.  Salting the big side over ``salts`` sub-keys and
    exploding the dim ``salts``-fold bounds any reducer at 1/salts of the
    hot key.  Semantics-preserving for inner/left joins (each big row
    carries exactly one salt; dim rows match every salt).  AQE's skew-join
    split handles moderate skew at runtime; this is the explicit tool for
    known-degenerate keys.  The salt hashes the whole row, so it is
    deterministic (no random source — replayable in streaming recovery).
    """
    dim_exp = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    return (
        big.withColumn("_salt", row_salt(big, salts))
        .join(dim_exp, [key, "_salt"], how)
        .drop("_salt")
    )


def funnel_counts(
    fact: DataFrame,
    steps: list[str],
    window: int | None = None,
    key: str = "stream_id",
    ts_col: str = "timestamp",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel conversion: how many users complete each prefix of
    ``steps`` in order — the product-analytics staple (view -> click ->
    purchase) the reference's fixed query surface never grew but an
    events table immediately invites.

    Semantics: a user completes step 1 at their EARLIEST step-1 event;
    step k at the earliest step-k event STRICTLY AFTER their step-(k-1)
    completion; with ``window``, every completion must also fall within
    ``window`` seconds of the step-1 time (the classic "converted within
    N minutes" constraint).  Earliest-completion semantics makes the
    funnel monotone (n_users never increases with step) and
    deterministic.

    Distributed shape: ONE filter + per-key min-aggregate per step, each
    map-side combinable and keyed on the user — no per-user event-list
    collection, no window sort over the whole fact; k steps = k small
    hash aggregates joined key-to-key, and the k per-step counts are
    single-row aggregates unioned into a k-row result.  Each step's
    per-user completion table is persisted (bounded by the scratch pool)
    before it feeds BOTH its own count and the next step's join — step
    k's chain embeds steps 1..k-1, so without the persist the k unioned
    counts would recompute the filtered scans O(k^2) times in one action
    (r7 advice finding).  At 100 TB the dominant cost is then genuinely
    the k filtered scans, each of which prunes on the type predicate.

    Output: (step, step_name, n_users), one row per step, in step order.
    """
    outs = []
    cur = None  # (key, _t = step-k completion ts, _t1 = step-1 ts)
    for i, s in enumerate(steps):
        ev = fact.where(F.col(type_col) == s).select(key, ts_col)
        if cur is None:
            cur = (
                ev.groupBy(key)
                .agg(F.min(ts_col).alias("_t"))
                .withColumn("_t1", F.col("_t"))
            )
        else:
            j = ev.join(cur.select(key, "_t", "_t1"), key).where(
                F.col(ts_col) > F.col("_t")
            )
            if window is not None:
                j = j.where(F.col(ts_col) <= F.col("_t1") + int(window))
            cur = (
                j.groupBy(key, "_t1")
                .agg(F.min(ts_col).alias("_t"))
                .select(key, "_t", "_t1")
            )
        cur = scratch_persist(cur)
        outs.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(i + 1).alias("step"),
                F.lit(s).alias("step_name"),
                "n_users",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def cohort_retention(
    fact: DataFrame,
    cohort_type: str = "signup",
    key: str = "stream_id",
    ts_col: str = "timestamp",
    type_col: str = "event_type",
    max_offset_days: int | None = None,
) -> DataFrame:
    """Cohort retention: for each signup-day cohort, how many users are
    active again k days later — the third leg of the events-analytics
    trio (sessionize, funnel, retention).

    A user's cohort day is the UTC day of their EARLIEST ``cohort_type``
    event; activity is any event on any later-or-equal day.  Distributed
    shape: one per-user min-aggregate (the cohort table), one distinct
    over (user, day) — both map-side combinable and keyed on the user —
    then an equi-join and a (cohort_day, day_offset) count.  Output is
    bounded by days x offsets regardless of corpus size; no windows, no
    sorts.

    Output: (cohort_day, day_offset, n_active) with day_offset 0 =
    signup-day activity (n_active at offset 0 == cohort size, since the
    signup event itself is activity).
    """
    # exact integer FLOOR division on any epoch (Spark DIV truncates
    # toward zero, so bare DIV would bucket pre-1970 timestamps one day
    # late vs DuckDB's flooring //; the remainder adjustment restores
    # floor semantics without a double round-trip)
    day = F.expr(
        f"({ts_col} DIV 86400) - (CASE WHEN {ts_col} % 86400 < 0"
        " THEN 1 ELSE 0 END)"
    )
    cohorts = (
        fact.where(F.col(type_col) == cohort_type)
        .groupBy(key)
        .agg(F.min(day).alias("_cday"))
    )
    active = fact.select(key, day.alias("_aday")).dropDuplicates()
    joined = active.join(cohorts, key).where(F.col("_aday") >= F.col("_cday"))
    if max_offset_days is not None:
        joined = joined.where(
            F.col("_aday") - F.col("_cday") <= int(max_offset_days)
        )
    return joined.groupBy(
        F.col("_cday").alias("cohort_day"),
        (F.col("_aday") - F.col("_cday")).alias("day_offset"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))
