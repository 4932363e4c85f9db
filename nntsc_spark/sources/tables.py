"""Table loaders over the driver-generated parquet testdata.

The reference reassembles per-stream physical tables with UNION ALL
(reference: libnntsc/dbselect.py:633-647) — here a single columnar scan with
predicate pushdown replaces that layout entirely (SURVEY.md §2.1 S3): one
date-partitioned fact table; ``stream_id IN (...)`` + parquet min-max stats
prune at the row-group level, and at cluster scale date partitions prune at
the directory level.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import plan_memo

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's parquet scan, read once per session: repeated loads
    would otherwise re-read parquet footers and re-infer the schema on
    every query.  Only the *logical plan* is memoized, never data."""
    return plan_memo(("load", sf_dir, name), lambda: _read(spark, sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    try:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    except Exception as exc:  # pragma: no cover - legacy nanos layout
        # Older testdata stored events.ts as TIMESTAMP(NANOS), which
        # Spark rejects unless surfaced as raw longs.  Retry with the
        # legacy conf only when the read actually failed on it, so the
        # conf never leaks into sessions reading micros data.
        if "nanos" not in str(exc).lower():
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: Wall-clock zero for TIMESTAMP_NTZ arithmetic; NTZ-vs-NTZ diffs are pure
#: field arithmetic, so the derived epoch is independent of the session tz.
_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _ts_unit(df: DataFrame) -> int:
    """Per-second multiplier for an integer ``ts`` column, by magnitude.

    A long ts has historically meant nanoseconds here, but the unit is a
    driver/testdata choice that has already changed once — so probe ONE row
    (limit(1), memoized per session) instead of assuming.  Epochs in this
    century: seconds ~2e9, millis ~2e12, micros ~2e15, nanos ~2e18 — three
    orders of magnitude apart, so the magnitude test cannot misclassify any
    plausible data.  An empty table defaults to nanos (nothing to scan
    either way).
    """
    row = df.select("ts").where(F.col("ts").isNotNull()).limit(1).collect()
    v = abs(row[0]["ts"]) if row else 10**18
    for unit in (1, 10**3, 10**6, 10**9):
        if v < unit * 100_000_000_000:  # < year ~5138 in this unit
            break
    return unit


def events_fact(
    spark: SparkSession,
    sf_dir: str,
    start: int | None = None,
    stop: int | None = None,
) -> DataFrame:
    """Map the synthetic ``events`` table onto the engine's fact-table shape.

    ``user_id`` plays the role of ``stream_id``; ``ts`` becomes integer epoch
    seconds — the reference stores integer epoch seconds everywhere
    (libnntsc/database.py:872).  Integer arithmetic keeps the bin math inside
    whole-stage codegen.

    The physical type of ``ts`` is environment-dependent (parquet
    ``timestamp[us]`` read as TIMESTAMP/TIMESTAMP_NTZ today; historical
    layouts stored TIMESTAMP(NANOS) read as long), so the loader adapts to
    whatever the scan reports rather than assuming one layout.

    ``start``/``stop`` (inclusive epoch seconds) are applied to the RAW
    ``ts`` column as literals of its own type: a predicate on the derived
    ``timestamp`` column is an expression and never reaches the parquet
    scan, whereas a comparison against a foldable literal is constant-folded
    by Catalyst and pushes down to row-group pruning — the difference
    between scanning a day and scanning 100 TB.  Epoch derivation and the
    literals are timezone-independent in every branch (NTZ field arithmetic
    / instant-based unix_seconds / integer division), so results don't
    depend on the caller's ``spark.sql.session.timeZone``.
    """
    df = load_table(spark, sf_dir, "events")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":  # integer layout (nanos historically; probed)
        unit = plan_memo(("ts_unit", sf_dir), lambda: _ts_unit(df))
        if start is not None:
            df = df.where(F.col("ts") >= int(start) * unit)
        if stop is not None:
            df = df.where(F.col("ts") < (int(stop) + 1) * unit)
        epoch = F.expr(f"ts DIV {unit}")
    elif ts_type == "timestamp_ntz":
        if start is not None:
            df = df.where(
                F.col("ts") >= F.expr(f"timestampadd(SECOND, {int(start)}, {_NTZ_EPOCH})")
            )
        if stop is not None:
            df = df.where(
                F.col("ts") < F.expr(f"timestampadd(SECOND, {int(stop) + 1}, {_NTZ_EPOCH})")
            )
        # floor-to-second for non-negative epochs: timestampdiff truncates
        epoch = F.expr(f"timestampdiff(SECOND, {_NTZ_EPOCH}, ts)")
    elif ts_type == "timestamp":
        if start is not None:
            df = df.where(F.col("ts") >= F.timestamp_seconds(F.lit(int(start))))
        if stop is not None:
            df = df.where(F.col("ts") < F.timestamp_seconds(F.lit(int(stop) + 1)))
        epoch = F.unix_seconds(F.col("ts"))
    else:  # pragma: no cover - unknown future layout
        raise TypeError(f"unsupported events.ts type: {ts_type}")
    return df.select(
        F.col("user_id").alias("stream_id"),
        epoch.alias("timestamp"),
        "event_type",
        "value",
        "event_id",
    )


#: DuckDB-side equivalent of :func:`events_fact` for oracle SQL assembly.
EVENTS_FACT_SQL = (
    "SELECT user_id AS stream_id, epoch_us(ts) // 1000000 AS timestamp, "
    "event_type, value, event_id FROM events"
)
