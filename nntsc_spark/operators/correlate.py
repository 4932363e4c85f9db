"""Correlation analytics over binned series: per-stream autocorrelation
and the cross-stream correlation matrix.

The reference's consumers do exactly this downstream of the export
protocol — the eventing sibling groups simultaneous events across
streams, and the matrix view (reference: libnntsc's matrix queries feed
amp-web's mesh view) exists to answer "which paths degrade together".
Pushing the correlation itself into the engine replaces a per-client
fetch-everything loop with two shuffles.

Both operators consume an already-binned regular grid (compose with
operators/aggregate.py binning or :func:`gapfill`), so their cost is in
bins x streams — the CONSOLIDATED volume, not raw samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window  # noqa: F401 (lag windows)
from pyspark.sql import functions as F

from ..scratch import scratch_persist


def _corr4(a: str, b: str) -> F.Column:
    """round-4 Pearson sample correlation, NULL on zero variance.

    Spelled covar_samp / (stddev_samp * stddev_samp) behind an explicit
    variance guard rather than ``F.corr``: under ANSI mode (this repo's
    operating default) corr's internal division throws DIVIDE_BY_ZERO on
    a constant series, where every SQL oracle returns NULL.
    """
    both = F.col(a).isNotNull() & F.col(b).isNotNull()
    # PAIRWISE deletion throughout (what corr() does in every engine):
    # the stddevs must run over the joint non-null pairs, not each
    # column's own non-null rows — covar_samp already pairwise-deletes,
    # and mixing the two denominators skews the ratio (caught by the
    # acf_stream oracle: -0.0842 vs the true -0.0827)
    sda = F.stddev_samp(F.when(both, F.col(a)))
    sdb = F.stddev_samp(F.when(both, F.col(b)))
    return F.when(
        (sda > 0) & (sdb > 0),
        F.round(F.covar_samp(a, b) / (sda * sdb), 4),
    )


def autocorrelation(
    binned: DataFrame,
    lags: list[int],
    key: str = "stream_id",
    bin_col: str = "binstart",
    value_col: str = "value",
    min_pairs: int = 8,
) -> DataFrame:
    """Per-stream autocorrelation at the given ROW lags (the series is
    assumed regular — each lag k pairs a bin with the k-th previous bin).

    One ordered window per key materializes every ``lag(value, k)``
    column in a SINGLE exchange (all lags share the window spec), then
    one map-side-combinable aggregate computes the Pearson correlation
    per (key, lag) — no self-joins.  Streams with fewer than
    ``min_pairs`` overlapping pairs at a lag emit NULL (a correlation
    over 2-3 points is noise dressed as signal).

    Output: (key, lag, n_pairs, acf) — acf round-4 pinned (group sums
    are the one order-dependent float in the plan).
    """
    w = Window.partitionBy(key).orderBy(bin_col)
    lagged = binned.select(
        key,
        F.col(value_col).alias("_v"),
        *[
            F.lag(value_col, int(k)).over(w).alias(f"_l{k}")
            for k in lags
        ],
    )
    # ALL lags aggregate in ONE pass (a per-lag union would re-run the
    # scan + window once per lag — the plan audit caught [3,3,3] scans),
    # then unpivot the single row-per-key via an exploded struct array
    aggs = []
    for k in lags:
        aggs.append(F.count(f"_l{k}").cast("long").alias(f"_np{k}"))
        aggs.append(_corr4("_v", f"_l{k}").alias(f"_acf{k}"))
    wide = lagged.groupBy(key).agg(*aggs)
    out = wide.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(k)).alias("lag"),
                        F.col(f"_np{k}").alias("n_pairs"),
                        F.col(f"_acf{k}").alias("acf"),
                    )
                    for k in lags
                ]
            )
        ).alias("_s"),
    ).select(key, "_s.lag", "_s.n_pairs", "_s.acf")
    return out.withColumn(
        "acf",
        F.when(F.col("n_pairs") >= int(min_pairs), F.col("acf")),
    )


def stream_correlation(
    binned: DataFrame,
    key: str = "stream_id",
    bin_col: str = "binstart",
    value_col: str = "value",
    min_overlap: int = 8,
    top_n: int | None = None,
) -> DataFrame:
    """Pairwise Pearson correlation between streams over their shared
    bins — the mesh/matrix question ("which streams move together").

    Shape: one self equi-join on the BIN column (both sides shuffle on
    the time axis, never a cartesian; ``s1 < s2`` keeps each unordered
    pair once), then one map-side-combinable aggregate per pair.  The
    honest cost is pairs-per-bin: streams-squared in the consolidated
    grid, NOT in raw samples — at cluster scale feed a label-filtered /
    activity-pruned stream subset (operators/activity.py), exactly how
    the reference's matrix view scopes to a mesh.  Pairs with fewer
    than ``min_overlap`` shared bins are dropped (their correlation is
    noise); ``top_n`` keeps the strongest |corr| pairs via orderBy+limit
    — Catalyst plans TakeOrderedAndProject (per-partition heaps merged
    on the driver), never a global sort.

    Output: (stream_a, stream_b, n_bins, corr) — corr round-4 pinned.
    """
    # The self-join consumes `binned` TWICE; without a persist each side
    # re-evaluates the whole upstream lineage (measured: two full scans +
    # two identical bin aggregations of the fact table in the physical
    # plan — ReuseExchange cannot collapse them because the build side is
    # a BroadcastExchange, not a matching shuffle).  The binned grid is
    # the CONSOLIDATED volume (streams x bins, orders of magnitude below
    # raw samples), so materializing it once is exactly the
    # decide-on-small-rows shape the optimization guide §8 prescribes;
    # scratch_persist keeps it LRU-bounded (guide §5: persist only reused
    # intermediates, with an unpersist story).
    binned = scratch_persist(
        binned.select(F.col(key), F.col(bin_col), F.col(value_col))
    )
    a = binned.select(
        F.col(key).alias("stream_a"),
        F.col(bin_col).alias("_b"),
        F.col(value_col).alias("_va"),
    )
    b = binned.select(
        F.col(key).alias("stream_b"),
        F.col(bin_col).alias("_b"),
        F.col(value_col).alias("_vb"),
    )
    pairs = (
        a.join(b, "_b")
        .where(F.col("stream_a") < F.col("stream_b"))
        .groupBy("stream_a", "stream_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            _corr4("_va", "_vb").alias("corr"),
        )
        .where(
            (F.col("n_bins") >= int(min_overlap))
            & F.col("corr").isNotNull()
        )
    )
    if top_n is not None:
        pairs = pairs.orderBy(
            F.desc(F.abs(F.col("corr"))),
            F.asc("stream_a"),
            F.asc("stream_b"),
        ).limit(int(top_n))
    return pairs
