"""Mergeable frequency sketches: count-min over a key column.

The exact token/count tables elsewhere in the pipeline (vocab.py,
text.py) are right when the vocabulary fits a shuffle; at open-web scale
the long tail of near-unique keys makes "count everything exactly" a
corpus-sized shuffle for answers that only need the HEAVY keys.  A
count-min sketch (Cormode & Muthukrishnan 2005) bounds the state at
``depth x width`` counters with a one-sided error guarantee
(overestimate only, within eps = e/width of the stream mass whp), and —
the property that matters on a cluster — sketches MERGE by element-wise
addition: per-partition sketches, per-day sketches, and per-source
sketches all combine into exact sums of themselves, the same
merge-anywhere discipline as the histogram rollups
(operators/rollup.py).

Determinism: the hash family is the repo's portable md5-prefix bigint
(dedup.md5_long) salted with the row index, so Spark and the DuckDB
oracle derive IDENTICAL bucket assignments and therefore identical
estimates — the sketch is engine-exact even though it is approximate
with respect to the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scratch import scratch_persist
from .dedup import md5_long


def _bucket(col: F.Column, row: int, width: int) -> F.Column:
    return (md5_long(F.concat(F.lit(f"{row}:"), col)) % int(width)).cast(
        "int"
    )


def cms_build(
    items: DataFrame,
    col: str = "tok",
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a count-min sketch over ``items[col]`` (one input row = one
    occurrence, or ``weight_col`` occurrences when given — pre-counted
    keys hash once per DISTINCT key instead of once per occurrence).
    Output: (row int, bucket int, cnt long) — at most ``depth * width``
    rows regardless of input size.

    One pass, one shuffle: each input row explodes into its ``depth``
    (row, bucket) cells map-side, and the groupBy sum combines
    partially before the exchange — the shuffle carries at most
    ``depth * width`` distinct keys' partial sums per partition, never
    the raw occurrences.
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _bucket(F.col(col), r, width).alias("bucket"),
            )
            for r in range(int(depth))
        ]
    )
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        items.select(w.cast("long").alias("_w"), F.explode(cells).alias("_c"))
        .groupBy(
            F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket")
        )
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with identical (depth, width): element-wise
    addition — the result is exactly the sketch of the concatenated
    inputs (the property pinned by test_cms_merge_equals_whole)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str = "tok",
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point-estimate each probe key's frequency: min over the sketch's
    ``depth`` cells for that key (never an underestimate; overestimates
    only on hash collisions).  The sketch side is bounded at
    ``depth * width`` rows, so the join broadcasts; probes are never
    shuffled beyond their own distinct().

    Output: (``col``, ``cms_cnt``) — ONE row per distinct probe key;
    other probe columns are NOT carried through (callers needing them
    join the estimate back on the key, as cms_heavy_hitters does).
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _bucket(F.col(col), r, width).alias("bucket"),
            )
            for r in range(int(depth))
        ]
    )
    probed = probes.select(col).distinct().select(
        col, F.explode(cells).alias("_c")
    )
    return (
        probed.join(
            F.broadcast(sketch),
            (F.col("_c.row") == F.col("row"))
            & (F.col("_c.bucket") == F.col("bucket")),
            "left",
        )
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_cnt"))
    )


def cms_heavy_hitters(
    docs: DataFrame,
    topk: int = 25,
    depth: int = 4,
    width: int = 2048,
    text_col: str = "text",
) -> DataFrame:
    """The sketch exercised end-to-end on the document corpus: exact
    top-``topk`` tokens by occurrence count, each with its count-min
    estimate alongside — the pair a capacity audit reads to pick
    ``width`` (estimate inflation = collision pressure).  ``cms_cnt >=
    exact_cnt`` always (one-sided error), with equality whenever none of
    the token's ``depth`` cells collides with another token.

    Output: (tok, exact_cnt, cms_cnt), heaviest first, tok tie-break.

    Shape (r15): the corpus token stream reduces to the vocabulary-sized
    (tok, exact_cnt) table FIRST — one map-side-combinable groupBy, the
    same shuffle the exact top-k already required — and BOTH consumers
    derive from it: the sketch hashes each DISTINCT token once with its
    count as the cell weight (identical integer cell sums, since addition
    is associative), and the top-k is a TakeOrdered over the counts.  The
    earlier form exploded ``depth`` md5 cells per token OCCURRENCE and
    persisted the raw occurrence stream — per-corpus hash work and an
    occurrence-sized cache entry for results a vocabulary-sized pass
    determines (guide §1.2: don't compute per-row what a pre-aggregation
    makes per-key; §5: don't cache the big thing when the small thing
    serves).
    """
    from .text import tokens_expr

    toks = docs.select(F.explode(tokens_expr(text_col)).alias("tok"))
    counts = scratch_persist(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    sketch = cms_build(counts, "tok", depth, width, weight_col="exact_cnt")
    exact = counts.orderBy(F.col("exact_cnt").desc(), F.col("tok")).limit(
        int(topk)
    )
    est = cms_estimate(sketch, exact, "tok", depth, width)
    return (
        exact.join(F.broadcast(est), "tok")
        .select("tok", "exact_cnt", "cms_cnt")
        .orderBy(F.col("exact_cnt").desc(), F.col("tok"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketches
# ---------------------------------------------------------------------------

#: md5_long yields 60-bit hashes; p index bits leave L = 60 - p rank bits
HLL_HASH_BITS = 60


def _hll_alpha_numerator(p: int) -> float:
    """The constant part of the HLL estimator, alpha_m * m^2 * 2^(L+1),
    computed once driver-side and inlined as a literal in BOTH engines so
    the only runtime float ops are one division and one comparison —
    bitwise identical between Spark and the DuckDB oracle."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(2 ** (HLL_HASH_BITS - p + 1))


def hll_build(
    items: DataFrame,
    col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    p: int = 10,
) -> DataFrame:
    """Build per-group HLL register tables (Flajolet et al. 2007) over
    ``items[col]``: 2^p registers, each holding the max leading-zero rank
    seen in its hash bucket.

    Output: (*group_cols, register int, max_rho int) — at most
    ``2^p`` rows per group regardless of input size, and MERGEABLE by
    element-wise max (:func:`hll_merge`), the same merge-anywhere
    discipline as the count-min and histogram sketches.

    One shuffle with map-side partial max; the shuffle carries at most
    ``groups * 2^p`` keys' partials per partition, never the raw rows.

    Determinism: the hash is the portable md5-prefix bigint, the rank is
    derived from the minimal-width binary string (``bin`` exists with
    identical semantics in Spark and DuckDB), so both engines build
    byte-identical registers.
    """
    m = 1 << int(p)
    rank_bits = HLL_HASH_BITS - int(p)
    h = md5_long(F.col(col).cast("string"))
    w = F.shiftright(h, int(p))
    rho = F.when(w == 0, F.lit(rank_bits + 1)).otherwise(
        F.lit(rank_bits) - F.length(F.bin(w)) + 1
    )
    return (
        items.select(
            *group_cols,
            (h % m).cast("int").alias("register"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge register tables built with identical p: element-wise max —
    the result is exactly the sketch of the concatenated inputs."""
    out = sketches[0]
    group_cols = [c for c in out.columns if c not in ("register", "max_rho")]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*group_cols, "register").agg(
        F.max("max_rho").alias("max_rho")
    )


def hll_estimate(
    sketch: DataFrame,
    group_cols: list[str] | tuple[str, ...] = (),
    p: int = 10,
) -> DataFrame:
    """Distinct-count estimates from register tables.

    The harmonic-mean denominator is accumulated as an EXACT bigint
    (sum of ``1 << (L + 1 - max_rho)`` plus ``2^(L+1)`` per empty
    register — max exponent L, so the sum stays far below 2^63), which
    makes the estimate independent of summation order and therefore
    identical on Spark and DuckDB; the small-range linear-counting
    correction (E <= 2.5m with empty registers) applies per the original
    paper.

    Output: (*group_cols, n_registers_used long, hll_ndv double).
    """
    m = 1 << int(p)
    rank_bits = HLL_HASH_BITS - int(p)
    numerator = _hll_alpha_numerator(int(p))
    zmax = 2 ** (rank_bits + 1)
    grouped = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers_used"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({rank_bits + 1} - max_rho AS INT))"
            )
        ).alias("_z_used"),
    )
    v = F.lit(m) - F.col("n_registers_used")
    e_raw = F.lit(numerator) / (
        F.col("_z_used") + v * F.lit(int(zmax)).cast("long")
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return grouped.select(
        *group_cols,
        "n_registers_used",
        F.round(est, 2).alias("hll_ndv"),
    )
