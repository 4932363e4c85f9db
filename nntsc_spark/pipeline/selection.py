"""Data selection via hashed n-gram importance resampling (DSIR).

Implements the DSIR method of Xie et al. 2023 ("Data Selection for
Language Models via Importance Resampling"): score each candidate
document by how much more likely its hashed n-gram features are under a
TARGET distribution (a high-quality corpus you want more of) than under
the SOURCE distribution (the raw pool), then sample documents with
probability proportional to that importance weight.  This is the
selection layer a large-scale training pipeline runs between raw-crawl
dedup and final mixing — the reference NNTSC system has no counterpart;
the operator belongs to this repo's charter extensions.

Distributed shape (all stages bounded, no all-pairs term anywhere):

- features are word n-gram OCCURRENCES hashed into ``buckets`` slots —
  the hashing trick caps the model at a fixed ``buckets``-row table no
  matter the corpus size;
- the two distribution estimates are map-side-combinable groupBy counts
  over (bucket) — a billion occurrences of a stop-bigram partial-
  aggregate inside each task before the shuffle ever sees them;
- per-document scoring joins the (doc, bucket, count) table against the
  <= ``buckets``-row log-ratio table: AQE broadcasts the small side, and
  the build side holds exactly one row per key, so hot buckets cannot
  fan out;
- resampling is the Gumbel-max trick over deterministic md5 "uniforms":
  top-k by (log-weight + Gumbel noise) samples without replacement with
  probability proportional to the importance weight, reproducibly — no
  RNG state, no driver-side pass.

Everything is md5-based and expressible in ANSI-ish SQL, so the DuckDB
oracle verifies both the weights and the resample end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scratch import scratch_persist
from .dedup import md5_long, token_windows

DEFAULT_BUCKETS = 10_000


def ngram_bucket_occurrences(
    docs: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Every n-gram OCCURRENCE (not distinct — DSIR models frequencies)
    hashed into ``buckets`` slots: (doc_id, bucket).

    Reuses :func:`~.dedup.token_windows`' zero-shuffle array-domain
    build; unigrams are just w=1 windows.  The n-gram string is prefixed
    with its own ``n`` before hashing so a unigram and a bigram can never
    alias into the same feature by text equality.
    """
    parts = [
        token_windows(docs, text_col, n).select(
            "doc_id",
            (md5_long(F.concat(F.lit(f"{n}:"), F.col("win"))) % buckets).alias(
                "bucket"
            ),
        )
        for n in ns
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _bucket_counts(occ: DataFrame, name: str) -> DataFrame:
    return occ.groupBy("bucket").agg(F.count(F.lit(1)).alias(name))


def dsir_importance_weights(
    source: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-source-document DSIR log importance weight.

    log w(doc) = sum over the doc's n-gram occurrences of
    ``ln p_target(bucket) - ln p_source(bucket)`` with add-``alpha``
    smoothing over the ``buckets``-slot hashed feature space:

        p(b) = (count(b) + alpha) / (total + alpha * buckets)

    A positive weight means the document looks more like the target
    corpus than like the pool average.

    Output: (doc_id, n_features, log_importance DOUBLE rounded 4).
    ``n_features`` (the occurrence count) is carried so callers can
    length-normalize if they want per-token scores.
    """
    # Persist the AGGREGATED per-(doc, bucket) counts, not the raw
    # occurrence table: every source-side consumer (bucket totals, the
    # corpus total, the scoring probe) is derivable from doc_b by a
    # map-side-combinable aggregate, so the tokenize+explode lineage runs
    # exactly once — straight into doc_b's shuffle — and the cached
    # intermediate is the post-shuffle distinct-pairs table instead of
    # every raw occurrence (r7: caching the raw table cost a cache write
    # + two extra full scans and its footprint was what spilled first at
    # the x100 probe — the 24 s cell; this shape measures ~2x faster
    # cold and ~30% smaller in cache).
    src_occ = ngram_bucket_occurrences(source, text_col, ns, buckets)
    doc_b = scratch_persist(
        src_occ.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    )
    s_total = (
        doc_b.agg(F.sum("cnt")).collect()[0][0] or 0
    )  # fills the cache AND is the total
    tgt_occ = ngram_bucket_occurrences(target, text_col, ns, buckets)
    src_counts = doc_b.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("cnt_s")
    )
    tgt_counts = scratch_persist(_bucket_counts(tgt_occ, "cnt_t"))
    t_total = tgt_counts.agg(F.sum("cnt_t")).collect()[0][0] or 0
    # totals are single-row aggregates; inline them as literals so the
    # ratio table is a pure projection over the joined counts
    denom_s = float(s_total + alpha * buckets)
    denom_t = float(t_total + alpha * buckets)
    # LEFT join from the source counts: only source-side buckets are ever
    # probed (the scorer joins from source docs), so target-only buckets
    # are dead weight — and a full-outer here would force a sort-merge
    # join (Spark can't broadcast full outer) where the left join
    # broadcasts.  Both sides are <= ``buckets`` rows regardless of
    # corpus size — the hashing trick is the bound.
    ratio = (
        src_counts.join(tgt_counts, "bucket", "left")
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("cnt_t"), F.lit(0)) + F.lit(alpha)) / F.lit(denom_t))
                - F.log((F.col("cnt_s") + F.lit(alpha)) / F.lit(denom_s))
            ).alias("log_ratio"),
        )
    )
    scored = doc_b.join(ratio, "bucket").groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_features"),
        F.round(F.sum(F.col("cnt") * F.col("log_ratio")), 4).alias(
            "log_importance"
        ),
    )
    return scored


def dsir_resample(
    source: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
    salt: str = "dsir-gumbel",
) -> DataFrame:
    """Sample ``k`` source documents without replacement with probability
    proportional to exp(log_importance) — the Gumbel-max trick: top-k of
    ``log w + G_i`` with iid Gumbel noise G_i = -ln(-ln(u_i)) reproduces
    importance sampling exactly, and the uniforms are deterministic md5
    draws keyed on (salt, doc_id), so the sample is layout-independent
    and reproducible (same convention as text.deterministic_sample).

    The default salt is deliberately DISTINCT from any salt a caller
    might have used to carve the target split: if the draw reuses the
    split salt, every source doc's hash residue lies in the split's
    rejection region and the "uniform" is striped — the Gumbel noise is
    biased and selection stops being exactly weight-proportional (r6
    advice finding).

    One window-free top-k: priority is a projection, the global top-k is
    an ORDER BY + LIMIT the optimizer executes as per-partition top-k +
    final merge (TakeOrderedAndProject) — no single-reducer full sort.

    Output: (doc_id, log_importance, priority rounded 6), the k selected
    docs, highest priority first; ties break on doc_id for determinism.
    """
    w = dsir_importance_weights(source, target, text_col, ns, buckets, alpha)
    u = (
        md5_long(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
        % 1_000_000
        + F.lit(0.5)
    ) / 1_000_000.0
    gumbel = -F.log(-F.log(u))
    return (
        w.select(
            "doc_id",
            "log_importance",
            F.round(F.col("log_importance") + gumbel, 6).alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(k)
    )
