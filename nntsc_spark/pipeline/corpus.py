"""End-to-end training-corpus preparation — the composition the individual
pipeline operators exist for.

A reference user's "give me a clean training corpus" flow is: hold out the
eval split, keep quality in-language documents, collapse near-duplicate
clusters to their survivors, drop documents that verbatim-leak eval
content, scrub PII.  ``training_corpus`` chains the already-verified
operators (each with its own oracle + tests) into one DataFrame; every
stage stays the scale shape it was built with — the filters are
projections, the dedup/decontamination sides are pairs-derived or
distinct-build-side joins, and the final scrub is one JVM-side regex
projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scratch import scratch_checkpoint, scratch_persist
from .dedup import dedup_clusters, ngram_decontaminate
from .text import (
    PII_PATTERNS,
    deterministic_sample,
    language_id,
    quality_features,
)


def training_corpus(
    docs: DataFrame,
    text_col: str = "text",
    quality_min: float = 0.3,
    lang: str = "en",
    eval_rate: float = 0.1,
    eval_salt: str = "contam",
    ngram_n: int = 5,
    threshold: float = 0.5,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
    emb_nlist: int | None = None,
    emb_threshold: float = 0.95,
    emb_per_cell: int = 15,
    emb_centroids: list[tuple[int, list[float]]] | None = None,
    emb_assign_two_level: bool | None = None,
) -> DataFrame:
    """One-call corpus prep: eval holdout -> quality + language filter ->
    near-dup survivor election -> n-gram decontamination -> PII scrub
    [-> embedding-side curation, when ``embeddings`` is supplied].

    Stage order matters and mirrors production practice:

    - the eval split is held out FIRST (documents sampled out can never
      re-enter via any later stage);
    - near-dup clustering runs over the train side only — eval docs must
      not elect survivors;
    - decontamination flags train docs sharing any word ``ngram_n``-gram
      with the eval split (:func:`ngram_decontaminate` — the verbatim
      channel; LSH-near leaks are the cluster stage's job only within the
      train side, so the verbatim check is the cross-split guard);
    - filters apply as anti-joins against pairs-derived tables (both ≪
      corpus), so the kept set is computed without ever shuffling the
      full corpus by anything but its own keys.

    With ``embeddings`` (an (emb_id_col, emb_vec_col) table keyed by the
    SAME ids as ``docs``), the embedding capstone chains on as the final
    stage — the full pretraining-data composition (text dedup ->
    selection -> embedding curation): :func:`~.similarity.
    curate_embeddings` (SemDeDup + per-cell diversity cap) runs over the
    vectors of the TEXT-side survivors only, and its picks filter the
    output.  The coarse quantizer derives from the FULL embedding table
    (a quantizer is an index property — which docs survive text filters
    must not move the centroids), so curation cells mean the same thing
    run-to-run as the text filters evolve.

    Output: (doc_id, text [scrubbed], n_tokens, quality_score) — plus
    (cell, centroid_sim) when the embedding stage ran (its output is
    bounded at ``emb_nlist x emb_per_cell`` rows).

    ``emb_nlist=None`` (the default) auto-sizes the quantizer as
    ``max(8, N // 250)`` over the FULL embedding table
    (:func:`~.similarity.resolve_nlist` — the SemDeDup
    N/target_cell_size rule the scaled probes validated), so a caller
    at corpus scale never inherits a fixed tiny nlist whose per-cell
    pair work would grow quadratically with N.
    """
    qf = quality_features(docs, text_col).select(
        "doc_id", "n_tokens", "quality_score"
    )
    lid = language_id(docs, text_col).select("doc_id", "pred_lang")
    evalset = deterministic_sample(docs, eval_rate, salt=eval_salt)
    train = docs.join(evalset.select("doc_id"), "doc_id", "left_anti")

    non_survivors = (
        dedup_clusters(train, text_col, threshold)
        .where(~F.col("is_survivor"))
        .select("doc_id")
    )
    # NOTE the deliberate role reversal, spelled out as keywords: the
    # operator flags ITS `test` side, and here the docs being screened are
    # the TRAIN corpus (flag train docs carrying eval n-grams).  Swapping
    # these "back" would anti-join train against eval-split ids — a no-op
    # that silently disables decontamination (guarded by
    # test_training_corpus_end_to_end_stages).
    leaked = ngram_decontaminate(
        train=evalset, test=train, text_col=text_col, n=ngram_n
    ).select(F.col("test_doc_id").alias("doc_id"))

    kept = (
        train.join(qf, "doc_id")
        .join(lid, "doc_id")
        .where(
            (F.col("quality_score") >= quality_min)
            & (F.col("pred_lang") == lang)
        )
        .join(non_survivors, "doc_id", "left_anti")
        .join(leaked, "doc_id", "left_anti")
    )
    scrubbed = F.col(text_col)
    for _, pat, token in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    out = kept.select(
        "doc_id", scrubbed.alias("text"), "n_tokens", "quality_score"
    )
    if embeddings is None:
        return out
    from .similarity import centroid_rows, curate_embeddings, resolve_nlist

    # the text pipeline output feeds TWO consumers (the embedding-side
    # semi-join build and the final join's left); unpersisted, the whole
    # dedup+decontamination lineage would re-evaluate per consumer
    # (measured: the composed plan carried 35 scans / 43 shuffles vs
    # training_corpus's own 8 / 9 before this persist)
    out = scratch_persist(out)

    # quantizer from the FULL table: an index property, not a function
    # of which docs the text stages kept (and the oracle re-derives it
    # from the same unfiltered lowest-id convention).  ``emb_centroids``
    # injects a production quantizer (k-means||, or any sampler whose id
    # domain actually spans the corpus — the lowest-id default needs ids
    # 0..nlist-1 to exist); same contract as every other centroids= seam.
    cents = (
        emb_centroids
        if emb_centroids is not None
        else centroid_rows(
            embeddings,
            # emb_nlist=None -> the SemDeDup N/target_cell_size sizing
            # rule (resolve_nlist), measured over the FULL table the
            # quantizer is derived from
            resolve_nlist(embeddings, emb_nlist),
            emb_id_col,
            emb_vec_col,
        )
    )
    emb_kept = embeddings.join(
        out.select(F.col("doc_id").alias(emb_id_col)),
        emb_id_col,
        "left_semi",
    )
    # persisted: the curation tail past curate_embeddings' internal
    # `assigned` persist (cell-local pair verify + the diversity cap) is
    # real compute that would otherwise re-run on every consumption —
    # and this table is consumed by the final join here AND by any
    # composition stacked on top (corpus_split_audit checkpoints this
    # output).  Bounded at emb_nlist x emb_per_cell rows.
    curated = scratch_persist(
        curate_embeddings(
            emb_kept,
            nlist=emb_nlist,
            threshold=emb_threshold,
            per_cell=emb_per_cell,
            id_col=emb_id_col,
            vec_col=emb_vec_col,
            centroids=cents,
            assign_two_level=emb_assign_two_level,
        ).select(
            F.col(emb_id_col).alias("doc_id"), "cell", "centroid_sim"
        )
    )
    return out.join(curated, "doc_id")


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot-to-snapshot change accounting: classify every document
    id as ``added`` / ``removed`` / ``changed`` / ``unchanged`` between
    two corpus snapshots — the bookkeeping step every incremental
    training-data refresh needs before deciding what to re-process
    (re-tokenize/re-embed only ``added``+``changed``; retire
    ``removed`` from the index).

    Content identity is ``md5(text)`` — EXACT equality, deliberately not
    the shingle :func:`~nntsc_spark.pipeline.text.fingerprint` (near-dup
    identity would classify a real edit as unchanged).  Shape: one
    projection per side (scan + md5, no shuffle), one full-outer
    equi-join on the unique document key (both sides co-partition on the
    join key; unique keys -> no skew), one CASE.  Output size is
    |old ∪ new| — the contract, not a blowup.

    Output: (key, status, fp_old, fp_new).
    """
    o = old.select(
        F.col(key_col), F.md5(F.col(text_col)).alias("fp_old")
    )
    n = new.select(
        F.col(key_col), F.md5(F.col(text_col)).alias("fp_new")
    )
    joined = o.join(n, key_col, "full_outer")
    return joined.select(
        key_col,
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "fp_old",
        "fp_new",
    )


def corpus_split_audit(
    docs: DataFrame,
    fractions: tuple[float, float, float] = (0.9, 0.05, 0.05),
    text_col: str = "text",
    threshold: float = 0.5,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe split PLUS its own audit in one pass — the self-check
    a production pipeline ships with its split manifest (r14 verdict
    task 5): :func:`~.dedup.leakage_safe_split` assigns cluster-atomic
    train/val/test labels, and :func:`~.dedup.split_leakage_report`
    re-counts near-dup pairs by split pair OVER THAT ASSIGNMENT.  The
    off-diagonal (cross-split) count is zero by construction; emitting
    the audited zero next to the split sizes is the point — the manifest
    carries its own proof instead of asking a reader to trust the
    construction.

    One banded pair table feeds both stages (the ``pairs=`` seam), so
    the composition costs one banding pass + one bounded groupBy beyond
    the split itself.  Persisted between stages: the 2-column
    (doc_id, text) corpus projection the audit actually touches, the
    pair table, and the 3-column assignment — never a full-width corpus.

    The corpus projection is persisted AND lineage-truncated
    (``localCheckpoint``) — both matter when ``docs`` is itself an
    expensive pipeline (the curated capstone).  The persist makes the
    two consumer stages (shingle pass, split-assignment join) and warm
    re-runs read one materialization.  The truncation is the bigger
    win: a persist keeps the full upstream LOGICAL plan, so every
    downstream eager step (CC rounds, cache-fill counts, the final
    action) re-analyzed an 87k-line physical tree — measured 18.6 s
    warm min-of-3 for the composed ``curated_split_audit`` with persist
    alone vs 6.3 s with the checkpoint seam, planning time not data
    (optimization guide §3.3/§7.3: very wide plans make planning itself
    the bottleneck; materialize an intermediate to truncate — and §5:
    ``localCheckpoint`` is the cheap lineage cut when fault tolerance
    of the intermediate is not critical; re-derivable scratch here).
    The split consumer additionally narrows to ``doc_id`` alone before
    the cluster join — with ``pairs`` injected, :func:`~.dedup
    .leakage_safe_split` never needs the text — so the join ships ids,
    not documents (guide §2.3: project before the exchange).

    Output: one row per split — (split, n_docs, n_dup_members,
    n_same_split_pairs, n_cross_split_pairs); the last two are
    corpus-level constants repeated per row (n_cross_split_pairs = 0
    always; property-pinned for arbitrary data and salt).
    """
    from .dedup import (
        leakage_safe_split,
        minhash_near_duplicates,
        split_leakage_report,
    )

    # persist first (warm re-runs of the same composition hit this
    # cache), then cut the lineage: the one eager checkpoint job fills
    # the cache AND hands every consumer a plan rooted at the
    # materialized blocks instead of the whole upstream pipeline.
    # scratch_checkpoint (not a bare localCheckpoint): a fresh checkpoint
    # RDD per construction would root every downstream plan at a NEW id,
    # making warm re-runs semantically unequal to the previous pass and
    # un-cacheable — the memoized seam hands re-constructions the same
    # materialization back (measured at sf0.1: composed
    # curated_split_audit 17.5 s -> 3.5-5.6 s warm min-of-3, the spread
    # depending on which sibling capstone seeded the session's caches)
    src = scratch_checkpoint(
        scratch_persist(docs.select("doc_id", text_col))
    )
    pairs = scratch_persist(
        minhash_near_duplicates(src, text_col, threshold=threshold)
    )
    assign = scratch_persist(
        leakage_safe_split(
            src.select("doc_id"), fractions, text_col,
            threshold=threshold, salt=salt, pairs=pairs,
        ).select("doc_id", "rep_id", "split")
    )
    report = split_leakage_report(assign, threshold=threshold, pairs=pairs)
    same = F.col("split_a") == F.col("split_b")
    totals = report.agg(
        F.coalesce(F.sum(F.when(same, F.col("n_pairs"))), F.lit(0))
        .cast("long")
        .alias("n_same_split_pairs"),
        F.coalesce(F.sum(F.when(~same, F.col("n_pairs"))), F.lit(0))
        .cast("long")
        .alias("n_cross_split_pairs"),
    )
    summary = assign.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("rep_id") != F.col("doc_id")).cast("long")).alias(
            "n_dup_members"
        ),
    )
    # 3 rows x 1 row: a broadcast cross join, never a shuffle
    return summary.crossJoin(F.broadcast(totals))
