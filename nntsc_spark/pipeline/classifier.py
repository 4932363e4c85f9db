"""Model-based quality filtering: a distributed Naive-Bayes linear
classifier over token counts (the fastText-style filter of the GPT-3 /
CCNet data pipelines — train a cheap linear model on a curated positive
seed vs a background negative, score every document, keep high scorers).

Reference scope: the reference engine has no learned component; this is
part of the training-data-pipeline surface built on top of its query
model (like pipeline/selection.py's DSIR, which is the importance-
sampling sibling of the same hashed-feature family).

Spark-first shape — both phases are single-shuffle aggregations:

* TRAIN is one tokenize->explode into one (token, class) count shuffle;
  the class totals and vocabulary size reduce to ONE driver-side row
  (three scalars — bounded regardless of corpus size), inlined as
  literals so the log-likelihood-ratio table is a pure projection over
  the bounded vocabulary table.  No iterations: NB's MLE is closed-form,
  which is exactly why it's the classic first-pass corpus filter.
* SCORE is the same explode joined against the model table (broadcast
  when the pruned vocabulary fits — the common case; AQE otherwise) and
  one per-doc mean — arithmetic identical to text.py's
  unigram_logprob_scores, whose cross-engine determinism is
  oracle-pinned.

Both phases parallelize over documents with no per-key ordering, no
windows, and no driver loops; vocabulary pruning (``min_df``) bounds
the model table the way DSIR's ``buckets`` bounds its feature space.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..scratch import scratch_persist


def nb_train(
    docs: DataFrame,
    positive: Column,
    text_col: str = "text",
    alpha: float = 1.0,
    min_df: int = 2,
) -> DataFrame:
    """Train the NB token model: one row per vocabulary token with its
    add-``alpha`` smoothed log-likelihood ratio ``llr = ln p(tok|+) -
    ln p(tok|-)``.

    ``positive`` is any boolean Column over ``docs`` (the curated-seed
    membership rule).  Tokens with total count < ``min_df`` are pruned —
    the model table is vocabulary-bounded, never corpus-bounded.

    The three normalizers (class token totals and vocabulary size) are
    collected as ONE row and inlined as literals: the alternative — a
    cross join against a 1-row totals table — forces a pointless
    broadcast exchange under every consumer.
    """
    toks = docs.select(
        positive.alias("_pos"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")
    counts = (
        toks.groupBy("token")
        .agg(
            F.sum(F.when(F.col("_pos"), 1).otherwise(0))
            .cast("double")
            .alias("cpos"),
            F.sum(F.when(~F.col("_pos"), 1).otherwise(0))
            .cast("double")
            .alias("cneg"),
        )
        .where((F.col("cpos") + F.col("cneg")) >= float(min_df))
    )
    counts = scratch_persist(counts)
    tot = counts.agg(
        F.sum("cpos").alias("np"),
        F.sum("cneg").alias("nn"),
        F.count(F.lit(1)).cast("double").alias("v"),
    ).collect()[0]
    npos, nneg, vsize = float(tot["np"]), float(tot["nn"]), float(tot["v"])
    a = float(alpha)
    return counts.select(
        "token",
        (
            F.log((F.col("cpos") + a) / F.lit(npos + a * vsize))
            - F.log((F.col("cneg") + a) / F.lit(nneg + a * vsize))
        ).alias("llr"),
    )


def nb_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Score every document under a trained NB model: per-doc MEAN llr
    over in-vocabulary tokens (length-normalized, the CCNet convention —
    an unnormalized sum would just rank long documents first).

    Output: (id_col, n_model_tokens, score, pred) for EVERY input doc;
    documents with zero in-vocabulary tokens get NULL score/pred (the
    honest answer — the model has no evidence), n_model_tokens = 0.

    ``broadcast_model=False`` for vocabularies too large to broadcast;
    the join then shuffles on token, still one exchange.
    """
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).where(F.col("token") != "")
    m = F.broadcast(model) if broadcast_model else model
    scored = (
        toks.join(m, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_model_tokens"),
            F.sum("llr").alias("_s"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_model_tokens", F.lit(0)).alias("n_model_tokens"),
            F.round(F.col("_s") / F.col("n_model_tokens"), 4).alias("score"),
            (F.col("_s") / F.col("n_model_tokens") > 0).alias("pred"),
        )
    )
