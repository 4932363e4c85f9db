"""C4-style line-level corpus cleaning (Raffel et al. 2020, appendix A).

The C4 pipeline cleans web text *by line* before any document-level
filtering: keep lines that end in terminal punctuation, drop short
lines, drop lines mentioning boilerplate markers ("javascript", cookie
notices), and remove lines that repeat across the corpus (navigation
chrome, legal footers).  The reference engine has no counterpart — this
is part of the training-data surface this repo adds on top of the NNTSC
semantics.

Spark-first shape:

* Rule filters are pure whole-stage-codegen expressions over the split
  line (no Python, no shuffle).
* The corpus-frequency rule is the only distributed step and it is
  heavy-hitter bounded by construction: a line must occur more than
  ``max_count`` times to be boilerplate, so the offending-key table has
  at most ``total_lines / max_count`` rows — broadcastable at any corpus
  size that fits a cluster (100 TB of text at max_count=10 is ≤ 10% of
  the distinct-line count, and in practice boilerplate is a tiny
  head).  The kept lines anti-join against that broadcast set, so the
  fact side never shuffles for the membership test.
* Reassembly is one groupBy(doc_id) with an order-restoring
  ``array_sort`` over (line_idx, line) structs — collect_list order is
  partition-dependent, the sort is what makes the output deterministic.

Counting keys on ``md5_long(line)`` (60-bit bigint) instead of the raw
string keeps the count shuffle at 8 bytes/key regardless of line length;
the DuckDB oracle derives the identical key, so a (cosmically unlikely)
hash collision would be reproduced by both engines rather than flagged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..scratch import scratch_persist
from .dedup import md5_long

#: terminal punctuation accepted by the C4 "ends like a sentence" rule
TERMINAL_PUNCT = (".", "!", "?", '"', "'")

#: default boilerplate markers (C4 bans "javascript"; the cookie/lorem
#: rules act at page level and live in quality_features/banned checks)
DEFAULT_BANNED_WORDS = ("javascript",)

#: broadcast the common-line key set only when its MEASURED cardinality
#: is at most this (8-byte keys -> ~80 MB serialized, comfortably inside
#: ordinary executor headroom); larger sets take the shuffle anti-join
#: instead of risking a driver/executor OOM
BROADCAST_KEYS_MAX = 10_000_000


def doc_lines(
    docs: DataFrame, text_col: str = "text", delim: str = "\n"
) -> DataFrame:
    """Split each document into (doc_id, line_idx, line) on ``delim``.

    ``delim`` is LITERAL (quoted into the regex with \\Q..\\E): the
    reassembly in :func:`clean_lines` joins with the same string
    literally, so a regex-special delimiter like ``"."`` or ``"|"``
    must split the same way it joins — Spark's ``split`` alone would
    silently explode such a document into characters.

    Pure projection + generator — one pass, no shuffle."""
    return docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + delim + "\\E")
        ).alias("line_idx", "line"),
    )


def segment_token_lines(
    docs: DataFrame, text_col: str = "text", line_tokens: int = 8
) -> DataFrame:
    """Segment whitespace-token documents into fixed-width pseudo-lines
    of ``line_tokens`` tokens (last line may be short).

    For corpora that arrive as one physical line per document (the
    synthetic tables here; also jsonl exports that strip newlines) this
    supplies the line granularity the C4 rules need.  Same shape as
    :func:`doc_lines`: (doc_id, line_idx, line).
    """
    n = int(line_tokens)
    toks = F.split(F.col(text_col), " ")
    return (
        docs.select("doc_id", toks.alias("_t"))
        .select(
            "doc_id",
            F.col("_t"),
            F.posexplode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("_t") / F.lit(float(n))).cast("int") - 1,
                )
            ).alias("line_idx", "_i"),
        )
        .select(
            "doc_id",
            F.col("line_idx"),
            F.array_join(
                F.slice(F.col("_t"), F.col("line_idx") * n + 1, n), " "
            ).alias("line"),
        )
    )


def line_keep_mask(
    line: Column,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    banned_words: Sequence[str] = DEFAULT_BANNED_WORDS,
) -> Column:
    """Boolean keep-expression implementing the per-line C4 rules.

    Entirely codegen-friendly: a split, a size, an element check and a
    membership test — no shuffle, no Python."""
    words = F.split(line, " ")
    keep = F.size(words) >= int(min_words)
    if require_terminal_punct:
        last = F.substring(line, -1, 1)
        keep = keep & last.isin(*TERMINAL_PUNCT)
    for w in banned_words:
        keep = keep & ~F.array_contains(words, w)
    return keep


def common_line_keys(lines: DataFrame, max_count: int) -> DataFrame:
    """Keys (md5_long) of lines occurring more than ``max_count`` times
    corpus-wide — the boilerplate set.

    One shuffle with map-side combine; the output is bounded above by
    ``total_lines / max_count`` rows, which is what makes the downstream
    membership test broadcastable."""
    return (
        lines.groupBy(md5_long(F.col("line")).alias("line_key"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") > int(max_count))
    )


def clean_lines(
    docs: DataFrame,
    lines: DataFrame | None = None,
    text_col: str = "text",
    delim: str = "\n",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    banned_words: Sequence[str] = DEFAULT_BANNED_WORDS,
    max_count: int | None = None,
    defer_gate: bool = False,
) -> DataFrame:
    """Apply the C4 line rules and (optionally) corpus-frequency
    boilerplate removal, then reassemble documents.

    Returns (doc_id, text_clean, n_lines_kept, n_lines_total); documents
    whose every line is dropped survive with ``text_clean = ''`` so the
    caller decides the document-level fate (C4 drops pages below a
    sentence floor — that is :func:`quality gate <nntsc_spark.pipeline.
    text.quality_features>` territory).

    ``lines`` overrides the default ``delim`` split with a caller-built
    segmentation (e.g. :func:`segment_token_lines`).

    With ``max_count`` set, the default runs ONE Spark job at plan-build
    time (counting the common-line set to decide broadcast safety — the
    measured-size gate below).  Callers that only want the plan — or
    that compose this into a pipeline where an eager job is unacceptable
    — pass ``defer_gate=True`` to skip the count and leave the join
    strategy to AQE: fully lazy, at the measured cost of the anti-join
    falling to a spilling SMJ on corpora where the common set WOULD have
    broadcast (3-17x slower on the x100 probe — r10 advice trade-off,
    made explicit instead of chosen silently)."""
    if lines is None:
        lines = doc_lines(docs, text_col=text_col, delim=delim)
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines_total")
    )
    kept = lines.where(
        line_keep_mask(
            F.col("line"),
            min_words=min_words,
            require_terminal_punct=require_terminal_punct,
            banned_words=banned_words,
        )
    )
    if max_count is not None:
        # |common| is only bounded by total_lines / max_count —
        # unbounded for small max_count — so an unconditional broadcast
        # hint risks driver OOM at corpus scale (r9 advice).  But the
        # AQE-decided join measured 3-17x slower on the x100 probe (the
        # anti-join fell to a spilling SMJ of the full kept-lines side),
        # so instead of dropping the hint outright the set is persisted,
        # COUNTED (one job over the already-needed aggregation), and
        # broadcast only when the measured size is genuinely
        # driver-safe; past the gate it degrades to the shuffle join.
        common = common_line_keys(lines, max_count).select("line_key")
        if defer_gate:
            side = common  # lazy: AQE picks the strategy at run time
        else:
            common = scratch_persist(common)
            side = (
                F.broadcast(common)
                if common.count() <= BROADCAST_KEYS_MAX
                else common
            )
        kept = kept.withColumn(
            "line_key", md5_long(F.col("line"))
        ).join(side, "line_key", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_idx", "line"))
                ),
                lambda s: s["line"],
            ),
            delim,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0))
            .cast("long")
            .alias("n_lines_kept"),
            F.coalesce(F.col("n_lines_total"), F.lit(0))
            .cast("long")
            .alias("n_lines_total"),
        )
    )
