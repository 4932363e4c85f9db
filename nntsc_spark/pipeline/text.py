"""Text analysis operators over a document corpus.

All expressions are deterministic and portable to ANSI-ish SQL so the
DuckDB oracle can verify them: tokenization is a plain single-space split
(matching the synthetic corpus), hashes are md5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..scratch import scratch_persist

#: small deterministic stopword list used for quality/language scoring
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks —
#: the GPT-2 pre-split family, written without lookaheads or escape classes
#: so Java regex (Spark) and RE2 (DuckDB) match identically.
BPEISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens_expr(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.split(t, " ")


def token_count_expr(text: Column | str) -> Column:
    return F.size(tokens_expr(text)).cast("long")


def bpeish_token_count_expr(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(F.lower(t), F.lit(BPEISH_PATTERN), F.lit(0))
    ).cast("long")


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token accounting: whitespace tokens, BPE-ish regex
    pre-tokens, raw chars, and chars-per-BPE-token (the compression-ratio
    proxy a training pipeline budgets by).

    Pure projection — no shuffle, stays in whole-stage codegen; the regex
    runs once per row JVM-side (no Python UDF).
    """
    ws = token_count_expr(text_col)
    bp = bpeish_token_count_expr(text_col)
    nchars = F.length(F.col(text_col)).cast("long")
    return docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bp.alias("n_bpeish_tokens"),
        nchars.alias("n_chars"),
        F.round(nchars / bp.cast("double"), 4).alias("chars_per_token"),
    )


def stopword_count_expr(text: Column | str) -> Column:
    toks = tokens_expr(text)
    return F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))).cast("long")


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: token count, stopword ratio, mean token
    length, and a BPE-ish subword token estimate (chars/4, ceil).

    The quality score is a simple monotone combination — the point is the
    distributed shape (pure projection, no shuffle), not the scoring model.
    """
    toks = token_count_expr(text_col)
    stops = stopword_count_expr(text_col)
    nchars = F.length(F.col(text_col)).cast("long")
    return docs.select(
        "doc_id",
        toks.alias("n_tokens"),
        stops.alias("n_stopwords"),
        F.round(stops / toks.cast("double"), 4).alias("stopword_ratio"),
        F.round(nchars / toks.cast("double"), 4).alias("mean_token_len"),
        ((nchars + 3) / 4).cast("long").alias("est_subword_tokens"),
        F.round(
            F.least(F.lit(1.0), stops / toks.cast("double") * 5.0)
            * F.when((toks >= 10) & (toks <= 1000), 1.0).otherwise(0.5),
            4,
        ).alias("quality_score"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword heuristic language ID.

    Scores the document against per-language stopword lists; highest ratio
    wins, 'und' when no list clears the floor.  The synthetic corpus is
    English-ish, so the en list matches the corpus vocabulary.
    """
    toks = tokens_expr(text_col)
    n = F.size(toks).cast("double")
    en = F.size(F.filter(toks, lambda x: x.isin(["the", "a", "of", "and"]))) / n
    de = F.size(F.filter(toks, lambda x: x.isin(["der", "die", "das", "und"]))) / n
    fr = F.size(F.filter(toks, lambda x: x.isin(["le", "la", "les", "et"]))) / n
    return docs.select(
        "doc_id",
        F.round(en, 4).alias("score_en"),
        F.round(de, 4).alias("score_de"),
        F.round(fr, 4).alias("score_fr"),
        F.when((en >= de) & (en >= fr) & (en >= 0.01), "en")
        .when((de > en) & (de >= fr) & (de >= 0.01), "de")
        .when((fr > en) & (fr > de) & (fr >= 0.01), "fr")
        .otherwise("und")
        .alias("pred_lang"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", ngram: int = 4) -> DataFrame:
    """Document fingerprint: minimum md5 over word n-gram shingles
    (winnowing with a single global window — a rolling-hash family member).

    Documents shorter than ``ngram`` tokens fall back to hashing the whole
    text.  Shingles come from the codegen-friendly exploded form (see
    pipeline.dedup.shingles for why not a transform/element_at lambda);
    the min-hash is then one groupBy on doc_id.
    """
    from ..pipeline.dedup import shingles as _shingles

    mins = (
        _shingles(docs.select("doc_id", text_col), text_col, ngram)
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.col("shingle"))).alias("_fp"))
    )
    return (
        docs.join(mins, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_fp"), F.md5(F.col(text_col))).alias("fingerprint"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic corpus sampling + PII scrubbing
# ---------------------------------------------------------------------------

#: modulus for hash-based sampling rates (1/10000 granularity)
SAMPLE_MOD = 10_000


def hash_priority_expr(key_col: str, salt: str) -> Column:
    """THE md5 priority: conv(substring(md5(salt || key), 1, 15), 16, 10).

    Single source of truth for every deterministic sampler and the shard
    writer — the samplers' nesting/composition guarantees hold only while
    they share this exact expression, and each DuckDB oracle reproduces it
    byte-for-byte as ('0x' || substring(md5(...), 1, 15))::BIGINT (four
    hand-maintained copies predated this helper; r5 review finding).
    """
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
    )


def deterministic_sample(
    docs: DataFrame,
    rate: float,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Reproducible corpus sampling: keep rows where
    ``md5(salt || key) mod 10000 < rate * 10000``.

    Unlike ``df.sample`` (seeded per-partition RNG — resampling changes
    membership whenever partitioning changes), the hash decides membership
    from the ROW KEY alone: the same (salt, rate) always selects the same
    documents on any cluster layout, rates nest (rate 0.01 ⊂ rate 0.1 for
    the same salt), and disjoint split salts give independent draws.
    That's what makes train/val splits and ablation subsets reproducible.
    Pure projection+filter — no shuffle, stays in codegen.
    """
    bucket = hash_priority_expr(key_col, salt) % SAMPLE_MOD
    # round, don't truncate: 0.0003 * 10000 is 2.9999999999999996 in
    # float64 and int() would select one bucket too few
    return docs.where(bucket < int(round(rate * SAMPLE_MOD)))


#: PII patterns, lookaround-free so Java regex (Spark) and RE2 (DuckDB
#: oracle) agree byte-for-byte.  Order matters: emails before bare words,
#: IPs before phone-ish digit runs.
PII_PATTERNS = [
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}", "<EMAIL>"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
    ("phone", "[+]?[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace emails / IPv4s / phone-like digit runs with typed tokens and
    count the redactions per document.

    Counts are computed BEFORE replacement (regexp_extract_all size) and the
    rewrite chains regexp_replace in a fixed order, so the output is fully
    deterministic.  Everything is JVM-side regex in one projection — no
    shuffle, no UDF; at 100 TB this runs at scan speed.
    """
    t = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).cast("long")
        for name, pat, _ in PII_PATTERNS
    }
    scrubbed = t
    for _, pat, token in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        *[counts[name].alias(f"n_{name}") for name, _, _ in PII_PATTERNS],
    )


def repetition_features(
    docs: DataFrame,
    text_col: str = "text",
    top_token_max: float = 0.2,
    dup_3gram_max: float = 0.5,
) -> DataFrame:
    """Repetition / boilerplate metrics (the Gopher-family quality filters):
    duplicate-token fraction, most-common-token share, and duplicate 2-/3-
    gram fractions, plus an ``is_repetitive`` verdict against the given
    thresholds.

    Distributed shape (r7 — the position-window gram build is gone):

    - token pass: explode -> per-(doc, token) counts -> per-doc total /
      distinct / max  (two-level aggregate, the distributed way to get
      "count of the most common element" without per-row nested loops);
    - gram pass: 2-/3-gram totals and distincts are computed ENTIRELY in
      the array domain (slice windows + array_distinct, the
      token_windows build) — a zero-shuffle projection.  The previous
      shape posexploded positions and ran lead() windows over
      (doc, pos), paying a full per-doc sort exchange just to rebuild
      adjacency the token array already had; that sort was the operator's
      scale cost (7.8x/decade at the x100 probe).

    The gram projection joins the doc-keyed token aggregate (one
    exchange, no sort).
    """
    pos = docs.select(
        "doc_id", F.explode(tokens_expr(text_col)).alias("tok")
    )
    tok_counts = pos.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.max("c").alias("top_token_cnt"),
    )

    def gram_arr(n: int) -> str:
        return (
            f"CASE WHEN size(_toks) >= {n} THEN "
            f"transform(sequence(0, size(_toks) - {n}),"
            f" i -> concat_ws(' ', slice(_toks, i + 1, {n}))) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END"
        )

    gram_stats = (
        docs.withColumn("_toks", tokens_expr(text_col))
        .withColumn("_g2", F.expr(gram_arr(2)))
        .withColumn("_g3", F.expr(gram_arr(3)))
        .select(
            "doc_id",
            F.size("_g2").cast("long").alias("n_2grams"),
            F.size(F.array_distinct("_g2")).cast("long").alias("n_distinct_2grams"),
            F.size("_g3").cast("long").alias("n_3grams"),
            F.size(F.array_distinct("_g3")).cast("long").alias("n_distinct_3grams"),
        )
    )

    def raw_ratio(distinct, total):
        return F.when(
            F.col(total) > 0,
            1.0 - F.col(distinct) / F.col(total).cast("double"),
        ).otherwise(F.lit(0.0))

    def ratio(distinct, total):
        return F.round(raw_ratio(distinct, total), 4)

    raw_top = F.col("top_token_cnt") / F.col("n_tokens").cast("double")
    joined = tok_stats.join(gram_stats, "doc_id")
    # the verdict compares UNROUNDED ratios (matching the oracle SQL);
    # rounding is for the reported columns only — a doc at 0.200005 must
    # flag even though its displayed ratio is 0.2
    return joined.select(
        "doc_id",
        "n_tokens",
        ratio("n_distinct_tokens", "n_tokens").alias("dup_token_ratio"),
        F.round(raw_top, 4).alias("top_token_ratio"),
        ratio("n_distinct_2grams", "n_2grams").alias("dup_2gram_ratio"),
        ratio("n_distinct_3grams", "n_3grams").alias("dup_3gram_ratio"),
        (
            (raw_top > top_token_max)
            | (raw_ratio("n_distinct_3grams", "n_3grams") > dup_3gram_max)
        ).alias("is_repetitive"),
    )


def deterministic_sample_by(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: corpus mixing by source/quality
    band with the same reproducibility guarantees as
    :func:`deterministic_sample` (hash-mod membership — layout-independent,
    rates nest per salt, strata draws are independent because the key hash
    ignores the stratum).

    The rate table is inlined as a literal CASE map (strata counts are
    human-scale), so the whole operator stays a single codegen projection
    + filter — ``df.sampleBy`` offers none of the determinism and builds
    the same plan shape anyway.  Unlisted strata get ``default_rate``.
    """
    bucket = hash_priority_expr(key_col, salt) % SAMPLE_MOD
    # thresholds precomputed as INTEGERS driver-side (round, don't
    # truncate — see deterministic_sample) so the comparison literal is
    # exact on both the Spark and oracle sides.  A None key in ``rates``
    # is the NULL stratum (matched with isNull — an equality literal
    # never matches NULL); the sort key is None-safe because sorted()
    # raises on None-vs-str comparison (r6 advice finding).
    thr_expr = F.lit(int(round(float(default_rate) * SAMPLE_MOD)))
    for stratum, rate in sorted(
        rates.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
    ):
        cond = (
            F.col(strata_col).isNull()
            if stratum is None
            else F.col(strata_col) == stratum
        )
        thr_expr = F.when(
            cond, F.lit(int(round(float(rate) * SAMPLE_MOD)))
        ).otherwise(thr_expr)
    return docs.where(bucket < thr_expr)


def temperature_sample(
    docs: DataFrame,
    alpha: float = 0.7,
    budget_docs: int | None = None,
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based mixture sampling — the multilingual-LM mixing
    rule (sampling share of source s ∝ n_s^alpha, e.g. mBERT/XLM-R's
    exponent-smoothed language sampling): alpha < 1 flattens the mixture,
    shrinking dominant sources' share and boosting the long tail, without
    anyone hand-writing a rates table.

    Rates derive from the data: share_s = n_s^alpha / Σ n^alpha, desired
    docs m_s = budget * share_s, rate_s = min(1, m_s / n_s) (sampling
    without replacement cannot upsample past a source's own size — the
    min documents where the boost saturates).  ``budget_docs`` defaults
    to the corpus size.  Selection delegates to
    :func:`deterministic_sample_by`, so membership is the same
    layout-independent md5 rule, rates nest per salt, and the whole
    sampler stays one codegen projection + filter.

    Distributed shape: the per-source counts are ONE map-side-combinable
    aggregation collected driver-side — the table is bounded by the
    number of SOURCES (human-scale by construction), never corpus-sized.

    Rows with a NULL stratum form their own bucket (the groupBy yields a
    None key and :func:`deterministic_sample_by` matches it with isNull)
    — previously a NULL source crashed the rate sort (r6 advice finding).
    """
    counts = {
        r[strata_col]: r["n"]
        for r in docs.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return deterministic_sample_by(docs, {}, strata_col, key_col, salt)
    weights = {s: float(n) ** float(alpha) for s, n in counts.items()}
    z = sum(weights.values())
    budget = float(budget_docs if budget_docs is not None else sum(counts.values()))
    rates = {
        s: min(1.0, budget * (weights[s] / z) / counts[s]) for s in counts
    }
    return deterministic_sample_by(docs, rates, strata_col, key_col, salt)


def source_vocab_stats(
    docs: DataFrame, text_col: str = "text", strata_col: str = "source"
) -> DataFrame:
    """Per-source corpus profile: document count, token mass, vocabulary
    size, type-token ratio, and mean document length — the table a
    mixture designer reads before writing rates (which sources are
    token-heavy vs doc-heavy, which have collapsed vocabulary from
    boilerplate).

    Distributed shape: one explode into a (source, token) partial-
    distinct aggregation (countDistinct runs as a two-phase aggregate —
    per-task partial distincts before the shuffle, keyed on the source,
    never a corpus-wide distinct) plus a doc-level projection aggregate;
    the two #source-bounded results join broadcast.  Output is bounded
    by the number of sources regardless of corpus size.

    Output: (source, n_docs, n_tokens, n_distinct_tokens,
    type_token_ratio, avg_doc_tokens).
    """
    toks = docs.select(
        F.col(strata_col), F.explode(tokens_expr(text_col)).alias("tok")
    )
    vocab = toks.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
    )
    per_doc = docs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        per_doc.join(vocab, strata_col)
        .select(
            strata_col,
            "n_docs",
            "n_tokens",
            "n_distinct_tokens",
            F.round(
                F.col("n_distinct_tokens") / F.col("n_tokens").cast("double"), 4
            ).alias("type_token_ratio"),
            F.round(
                F.col("n_tokens") / F.col("n_docs").cast("double"), 4
            ).alias("avg_doc_tokens"),
        )
    )


def quality_bands(
    docs: DataFrame, n_bands: int = 4, text_col: str = "text"
) -> DataFrame:
    """Assign each document to a quality-quantile band (0 = lowest) —
    the stratification layer quality-aware mixing needs: compose the
    output's ``band`` column with :func:`deterministic_sample_by` to
    oversample high-quality bands the way curated mixes do.

    NOT ntile: a global ntile window is a full corpus sort — the exact
    shape this repo bans at 100 TB.  Thresholds are exact DISCRETE
    order statistics computed from the score HISTOGRAM: quality_score
    is rounded to 4 decimals and bounded in [0, 1], so the histogram
    has at most 10001 rows regardless of corpus size — one map-side-
    combinable aggregation, a bounded driver-side collect (the
    temperature_sample pattern), then band assignment is a pure CASE
    projection.  Threshold rank uses integer arithmetic
    (ceil(k*n/bands) = (k*n + bands - 1) // bands), so the DuckDB
    oracle reproduces the cut points bit-for-bit — no interpolated-
    quantile float parity risk.

    Band k holds scores in (thr_{k-1}, thr_k]; ties at a threshold go
    to the lower band in both engines (CASE evaluation order).  Highly
    concentrated score distributions can leave upper bands empty — the
    honest discrete-quantile behavior.

    Output: (doc_id, quality_score, band INT).
    """
    q = quality_features(docs, text_col).select("doc_id", "quality_score")
    hist = (
        q.groupBy("quality_score")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("quality_score")
        .collect()
    )
    n = sum(r["c"] for r in hist)
    thresholds: list[float] = []
    for k in range(1, n_bands):
        target = (k * n + n_bands - 1) // n_bands
        cum = 0
        for r in hist:
            cum += r["c"]
            if cum >= target:
                thresholds.append(r["quality_score"])
                break
    band = F.lit(n_bands - 1)
    for i in range(len(thresholds) - 1, -1, -1):
        band = F.when(
            F.col("quality_score") <= F.lit(thresholds[i]), F.lit(i)
        ).otherwise(band)
    return q.select("doc_id", "quality_score", band.cast("int").alias("band"))


def curated_mixture(
    docs: DataFrame,
    budget_tokens: int,
    alpha: float = 0.7,
    min_band: int = 1,
    n_bands: int = 4,
    strata_col: str = "source",
    text_col: str = "text",
    salt: str = "",
) -> DataFrame:
    """The selection capstone: quality-gate then token-mix in one call —
    documents below ``min_band`` quality are dropped
    (:func:`quality_bands`), and the survivors are admitted per-source
    under a total token budget with temperature-smoothed shares
    (:func:`temperature_token_sample`).  This is the "keep the good
    stuff, then hit the mix spec" shape curated training sets are
    actually built with; per-source token masses (and therefore shares)
    are computed AFTER the quality gate, so a source that is mostly
    boilerplate earns a smaller share, not a budget it fills with its
    own tail.

    Every stage keeps its own scale shape: bounded-histogram banding,
    #source-bounded rate table, one stratum-keyed window.  Output:
    (doc_id, <strata_col>, band, n_tokens, cum_tokens).
    """
    bands = quality_bands(docs, n_bands, text_col).where(
        F.col("band") >= int(min_band)
    )
    keep = docs.join(bands.select("doc_id", "band"), "doc_id")
    out = temperature_token_sample(
        keep, budget_tokens, alpha, strata_col, "doc_id", text_col, salt
    )
    return out.join(bands.select("doc_id", "band"), "doc_id").select(
        "doc_id", strata_col, "band", "n_tokens", "cum_tokens"
    )


def unigram_logprob_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    token distribution — the corpus-internal analogue of the CCNet-family
    perplexity filter (no external LM in this sandbox; the SHAPE of the
    computation is the production one, and a trained LM slots in by
    swapping the probability table).

    Interpretation: a strongly negative mean logprob means the document
    is dominated by corpus-rare tokens (OCR noise, gibberish, wrong
    language); a near-max score means stopword-grade boilerplate.
    Training filters typically keep the middle band — callers threshold
    on both tails.

    Distributed shape (the proven DSIR pattern, selection.py): one
    explode feeds ONE shuffle into the per-(doc, token) count table,
    which is persisted and serves every downstream consumer
    map-side-combinably — the vocabulary table (one row per distinct
    token, << corpus), the corpus total, and the scoring join.  The join
    probe is distinct tokens per doc, so a stopword's row joins once per
    DOCUMENT containing it, never once per occurrence; AQE broadcasts
    the vocabulary side when it fits.

    Output: (doc_id, n_tokens, avg_logprob DOUBLE rounded 4).
    """
    toks = docs.select(
        "doc_id", F.explode(tokens_expr(text_col)).alias("tok")
    )
    doc_t = scratch_persist(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = doc_t.agg(F.sum("cnt")).collect()[0][0] or 0
    vocab = doc_t.groupBy("tok").agg(F.sum("cnt").alias("v"))
    return (
        doc_t.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt") * F.log(F.col("v") / F.lit(float(total))))
                / F.sum("cnt"),
                4,
            ).alias("avg_logprob"),
        )
    )


def temperature_token_sample(
    docs: DataFrame,
    budget_tokens: int,
    alpha: float = 0.7,
    strata_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "",
) -> DataFrame:
    """Temperature mixing specified in TOKENS: split a total token budget
    across sources by the exponent-smoothed rule share_s ∝ T_s^alpha
    (T_s = source s's token mass), then admit each source's documents in
    deterministic hash-priority order until its token allocation is spent
    — :func:`temperature_sample`'s mixing rule composed with
    :func:`token_budget_sample`'s admission.  This is how real training
    mixes are stated ("50 B tokens of web, 10 B of code"): a doc-count
    rate undershoots long-document sources because share-by-count and
    share-by-tokens diverge exactly when document lengths differ.

    Per-source budgets are floor(budget_tokens * T_s^alpha / Σ T^alpha);
    a tail source whose allocation exceeds its own mass simply admits
    everything (no redistribution — the saturation behavior callers
    expect from min(1, ·) rate sampling, stated in tokens).  Membership
    nests: a smaller total budget with the same salt selects a prefix of
    a larger one's per-source admissions, because the priority order is
    budget-independent.

    Distributed shape: one map-side-combinable agg bounded by the number
    of sources (collected driver-side, like temperature_sample), then
    token_budget_sample's single window — one shuffle on the stratum
    key; the per-stratum sort is the honest cost at 100 TB and splits by
    sub-stratifying.  NULL strata form their own bucket (isNull match).

    Output: (doc_id, <strata_col>, n_tokens, cum_tokens), admitted rows.
    """
    from pyspark.sql import Window

    totals = {
        r[strata_col]: r["t"]
        for r in docs.groupBy(strata_col)
        .agg(F.sum(token_count_expr(text_col)).alias("t"))
        .collect()
        if r["t"] is not None
    }
    none_safe = lambda kv: (kv[0] is None, kv[0] or "")
    weights = {s: float(t) ** float(alpha) for s, t in totals.items()}
    # deterministic summation order so the budgets don't depend on
    # collect() row order (float addition is non-associative)
    z = sum(w for _, w in sorted(weights.items(), key=none_safe))
    budgets = {
        s: int(float(budget_tokens) * weights[s] / z) for s in totals
    } if z else {}
    b_expr = F.lit(0).cast("long")
    for s, b in sorted(budgets.items(), key=none_safe):
        cond = (
            F.col(strata_col).isNull() if s is None else F.col(strata_col) == s
        )
        b_expr = F.when(cond, F.lit(b)).otherwise(b_expr)
    pri = hash_priority_expr(key_col, salt).alias("_pri")
    w = (
        Window.partitionBy(strata_col)
        .orderBy("_pri", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            F.col(key_col),
            F.col(strata_col),
            token_count_expr(text_col).alias("n_tokens"),
            pri,
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= b_expr)
        .select(key_col, strata_col, "n_tokens", "cum_tokens")
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    strata_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "",
) -> DataFrame:
    """Token-BUDGET quota sampling: per stratum, admit documents in a
    deterministic hash-priority order until the running token total would
    exceed ``budget_tokens`` — how a training mix is actually specified
    ("50 B tokens of web, 10 B of code"), where rate-based sampling can't
    hit a token target because document lengths vary.

    The priority is the same md5-derived key as :func:`deterministic_sample`
    (layout-independent, reproducible on any cluster; and budgets NEST: a
    smaller budget with the same salt selects a prefix of a larger one's
    membership).  One window per stratum computes the running total — a
    single shuffle on the stratum key.  At 100 TB a stratum is typically a
    source bucket (human-scale count, huge membership), so the per-stratum
    sort is the honest cost; a grossly dominant stratum is the documented
    skew case and splits naturally by sub-stratifying (e.g. source x
    crawl-month), which composes with this operator unchanged.

    Output: admitted rows only — (doc_id, <strata_col>, n_tokens,
    cum_tokens), ``cum_tokens <= budget_tokens`` by construction.
    """
    from pyspark.sql import Window

    pri = hash_priority_expr(key_col, salt).alias("_pri")
    w = (
        Window.partitionBy(strata_col)
        .orderBy("_pri", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            F.col(key_col), F.col(strata_col), token_count_expr(text_col).alias("n_tokens"), pri
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= budget_tokens)
        .select(key_col, strata_col, "n_tokens", "cum_tokens")
    )


def bigram_logprob_scores(
    docs: DataFrame,
    train_rate: float = 0.8,
    backoff: float = 0.4,
    salt: str = "blm",
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram log-probability under a stupid-backoff
    LM (Brants et al. 2007) trained on a deterministic ``train_rate``
    split of the corpus — the bigram upgrade of
    :func:`unigram_logprob_scores` and the closest public-knowledge
    stand-in for the KenLM perplexity filters of the CCNet family (a
    real LM slots in by swapping the count tables).

    Score of position i (i >= 2):

        S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})   if bigram seen,
                           backoff * c(w_i) / T          else if w_i seen,
                           backoff * 1 / T               else (OOV floor)

    with all counts from the TRAIN split and T its token total.  Held-out
    documents genuinely exercise the backoff path (training on everything
    would make "bigram seen" a tautology).  The split is the repo's
    deterministic md5 priority on ``key_col`` — engine-portable, so the
    DuckDB oracle re-derives the identical LM.

    Distributed shape: the train tables are two map-side-combinable
    counts (bigram, unigram — vocabulary-sized, never corpus-sized); T
    is the ONE driver-side scalar.  Scoring is the per-(doc, bigram)
    count table left-joined against both (AQE broadcasts them when they
    fit), then a per-doc sum — the DSIR join discipline, selection.py.

    Output: (doc_id, n_bigrams, avg_logprob, backoff_rate), rounded 4;
    single-token documents score NULL (no bigram positions).
    """
    bucket = hash_priority_expr(key_col, salt) % SAMPLE_MOD
    tagged = docs.select(
        key_col,
        tokens_expr(text_col).alias("_l"),
        (bucket < int(round(float(train_rate) * SAMPLE_MOD))).alias(
            "_is_train"
        ),
    )
    # guard: sequence(1, 0) is DESCENDING in Spark, so a 1-token doc
    # would probe element_at(_l, 0) and ANSI-fail — emit no bigrams
    big = F.expr(
        "CASE WHEN size(_l) >= 2 THEN "
        "transform(sequence(1, size(_l) - 1), "
        "i -> named_struct('w1', element_at(_l, i), "
        "'w2', element_at(_l, i + 1))) "
        "ELSE array() END"
    )
    doc_big = tagged.select(
        key_col, "_is_train", F.explode(big).alias("_b")
    ).select(
        key_col,
        "_is_train",
        F.col("_b.w1").alias("w1"),
        F.col("_b.w2").alias("w2"),
    )
    doc_big = scratch_persist(
        doc_big.groupBy(key_col, "_is_train", "w1", "w2").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    train_uni = (
        tagged.where("_is_train")
        .select(F.explode("_l").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    train_big = (
        doc_big.where("_is_train")
        .groupBy("w1", "w2")
        .agg(F.sum("cnt").alias("c12"))
    )
    total = train_uni.agg(F.sum("c1")).collect()[0][0] or 0

    j = (
        doc_big.join(train_big, ["w1", "w2"], "left")
        .join(
            train_uni.select(
                F.col("w").alias("w1"), F.col("c1").alias("c_w1")
            ),
            "w1",
            "left",
        )
        .join(
            train_uni.select(
                F.col("w").alias("w2"), F.col("c1").alias("c_w2")
            ),
            "w2",
            "left",
        )
    )
    t = F.lit(float(total))
    lnp = F.when(
        F.col("c12").isNotNull(), F.log(F.col("c12") / F.col("c_w1"))
    ).otherwise(
        F.log(
            F.lit(float(backoff))
            * F.coalesce(F.col("c_w2").cast("double"), F.lit(1.0))
            / t
        )
    )
    return (
        j.groupBy(key_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("cnt") * lnp) / F.sum("cnt"), 4).alias(
                "avg_logprob"
            ),
            F.round(
                F.sum(F.when(F.col("c12").isNull(), F.col("cnt")).otherwise(0))
                / F.sum("cnt"),
                4,
            ).alias("backoff_rate"),
        )
    )


def train_val_test_split(
    docs: DataFrame,
    fractions: tuple[float, float, float] = (0.9, 0.05, 0.05),
    key_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Assign every document a ``split`` label ('train' / 'validation' /
    'test') from ONE hash bucket per row — so the three splits are an
    exact partition (mutually exclusive, exhaustive, no document can
    drift between splits when the corpus is re-read or re-partitioned),
    which two independent :func:`deterministic_sample` draws cannot
    guarantee.

    The bucket is the shared :func:`hash_priority_expr` (md5-derived,
    oracle-reproducible); cumulative thresholds are rounded the same
    way the samplers round rates, so ``fractions=(0.9, 0.05, 0.05)``
    means buckets [0, 9000) / [9000, 9500) / [9500, 10000).  The hash
    is keyed on the document id alone, so membership is independent of
    any attribute — per-source proportions converge to the fractions
    (iid buckets) without a stratification shuffle.  Changing ``salt``
    redraws the entire assignment.  Pure projection: no shuffle, stays
    in codegen.
    """
    f_train, f_val, f_test = (float(f) for f in fractions)
    tot = f_train + f_val + f_test
    if abs(tot - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {tot}")
    t1 = int(round(f_train * SAMPLE_MOD))
    t2 = int(round((f_train + f_val) * SAMPLE_MOD))
    bucket = hash_priority_expr(key_col, salt) % SAMPLE_MOD
    return docs.withColumn(
        "split",
        F.when(bucket < t1, F.lit("train"))
        .when(bucket < t2, F.lit("validation"))
        .otherwise(F.lit("test")),
    )


def cap_per_key(
    docs: DataFrame,
    cap: int,
    key_col: str = "source",
    priority_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``cap`` documents per key — the per-domain cap of
    RefinedWeb-style web curation (a handful of template-heavy hosts
    otherwise contribute millions of near-identical pages; capping each
    domain bounds any single origin's share of the corpus).

    Selection inside a key is by ``priority_col`` DESCENDING (e.g. a
    quality score — the cap keeps the BEST ``cap`` docs, not an
    arbitrary subset), tie-broken by the shared md5 priority so the
    survivor set is a pure function of (data, salt) on any cluster
    layout.  With no priority column the hash alone picks a uniform
    deterministic subset.

    Scale shape: the ``row_number() <= cap`` predicate directly above
    the window is the exact pattern Catalyst's rank-limit rule rewrites
    into a ``WindowGroupLimit``: every task keeps only its local top
    ``cap`` rows per key BEFORE the shuffle, so a pathologically hot
    key (the 100M-page domain this operator exists for) moves at most
    ``cap x tasks`` rows, not its full fan-in.  One shuffle total.
    """
    from pyspark.sql import Window

    order = []
    if priority_col is not None:
        order.append(F.col(priority_col).desc())
    order.append(hash_priority_expr(id_col, salt).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(cap))
        .drop("_rn")
    )


def epoch_upsample(
    docs: DataFrame,
    epochs: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "epoch",
    default_epochs: float = 1.0,
) -> DataFrame:
    """Materialize a training mixture stated in EPOCHS per source
    ("2 epochs of wiki, 0.3 epochs of web") — the other way real mixes
    are specified besides token budgets (:func:`token_budget_sample`)
    and temperature rates (:func:`temperature_sample`).  Each document
    is replicated ``floor(e)`` times, and a deterministic
    ``frac(e)``-fraction of the stratum appears once more — so the
    stratum's total mass is ``n_docs * e`` in expectation with zero
    variance beyond the hash draw, and the output carries an ``epoch``
    index (0-based replica number) so the shard writer can salt each
    epoch's order independently.

    Scale shape: a literal CASE maps the stratum to its copy count, a
    bounded ``sequence`` explode emits the replicas, and one
    codegen'd filter keeps the fractional epoch's members — no shuffle,
    no join; output size is exactly the mixture's mass.  ``e = 0``
    drops the stratum (empty sequence explodes to nothing).  The
    fractional draw reuses the samplers' md5 hash keyed on the doc id,
    so it NESTS: raising 2.3 -> 2.6 epochs keeps every previously
    emitted replica and only adds rows.
    """
    import math

    def plan(e: float) -> tuple[int, int, int]:
        e = float(e)
        if e < 0:
            raise ValueError(f"epochs must be >= 0, got {e}")
        full = int(math.floor(e))
        thr = int(round((e - full) * SAMPLE_MOD))
        copies = full + (1 if thr > 0 else 0)
        return copies, full, thr

    default_copies, default_full, default_thr = plan(default_epochs)
    copies_e = F.lit(default_copies)
    full_e = F.lit(default_full)
    thr_e = F.lit(default_thr)
    for stratum, e in sorted(
        epochs.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
    ):
        copies, full, thr = plan(e)
        cond = (
            F.col(strata_col).isNull()
            if stratum is None
            else F.col(strata_col) == stratum
        )
        copies_e = F.when(cond, F.lit(copies)).otherwise(copies_e)
        full_e = F.when(cond, F.lit(full)).otherwise(full_e)
        thr_e = F.when(cond, F.lit(thr)).otherwise(thr_e)
    # sequence(0, -1) would COUNT DOWN ([0, -1] — Spark infers step -1),
    # so the zero-copy case must explode an explicitly empty array
    seq = F.when(copies_e > 0, F.sequence(F.lit(0), copies_e - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bucket = hash_priority_expr(key_col, salt) % SAMPLE_MOD
    out = docs.withColumn("epoch", F.explode(seq))
    return out.where(
        (F.col("epoch") < full_e)
        | ((F.col("epoch") == full_e) & (bucket < thr_e))
    )


def calibrate_scores_per_stratum(
    docs: DataFrame,
    score_col: str,
    strata_col: str = "source",
    out_col: str = "calibrated",
) -> DataFrame:
    """Per-stratum percent-rank calibration of a quality score: maps the
    raw score to its within-stratum quantile, so ONE global threshold
    means the same thing across sources whose raw distributions differ
    (a perplexity of X is mid-pack for web text and an outlier for
    code — gating both at the raw value keeps the wrong documents).
    This is the calibration step run between scoring
    (:func:`unigram_logprob_scores`, the NB classifier) and gating
    (:func:`quality_bands`, :func:`curated_mixture`).

    ``percent_rank`` is ``(rank - 1) / (n - 1)`` — a ratio of exact
    small integers, engine-identical UNROUNDED, and tie-stable (equal
    scores share a rank, so no tiebreak column is needed for
    determinism).  One window shuffle on the stratum; a single-row
    stratum calibrates to 0.0 (both engines' convention).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(score_col)
    return docs.withColumn(out_col, F.percent_rank().over(w))


def apply_token_map(
    docs: DataFrame,
    token_map: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite every document with a token-substitution map — the apply
    step of vocabulary normalization (typo canonicalization via
    ``fuzzy_canonical_map``, casefolding tables, deny-list rewrites).

    ``token_map`` is (tok, canonical); tokens absent from the map pass
    through unchanged, so callers hand in only the CHANGED entries and
    the join stays variant-sized, not vocabulary-sized.  Order and
    spacing are preserved exactly: posexplode carries each token's
    position (empty tokens from repeated separators included), the map
    joins by token, and the document reassembles by position — the same
    ordered collect_list reassembly as ``clean_lines``.

    Distributed shape (r15): the rewrite happens IN the token array —
    documents are never exploded into a corpus-sized token stream and
    reassembled (the pre-r15 posexplode → join → ordered-collect_list
    form shuffled and sorted every token of every document to apply a
    variant-sized map; guide §2.3/§8: decide on small rows, keep the
    heavy payload where it is).  Per document, only its DISTINCT tokens
    that ACTUALLY hit the map survive the inner equi-join (AQE
    broadcasts a small map; no explicit hint, so an adversarially large
    map degrades to a shuffle join instead of a driver OOM — the
    ``clean_lines`` r9 lesson as a default); the hits fold into a
    per-doc mini-map (hit-sized groupBy, not corpus-sized), which joins
    back onto the INTACT document row and a ``transform`` over the
    token array applies it position-exactly — order and spacing are
    preserved because token positions never leave their array.  Docs
    with no hits pass through the left join unchanged.  Output:
    (id, text_norm, n_changed).

    ``token_map`` keys must be unique (it is a map; duplicate ``tok``
    rows raised duplicate output rows under the old form and raise
    DUPLICATED_MAP_KEY under this one).

    Null contract: a NULL ``text`` normalizes to ``text_norm = ''`` with
    ``n_changed = 0`` — the document SURVIVES the rewrite (the token
    array of the coalesced empty string is [''], never empty)."""
    arr = tokens_expr(F.coalesce(F.col(text_col), F.lit("")))
    hits = (
        docs.select(
            id_col, F.explode(F.array_distinct(arr)).alias("tok")
        )
        .join(token_map, "tok")
        .where(F.col("canonical") != F.col("tok"))
    )
    per_doc = hits.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "canonical"))
        ).alias("_m")
    )
    # try_element_at, not map[key]: ANSI mode (Spark 4 default) makes a
    # missing map key an error, and almost every token misses the map
    lookup = lambda t: F.try_element_at(F.col("_m"), t)  # noqa: E731
    return docs.join(per_doc, id_col, "left").select(
        id_col,
        F.array_join(
            F.transform(arr, lambda t: F.coalesce(lookup(t), t)), " "
        ).alias("text_norm"),
        F.size(
            F.filter(arr, lambda t: lookup(t).isNotNull())
        ).cast("long").alias("n_changed"),
    )
