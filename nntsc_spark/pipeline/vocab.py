"""Vocabulary-level corpus tooling: distribution drift and BPE
tokenizer induction.

Two jobs every large training-data pipeline runs over its corpus that
are naturally vocabulary-shaped (output bounded by distinct tokens,
never by corpus rows):

- **Drift monitoring**: when a source's token distribution moves away
  from the corpus (a crawler change, an injected spam burst, a language
  shift), mixture weights and quality filters silently rot.
  :func:`source_divergence` scores each source against the corpus
  (KL + Jensen-Shannon) in one pass — the text-side counterpart of the
  IVF index's embedding-drift anchor (similarity.py `ivf_append`).

- **Tokenizer induction**: byte-pair encoding is trained on a WORD
  FREQUENCY dictionary, not the raw corpus — the corpus-scale pass is
  exactly one distributed word count; the merge loop then operates on
  the bounded dictionary (Sennrich et al. 2016's published algorithm,
  which production tokenizer trainers follow, typically over a corpus
  sample).  :func:`bpe_pair_counts` exposes the first merge iteration's
  pair statistics as a queryable table; :func:`bpe_train` runs the full
  loop; :func:`bpe_encode` applies learned merges corpus-wide through
  an Arrow-batched mapInPandas seam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scratch import scratch_persist
from .text import tokens_expr

#: end-of-word marker appended to each word's final symbol before
#: merging (Sennrich et al. 2016) so learned units never span words
EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the corpus — ONE distributed pass (explode into
    a map-side-combinable count); every consumer below is bounded by
    DISTINCT words from here on."""
    return (
        docs.select(F.explode(tokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def source_divergence(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-distribution drift vs the whole corpus:
    ``KL(source || corpus)`` and the symmetric, bounded Jensen-Shannon
    divergence — the mixture-health dashboard row.

    KL(s||c) is finite without smoothing because every source token is
    by construction in the corpus (q > 0 wherever p > 0); JS adds the
    reverse direction against the mixture M = (P+Q)/2 so a source
    MISSING corpus-common tokens also scores.  Both in nats, rounded 4.

    Distributed shape: one explode into ONE (source, word) count
    shuffle; the corpus marginal re-aggregates from that table (never a
    second corpus pass); the per-source sums are map-side combinable
    and the output is #sources rows.

    Output: (source, n_tokens, vocab_size, kl_vs_corpus, js_vs_corpus).
    """
    sw = scratch_persist(
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(tokens_expr(text_col)).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    corpus = sw.groupBy("word").agg(F.sum("cnt").alias("ccnt"))
    totals = sw.groupBy("source").agg(F.sum("cnt").alias("stot"))
    grand = F.lit(float(corpus.agg(F.sum("ccnt")).collect()[0][0] or 0))

    p = F.col("cnt") / F.col("stot")  # P(word | source)
    q = F.col("ccnt") / grand         # P(word | corpus)
    m = (p + q) / 2
    joined = sw.join(corpus, "word").join(totals, "source")
    return (
        joined.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.round(F.sum(p * F.log(p / q)), 4).alias("kl_vs_corpus"),
            # JS needs both directions over the UNION vocabulary; the
            # q-only terms (source missing the word) contribute
            # sum_q(q/2 ln(q/m)) with p=0 -> m=q/2 -> ln 2, i.e.
            # (1 - coverage) * ln2 / 2, where coverage is the corpus
            # mass the source's vocabulary covers — exact, no explicit
            # rows for the missing words needed.
            F.round(
                F.sum(p / 2 * F.log(p / m) + q / 2 * F.log(q / m))
                + (1 - F.sum(q)) * float(0.5) * F.log(F.lit(2.0)),
                4,
            ).alias("js_vs_corpus"),
        )
    )


def _symbols_expr(word_col: str = "word") -> F.Column:
    """A word as its BPE start symbols: characters, last one carrying
    the end-of-word marker."""
    chars = F.split(F.col(word_col), "")
    n = F.size(chars)
    return F.transform(
        chars,
        lambda c, i: F.when(i == n - 1, F.concat(c, F.lit(EOW))).otherwise(c),
    )


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adjacent-symbol pair frequencies over the word dictionary — the
    statistic BPE's first merge maximizes, as a queryable table
    (tokenizer-QA: which character sequences dominate the corpus).

    Corpus cost is the single word-count pass; the pair explosion runs
    over DISTINCT words weighted by frequency (<< corpus rows).

    Output: (left, right, pair_count), one row per distinct pair.
    """
    wc = word_counts(docs, text_col)
    syms = wc.select("cnt", _symbols_expr().alias("syms"))
    # guard single-symbol words: sequence(0, -1) DESCENDS in Spark, and
    # the resulting syms[1] probe is an ANSI out-of-bounds error
    pairs = syms.select(
        "cnt",
        F.explode(
            F.expr(
                "CASE WHEN size(syms) >= 2 THEN "
                "transform(sequence(0, size(syms) - 2), "
                "i -> struct(syms[i] AS left, syms[i + 1] AS right)) "
                "ELSE array() END"
            )
        ).alias("p"),
    )
    return (
        pairs.select("cnt", F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .groupBy("left", "right")
        .agg(F.sum("cnt").cast("long").alias("pair_count"))
    )


def bpe_train(
    docs: DataFrame,
    num_merges: int = 200,
    text_col: str = "text",
    min_freq: int = 2,
    max_words: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus (Sennrich et al.
    2016).  The corpus-scale work is ONE distributed word count; the
    merge loop then runs over the bounded word-frequency dictionary on
    the driver — the published algorithm's own structure (its inner
    loop is inherently sequential: merge k+1's statistics depend on
    merge k's rewrite), and the reason production tokenizers train on
    a frequency dict built from a corpus sample rather than streaming
    the corpus ``num_merges`` times.

    ``min_freq`` floors the dictionary (rare words carry no merge
    signal and dominate dictionary size under Zipf); ``max_words``
    guards the driver collect — raise it deliberately or sample the
    corpus (:func:`~.text.deterministic_sample`) if tripped.

    Ties break lexicographically on the pair, so the learned merge
    table is deterministic for a given corpus.  Returns the ordered
    merge list (rank = list position).
    """
    wc = word_counts(docs, text_col).where(F.col("cnt") >= int(min_freq))
    n = wc.count()
    if n > max_words:
        raise ValueError(
            f"word dictionary has {n} entries > max_words={max_words}; "
            "sample the corpus or raise max_words deliberately"
        )
    vocab: dict[tuple[str, ...], int] = {}
    for r in wc.collect():
        chars = list(r["word"])
        if not chars:
            continue
        chars[-1] = chars[-1] + EOW
        vocab[tuple(chars)] = r["cnt"]

    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + cnt
        if not counts:
            break
        best = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:  # nothing repeats: further merges are noise
            break
        pair = best[0]
        merges.append(pair)
        joined = pair[0] + pair[1]
        out: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            i, acc = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    acc.append(joined)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            key = tuple(acc)
            out[key] = out.get(key, 0) + cnt
        vocab = out
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge table corpus-wide: adds ``bpe_tokens``
    (array<string>) and ``n_bpe_tokens``.

    The merge table broadcasts with the serialized closure (it is
    vocab-sized); encoding is the standard rank-greedy loop per word —
    per-row Python, therefore behind the sanctioned Arrow-batched
    ``mapInPandas`` seam with a per-batch word cache (Zipf: the hot
    words hit the cache, so amortized work per token is far below the
    worst case).  This is the one pipeline stage where per-word
    imperative logic is genuinely irreducible — the merge order IS the
    algorithm — exactly what the multimodal decode seam documents.
    """
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    out_schema = ", ".join(
        f"{name} {dtype}" for name, dtype in docs.dtypes
    ) + ", bpe_tokens array<string>, n_bpe_tokens long"

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word)
        syms[-1] = syms[-1] + EOW
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i, pair in enumerate(zip(syms, syms[1:])):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        cache[word] = syms
        return syms

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks, ntoks = [], []
            for text in pdf[text_col]:
                enc: list[str] = []
                for w in (text or "").split():
                    enc.extend(encode_word(w, cache))
                toks.append(enc)
                ntoks.append(len(enc))
            pdf = pdf.copy()
            pdf["bpe_tokens"] = toks
            pdf["n_bpe_tokens"] = ntoks
            yield pdf

    return docs.mapInPandas(run, out_schema)


def distinct_ngram_diversity(
    docs: DataFrame, max_n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-source distinct-n diversity (the distinct-1/2/3 metrics of
    Li et al. 2016): for each n, the share of n-gram OCCURRENCES that
    are distinct within the source — low values flag template-heavy or
    self-repetitive sources before they flood a training mix (the
    corpus-level sibling of the per-doc Gopher repetition gates,
    text.repetition_features).

    One pass: each document explodes its (n, gram) occurrences for all
    n <= max_n, one map-side-combinable count per (source, n, gram) —
    vocabulary-sized after combine — then a per-(source, n) rollup.
    Nothing is sorted; nothing collects.

    Only COUNTS survive, so the gram text never needs to cross the
    wire: occurrences are keyed on an 8-byte hash (the shuffle-bytes
    move proven on the exact-Jaccard intersection joins, dedup.py) —
    for high-n grams the distinct set is nearly occurrence-sized, so
    an 8-byte key vs a gram string is most of the shuffle.  Unlike the
    dedup/sampler hashes, the hash VALUE never reaches the output or
    any selection decision — only its distinctness does — so this is
    the one spot that does not need the portable md5 chain the DuckDB
    oracles replay: ``xxhash64`` gives the same 8-byte key width for a
    fraction of the per-gram CPU (md5 + hex substring + base-16 conv
    was the dominant per-token cost of this operator: 2.15 s -> 0.9 s
    noop at sf0.1, guide §4.1 — prefer cheap built-ins inside codegen).
    Both engines' counts equal the true distinct gram counts absent
    collisions; collision risk at 2^64 is birthday-negligible below
    ~1e9 distinct grams per (source, n) and would only merge two gram
    counts, nudging distinct_ngrams down by one (verified
    collision-free against the md5 oracle at sf0.001/0.01/0.1).

    Output: (source, n, total_ngrams, distinct_ngrams, distinct_ratio
    rounded 4), one row per source per n.
    """
    # per-n guard: sequence(1, 0) is DESCENDING in Spark, so a doc
    # shorter than n would slice from position 0 and fail — emit none
    grams = F.expr(
        "flatten(transform(sequence(1, {mx}), "
        "n -> CASE WHEN size(_l) >= n THEN "
        "transform(sequence(1, size(_l) - n + 1), "
        "i -> named_struct('n', n, 'g', "
        "xxhash64(array_join(slice(_l, i, n), ' ')))) "
        "ELSE array() END))".format(mx=int(max_n))
    )
    occ = (
        docs.select(
            "source", F.split(F.col(text_col), " ").alias("_l")
        )
        .select("source", F.explode(grams).alias("_g"))
        .select(
            "source",
            F.col("_g.n").alias("n"),
            F.col("_g.g").cast("long").alias("g"),
        )
    )
    per_gram = occ.groupBy("source", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_gram.groupBy("source", "n").agg(
        F.sum("cnt").cast("long").alias("total_ngrams"),
        F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
        F.round(
            F.count(F.lit(1)) / F.sum("cnt").cast("double"), 4
        ).alias("distinct_ratio"),
    )


def token_cooccurrence_edges(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Undirected adjacent-token co-occurrence graph, collapsed to
    weighted edges: (src, dst, w) with both directions materialized.

    One explode into one (src, dst) count shuffle — the edge table is
    bounded by OBSERVED adjacencies (<= corpus token count, usually far
    below vocab^2), the same vocabulary-shaped output contract as the
    rest of this module."""
    pairs = (
        docs.select(F.split(F.col(text_col), " ").alias("_t"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_t) - 2), "
                    "i -> struct(element_at(_t, i + 1) AS a, "
                    "element_at(_t, i + 2) AS b))"
                )
            ).alias("_p")
        )
        .select("_p.a", "_p.b")
    )
    both = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return both.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))


def textrank_keywords(
    docs: DataFrame,
    text_col: str = "text",
    damping: float = 0.85,
    iters: int = 5,
    topk: int = 50,
) -> DataFrame:
    """TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over
    the undirected token co-occurrence graph, the unsupervised keyword/
    keyphrase extractor training-data curators run to profile what a
    source is "about".

    rank_i <- (1-d) + d * sum_j nw_ji * rank_j, with nw the
    weight-normalized edge (w / weighted out-degree, computed ONCE
    before the loop so both engines run the identical arithmetic).
    Ranks are rounded to 6 decimals each iteration — that pins every
    iteration's state to values both Spark and the DuckDB oracle
    reproduce exactly, so float drift cannot compound across
    iterations.

    Scale: state is vocabulary-sized every iteration (one token-keyed
    shuffle per iteration, edges persisted once); the corpus is touched
    exactly once to build the edges.  Undirected edges mean no dangling
    mass.  Output: (token, rank) top-``topk``, rank desc / token asc.
    """
    edges = token_cooccurrence_edges(docs, text_col)
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("wd"))
    norm = scratch_persist(
        edges.join(wdeg, "src").select(
            "src", "dst", (F.col("w") / F.col("wd")).alias("nw")
        )
    )
    ranks = wdeg.select(F.col("src").alias("token"), F.lit(1.0).alias("rank"))
    base = float(1.0 - damping)
    for _ in range(int(iters)):
        ranks = (
            norm.join(ranks, norm["src"] == ranks["token"])
            .groupBy("dst")
            .agg(
                F.round(
                    F.lit(base)
                    + F.lit(float(damping))
                    * F.sum(F.col("rank") * F.col("nw")),
                    6,
                ).alias("rank")
            )
            .select(F.col("dst").alias("token"), "rank")
        )
    return ranks.orderBy(F.desc("rank"), F.asc("token")).limit(int(topk))
