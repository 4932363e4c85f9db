"""Training-data pipeline operator tests (dedup/similarity/text/multimodal)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nntsc_spark.pipeline.dedup import (
    exact_duplicates,
    hamming_distance,
    md5_long,
    minhash_near_duplicates,
    minhash_signatures,
    shingles,
    simhash_signatures,
)
from nntsc_spark.pipeline.multimodal import (
    documents_as_media,
    extract_features,
    media_repartition,
)
from nntsc_spark.pipeline.similarity import (
    brute_force_near_duplicates,
    brute_force_topk,
    embedding_near_duplicates,
    lsh_topk,
)
from nntsc_spark.pipeline.text import (
    fingerprint,
    quality_features,
    token_counts,
)
from nntsc_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different words entirely unrelated text here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = exact_duplicates(docs).collect()
    assert len(out) == 3  # docs 0+1 collapse
    dup = [r for r in out if r["n_copies"] == 2][0]
    assert dup["survivor_doc_id"] == 0


def test_minhash_finds_near_dups(docs):
    pairs = {(r.d1, r.d2): r.jaccard for r in minhash_near_duplicates(docs).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup caught
    assert not any(3 in p for p in pairs)  # unrelated doc untouched


def test_minhash_signature_determinism(spark, docs):
    sh = shingles(docs)
    a = minhash_signatures(sh, 4).orderBy("doc_id").collect()
    b = minhash_signatures(sh, 4).orderBy("doc_id").collect()
    assert a == b


def test_connected_components_chain_triangle_and_pair(spark):
    from nntsc_spark.pipeline.dedup import connected_components

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "d1 long, d2 long",
    )
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches localCheckpoint -> reliable checkpoint():
    identical labels, and the iteration state actually lands in the
    directory (so executor loss mid-algorithm is survivable, as the
    docstring promises)."""
    from nntsc_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "d1 long, d2 long",
    )
    ckdir = str(tmp_path / "cc-ckpt")
    got = {
        r.node: r.label
        for r in connected_components(edges, checkpoint_dir=ckdir).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    import os

    written = [
        os.path.join(dp, f)
        for dp, _dn, fns in os.walk(ckdir)
        for f in fns
    ]
    assert written, "reliable checkpoint wrote nothing to checkpoint_dir"


def test_connected_components_nonconvergence_raises(spark):
    from nntsc_spark.pipeline.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_connected_components_memo_reuses_equal_plans(spark):
    """The r15 seam memo: a semantically-equal re-construction gets the
    ALREADY-COMPUTED label table back (same DataFrame object — the loop
    did not re-run), a different graph gets its own fixpoint, and the
    memo never crosses checkpoint flavors or round budgets."""
    from nntsc_spark.pipeline.dedup import connected_components

    # two separately-parallelized local frames are NOT semantically
    # equal (distinct RDD roots — correctly never memo-shared); the
    # production pattern is re-DERIVING a plan over one stable source,
    # as every bench rep and composed capstone does over parquet scans
    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 long, d2 long"
    )
    cc1 = connected_components(base.where("d1 >= 1"))
    cc2 = connected_components(base.where("d1 >= 1"))
    assert cc2 is cc1  # memo hit: identical object, no second fixpoint
    assert {r.node: r.label for r in cc2.collect()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
    }
    # different graph: no cross-hit, correct labels
    e3 = spark.createDataFrame([(1, 2), (2, 3), (3, 11)], "d1 long, d2 long")
    cc3 = connected_components(e3)
    assert cc3 is not cc1
    assert {r.node: r.label for r in cc3.collect()} == {
        1: 1, 2: 1, 3: 1, 11: 1,
    }
    # a different max_iter budget is a different key (the converged
    # memo entry must not mask the nonconvergence contract)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "d1 long, d2 long"
    )
    assert connected_components(chain).count() == 8
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_scratch_checkpoint_memoizes_equal_plans(spark):
    """scratch_checkpoint hands semantically-equal inputs the SAME
    checkpointed DataFrame (downstream plans stay cache-compatible
    across re-constructions); different inputs get distinct
    materializations with the right rows."""
    from nntsc_spark.scratch import scratch_checkpoint

    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, t string")
    c1 = scratch_checkpoint(d1.select("id", "t"))
    c2 = scratch_checkpoint(d1.select("id", "t"))  # re-derived, equal plan
    assert c2 is c1
    other = scratch_checkpoint(d1.where("id = 1").select("id", "t"))
    assert other is not c1
    assert sorted((r.id, r.t) for r in c1.collect()) == [(1, "a"), (2, "b")]
    assert [(r.id, r.t) for r in other.collect()] == [(1, "a")]


def test_reset_scratch_clears_memo_and_pool(spark):
    """reset_scratch (the r16 bench's between-query hook) empties the seam
    memo and the scratch pool: a post-reset re-construction computes fresh
    (new object, same rows), and the pool holds no persisted handles."""
    from nntsc_spark import scratch
    from nntsc_spark.pipeline import dedup as dd

    base = spark.createDataFrame([(1, 2), (2, 3)], "d1 long, d2 long")
    cc1 = dd.connected_components(base.where("d1 >= 1"))
    ck1 = scratch.scratch_checkpoint(base.select("d1"))
    scratch.scratch_persist(base.select("d2"))
    assert scratch._seams and scratch._pool
    dd.reset_scratch()
    assert not scratch._seams and not scratch._pool
    cc2 = dd.connected_components(base.where("d1 >= 1"))
    assert cc2 is not cc1  # recomputed, not served from the cleared memo
    assert {r.node: r.label for r in cc2.collect()} == {1: 1, 2: 1, 3: 1}
    assert scratch.scratch_checkpoint(base.select("d1")) is not ck1


def test_reset_scratch_keeps_plan_only_memos(spark, sf_dir):
    """reset_scratch releases the pool and the seam memo and nothing else:
    parsed expressions and table loads hold no data and stay valid for
    the session, so a harness resetting between queries does not re-pay
    SQL parsing or parquet footer reads."""
    from nntsc_spark import scratch

    base = spark.range(4)
    scratch.scratch_persist(base.selectExpr("id * 2 AS x"))
    scratch.scratch_checkpoint(base.selectExpr("id * 3 AS y"))
    col = scratch.expr_cached("id + 1")
    docs = load_table(spark, sf_dir, "documents")
    scratch.reset_scratch()
    assert not scratch._pool and not scratch._seams
    assert scratch.expr_cached("id + 1") is col
    assert load_table(spark, sf_dir, "documents") is docs


def test_reset_scratch_invalidates_memo_after_parquet_append(spark, tmp_path):
    """A parquet path APPENDED within one session re-reads as a plan
    `sameResult`-equal to the pre-append read, but over more files.  The
    seam memo keys on the plan's input files too, so a memoized consumer
    (connected_components here) recomputes and sees the appended data
    without any reset, while a re-read of an unchanged path still hits.
    reset_scratch() stays the explicit hook: after it the consumer
    recomputes again, with the same answer."""
    import nntsc_spark.pipeline.dedup as dd

    p = str(tmp_path / "edges.parquet")
    spark.createDataFrame([(1, 2)], "d1 long, d2 long").write.mode(
        "overwrite"
    ).parquet(p)
    cc1 = dd.connected_components(spark.read.parquet(p))
    assert sorted(r.node for r in cc1.collect()) == [1, 2]
    assert dd.connected_components(spark.read.parquet(p)) is cc1
    spark.createDataFrame([(10, 11)], "d1 long, d2 long").write.mode(
        "append"
    ).parquet(p)
    seen = dd.connected_components(spark.read.parquet(p))
    assert seen is not cc1
    assert sorted(r.node for r in seen.collect()) == [1, 2, 10, 11]
    dd.reset_scratch()
    fresh = dd.connected_components(spark.read.parquet(p))
    assert fresh is not seen
    assert sorted(r.node for r in fresh.collect()) == [1, 2, 10, 11]


def test_dedup_clusters_survivors(docs):
    from nntsc_spark.pipeline.dedup import dedup_clusters

    out = {r.doc_id: r for r in dedup_clusters(docs).collect()}
    # docs 0,1 exact dups + 2 near dup -> one cluster rooted at 0; doc 3
    # is a singleton and must be absent
    assert set(out) == {0, 1, 2}
    assert all(r.cluster_id == 0 and r.n_members == 3 for r in out.values())
    assert out[0].is_survivor and not out[1].is_survivor and not out[2].is_survivor


def test_leakage_safe_split_is_cluster_atomic(spark, docs):
    """r14: the split draw keys on the near-dup cluster representative,
    so (a) the three splits exactly partition the corpus, (b) no
    near-dup pair straddles splits — the property a per-doc hash split
    cannot give — and (c) the assignment is deterministic."""
    from nntsc_spark.pipeline.dedup import (
        leakage_safe_split,
        minhash_near_duplicates,
    )

    out = {r.doc_id: r for r in leakage_safe_split(docs).collect()}
    # exact partition: every doc, exactly one split label each
    assert set(out) == {0, 1, 2, 3}
    assert all(r.split in ("train", "validation", "test") for r in out.values())
    # cluster-atomicity: docs 0,1,2 form one near-dup component -> one
    # rep (the min id, 0) and therefore one shared split; singleton 3
    # keys on itself
    assert {out[i].rep_id for i in (0, 1, 2)} == {0}
    assert len({out[i].split for i in (0, 1, 2)}) == 1
    assert out[3].rep_id == 3
    # the invariant stated generally: no emitted near-dup pair crosses
    for p in minhash_near_duplicates(docs).collect():
        assert out[p.d1].split == out[p.d2].split
    # deterministic across re-computation
    again = {r.doc_id: r.split for r in leakage_safe_split(docs).collect()}
    assert again == {k: v.split for k, v in out.items()}
    # bad fractions refuse loudly
    with pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(docs, fractions=(0.8, 0.1, 0.2))


def test_split_leakage_report_counts_cross_split_pairs(spark, docs):
    """The audit counterpart: hand-planted labels put the near-dup
    trio 0,1,2 across train/test -> the off-diagonal rows count the
    leaked pairs exactly; the safe split audits to zero off-diagonal."""
    from nntsc_spark.pipeline.dedup import (
        leakage_safe_split,
        split_leakage_report,
    )

    labels = spark.createDataFrame(
        [(0, "train"), (1, "test"), (2, "train"), (3, "test")],
        "doc_id long, split string",
    )
    labeled = docs.join(labels, "doc_id")
    rep = {
        (r.split_a, r.split_b): r.n_pairs
        for r in split_leakage_report(labeled).collect()
    }
    # pairs among {0,1,2}: (0,1) train-test, (0,2) train-train,
    # (1,2) train-test; doc 3 is a singleton and contributes nothing
    assert rep == {("test", "train"): 2, ("train", "train"): 1}

    safe = split_leakage_report(leakage_safe_split(docs)).collect()
    assert all(r.split_a == r.split_b for r in safe)


def test_ngram_jaccard_df_cap(spark):
    from nntsc_spark.pipeline.dedup import ngram_jaccard_pairs

    # docs 2..11: identical one-shingle texts -> that shingle's df is 10 and
    # carries 45 all-pairs matches; docs 0/1: a genuine near-dup pair whose
    # overlap rides on df<=2 shingles only.
    rows = [(i, "common shingle here") for i in range(2, 12)]
    rows += [
        (0, "zebra yak xylophone walrus vulture alpha"),
        (1, "zebra yak xylophone walrus vulture beta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r.d1, r.d2) for r in ngram_jaccard_pairs(docs, max_df=None).collect()}
    assert (0, 1) in uncapped
    assert len(uncapped) == 1 + 45  # hot shingle fans out to C(10,2) pairs

    capped = {(r.d1, r.d2): r.jaccard for r in ngram_jaccard_pairs(docs, max_df=4).collect()}
    # low-df pair survives exactly; hot-shingle pairs are gone (recall-only loss)
    assert set(capped) == {(0, 1)}
    assert capped[(0, 1)] == 0.6  # 3 shared / 5 union -> sizes stay uncapped

    # the cap bounds the self-join input: sum C(df,2) drops from 45+3 to 3
    sh = shingles(docs)
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    fanout = lambda cap: (
        df_counts.where(F.lit(cap).isNull() | (F.col("df") <= cap))
        .select(F.sum(F.expr("df * (df - 1) / 2")))
        .collect()[0][0]
    )
    assert fanout(None) == 48 and fanout(4) == 3


def test_ngram_jaccard_shuffle_estimate_formula():
    """Capacity planning as code: hand-computed example, per-node scaling,
    and the cap's linearity guarantee (pair term vanishes at max_df=1)."""
    from nntsc_spark.pipeline.dedup import ngram_jaccard_shuffle_estimate

    est = ngram_jaccard_shuffle_estimate(
        n_docs=1000, avg_tokens=103, max_df=5, n_nodes=1, n=3
    )
    assert est["shingle_rows"] == 1000 * 101
    assert est["index_shuffle_bytes"] == 2 * 101_000 * 16
    assert est["pair_rows_upper_bound"] == 101_000 * 2  # (5-1)/2 per row
    assert est["total_shuffle_bytes_upper_bound"] == (
        est["index_shuffle_bytes"] + est["pair_shuffle_bytes_upper_bound"]
    )
    # bytes divide across nodes
    ten = ngram_jaccard_shuffle_estimate(1000, 103, 5, n_nodes=10)
    assert ten["per_node_bytes"] == est["per_node_bytes"] / 10
    # max_df=1 -> no qualifying partner -> pair term is exactly zero
    solo = ngram_jaccard_shuffle_estimate(1000, 103, 1)
    assert solo["pair_rows_upper_bound"] == 0
    # the pair bound is LINEAR in corpus size at fixed max_df (the cap's
    # entire purpose): 10x docs -> 10x pair rows, not 100x
    big = ngram_jaccard_shuffle_estimate(10_000, 103, 5)
    assert big["pair_rows_upper_bound"] == 10 * est["pair_rows_upper_bound"]


def test_simhash_similar_docs_close(docs):
    sig = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    df = docs.sparkSession.createDataFrame(
        [(sig[0], sig[1]), (sig[0], sig[2]), (sig[0], sig[3])], "a long, b long"
    )
    d01, d02, d03 = [
        r[0] for r in df.select(hamming_distance(F.col("a"), F.col("b"))).collect()
    ]
    assert d01 == 0  # identical text -> identical simhash
    assert d02 < d03  # near-dup closer than unrelated


def test_brute_force_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(emb, [0], k=2).collect()
    assert [r.neighbor_id for r in out] == [3, 1]  # by cosine to [1,0]
    assert out[0].rank == 1 and out[0].cosine > out[1].cosine


def test_lsh_recall_against_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(8))
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qids, 5).collect()}
    ls = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, qids, 5).collect()}
    assert len(bf & ls) / len(bf) >= 0.5  # approximate, but far above chance


def test_ivf_recall_against_brute_force(spark, sf_dir):
    from nntsc_spark.pipeline.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(8))
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qids, 5).collect()}
    iv_rows = ivf_topk(emb, qids, k=5, nlist=8, nprobe=2).collect()
    iv = {(r.query_id, r.neighbor_id) for r in iv_rows}
    assert len(iv & bf) / len(bf) >= 0.5  # nprobe/nlist = 1/4 of the corpus scanned
    # every query got a full k and ranks are dense per query
    per_q = {}
    for r in iv_rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 6)) for v in per_q.values())


def test_kmeans_parallel_ivf_recall_and_determinism(spark, sf_dir):
    """k-means|| quantizer plugged into ivf_topk: recall vs brute force
    >= 0.9 at nprobe=4 and a deterministic build (same corpus + seed ->
    identical centroids).

    Recall bars are set by MEASURED ceilings on this 500-vector synthetic
    corpus (10 label clusters whose neighborhoods straddle cell
    boundaries), not by aspiration: a numpy experiment sweeping
    spherical-kmeans restarts (5 restarts x 50 Lloyd iterations, full
    data) tops out at 0.9 recall@nprobe=4 for nlist=8 and 0.8 for
    nlist>=10, with typical converged runs at 0.65-0.8 — and the
    lowest-id sampler can beat converged kmeans here by luck (0.95 at the
    same ~50% scanned fraction), because at 500 points cell-boundary
    noise dominates quantizer quality.  So the assertions are: the
    production bar (>= 0.9) where nprobe covers enough cells to make it
    data-attainable (nprobe=6), a floor of 0.7 at nprobe=4, and
    monotonicity in nprobe — plus determinism and unit-norm structure,
    which ARE properties of the builder rather than of the corpus."""
    from nntsc_spark.pipeline.similarity import ivf_topk, kmeans_parallel_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(8))
    cents = kmeans_parallel_centroids(emb, nlist=8, rounds=3, lloyd_iters=2, seed=7)
    assert len(cents) == 8 and all(len(v) == 64 for _, v in cents)
    for _, v in cents:  # spherical: unit centroids
        assert sum(x * x for x in v) == pytest.approx(1.0, abs=1e-6)
    again = kmeans_parallel_centroids(emb, nlist=8, rounds=3, lloyd_iters=2, seed=7)
    assert cents == again  # hash-derived sampling, no wall-clock randomness

    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qids, 5).collect()}

    def recall(nprobe: int) -> float:
        iv = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                emb, qids, k=5, nlist=8, nprobe=nprobe, centroids=cents
            ).collect()
        }
        return len(iv & bf) / len(bf)

    r4, r6 = recall(4), recall(6)
    assert r4 >= 0.7
    assert r6 >= 0.9
    assert r6 >= r4  # more probed cells never lose neighbors


def test_numpy_neardup_matches_expression_math(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.v1, r.v2): r.cosine for r in
           brute_force_near_duplicates(emb, threshold=0.9).collect()}
    assert set(out) == {(0, 1)}
    assert out[(0, 1)] == pytest.approx(0.9902, abs=1e-4)


def test_lsh_neardup_recall_on_planted_dups(spark, sf_dir):
    # plant exact-ish duplicates (tiny perturbation -> cosine ~1) and check
    # the registered LSH path recovers what brute force (the exact recall
    # oracle) finds at the same threshold
    base = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .limit(100)
    )
    dup = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.0001)
        ).alias("embedding"),
    )
    emb = base.unionByName(dup)
    bf = {(r.v1, r.v2) for r in
          brute_force_near_duplicates(emb, threshold=0.95).collect()}
    lsh = {(r.v1, r.v2) for r in
           embedding_near_duplicates(emb, threshold=0.95).collect()}
    assert bf  # the planted pairs exist
    assert lsh <= bf  # exact verify: no false positives above threshold
    assert len(lsh & bf) / len(bf) >= 0.9  # multi-table recall


def test_quality_and_fingerprint_shapes(docs):
    q = {r.doc_id: r for r in quality_features(docs).collect()}
    assert q[0].n_tokens == 9 and q[0].n_stopwords == 2  # two 'the'
    f = fingerprint(docs).collect()
    fps = {r.doc_id: r.fingerprint for r in f}
    assert fps[0] == fps[1] and fps[0] != fps[3]


def test_token_counts(spark):
    rows = [
        (0, "the quick brown fox"),  # 4 ws tokens, 4 bpeish
        (1, "Hello, world! 42 foo-bar"),  # punctuation + digits split out
        (2, "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in token_counts(docs).collect()}
    assert out[0].n_ws_tokens == 4 and out[0].n_bpeish_tokens == 4
    # hello , world ! 42 foo - bar -> 8 regex pre-tokens, 4 ws tokens
    assert out[1].n_ws_tokens == 4 and out[1].n_bpeish_tokens == 8
    assert out[2].n_bpeish_tokens == 1
    assert out[0].chars_per_token == pytest.approx(19 / 4, abs=1e-4)


def test_multimodal_plumbing(docs):
    media = documents_as_media(docs)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[0].n_bytes == len("the quick brown fox jumps over the lazy dog")
    assert feats[0].checksum == feats[1].checksum  # same bytes
    assert feats[0].feat_mean is not None
    # repartition by byte budget returns same rows
    assert media_repartition(media, target_bytes=64).count() == 4


def test_media_repartition_uses_file_metadata_not_a_scan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    # file-backed: partition count must come from stat-ed parquet bytes
    # (hundreds of KB / 1 KB budget >> default parallelism), proving the
    # metadata path was taken; a non-file frame has no metadata and pays
    # the single aggregation pass, still honoring the byte budget.
    parts = media_repartition(media, target_bytes=1024).rdd.getNumPartitions()
    assert parts > spark.sparkContext.defaultParallelism
    mem = spark.createDataFrame(
        [(i, b"x" * 512) for i in range(8)], "media_id long, content binary"
    )
    fallback = media_repartition(mem, target_bytes=1024).rdd.getNumPartitions()
    assert fallback == 8 * 512 // 1024 + 1  # budget-derived, not parallelism


def test_multimodal_real_decode_raises(docs):
    import pytest as _pytest

    media = documents_as_media(docs)
    with _pytest.raises(Exception, match="NotImplementedError|media decoding"):
        extract_features(media, fake_decode=False).collect()


def test_multimodal_resize_deterministic(docs):
    from nntsc_spark.pipeline.multimodal import (
        documents_as_media,
        resize_media,
    )

    media = documents_as_media(docs)
    out = {r.media_id: r for r in resize_media(media, 4, 2).collect()}
    assert all(r.width == 4 and r.height == 2 for r in out.values())
    assert all(len(r.content) == 8 for r in out.values() if r.content)
    # nearest-neighbor on the 8x8 fake grid: row y=0 samples source row 0,
    # x=0 samples source col 0 -> first output byte == first source byte
    src = {r.media_id: bytes(r.content)[:64] for r in media.collect()}
    assert bytes(out[0].content)[0] == src[0][0]
    # identical payloads resize identically
    assert bytes(out[0].content) == bytes(out[1].content)


def test_multimodal_frame_sampling(spark):
    from nntsc_spark.pipeline.multimodal import sample_frames

    # one "video" of 5 frames x 4 bytes, one short clip, one NULL payload
    rows = [
        (1, b"".join(bytes([i] * 4) for i in range(5))),
        (2, b"\x09\x09"),
        (3, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    out = sample_frames(media, every_n=2, max_frames=8, frame_bytes=4).collect()
    got = {(r.media_id, r.frame_idx): bytes(r.content) for r in out}
    # video 1: frames 0, 2, 4 sampled (every 2nd of 5)
    assert set(k for k in got if k[0] == 1) == {(1, 0), (1, 2), (1, 4)}
    assert got[(1, 2)] == b"\x02\x02\x02\x02"
    # short clip: single (partial) frame
    assert set(k for k in got if k[0] == 2) == {(2, 0)}
    assert got[(2, 0)] == b"\x09\x09"
    # NULL payload contributes no rows
    assert not any(k[0] == 3 for k in got)


def test_deterministic_sample_reproducible_and_nested(spark, sf_dir):
    from nntsc_spark.pipeline.text import deterministic_sample

    docs = load_table(spark, sf_dir, "documents")
    a1 = {r.doc_id for r in deterministic_sample(docs, 0.1, salt="s1").collect()}
    a2 = {r.doc_id for r in deterministic_sample(docs, 0.1, salt="s1").collect()}
    assert a1 == a2 and 0 < len(a1) < docs.count()  # stable, non-trivial
    small = {r.doc_id for r in deterministic_sample(docs, 0.01, salt="s1").collect()}
    assert small <= a1  # rates nest for a fixed salt
    other = {r.doc_id for r in deterministic_sample(docs, 0.1, salt="s2").collect()}
    assert other != a1  # different salt -> different draw
    # repartitioning must not change membership (the df.sample failure mode)
    rep = {r.doc_id for r in
           deterministic_sample(docs.repartition(7), 0.1, salt="s1").collect()}
    assert rep == a1


def test_pii_scrub_patterns(spark):
    from nntsc_spark.pipeline.text import pii_scrub

    rows = [
        (0, "contact bob@example.com or jane.doe+x@sub.domain.org today"),
        (1, "server at 10.0.255.3 answered"),
        (2, "call +1 (555) 123-4567 now"),
        (3, "nothing sensitive here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert out[0].n_email == 2 and "<EMAIL>" in out[0].scrubbed_text
    assert "bob@" not in out[0].scrubbed_text
    assert out[1].n_ipv4 == 1 and out[1].scrubbed_text == "server at <IP> answered"
    assert out[2].n_phone == 1 and "<PHONE>" in out[2].scrubbed_text
    assert out[3].scrubbed_text == "nothing sensitive here"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (0, 0, 0)


def test_repetition_features_known_values(spark):
    from nntsc_spark.pipeline.text import repetition_features

    rows = [
        (0, "spam spam spam spam"),             # fully repetitive
        (1, "all tokens here are unique now"),  # no repetition
        (2, "ab ab cd"),                        # partial
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_features(docs).collect()}

    r0 = out[0]
    assert (r0.n_tokens, r0.dup_token_ratio, r0.top_token_ratio) == (4, 0.75, 1.0)
    assert r0.dup_2gram_ratio == pytest.approx(1 - 1 / 3, abs=1e-4)
    assert r0.is_repetitive

    r1 = out[1]
    assert r1.dup_token_ratio == 0.0 and r1.dup_2gram_ratio == 0.0
    assert not r1.is_repetitive

    r2 = out[2]
    # tokens: ab ab cd -> 3 total, 2 distinct, top 2
    assert r2.dup_token_ratio == pytest.approx(1 - 2 / 3, abs=1e-4)
    assert r2.top_token_ratio == pytest.approx(2 / 3, abs=1e-4)
    # 2-grams: "ab ab", "ab cd" -> all distinct
    assert r2.dup_2gram_ratio == 0.0


def test_pack_sequences_greedy_fill_and_truncation(spark):
    from nntsc_spark.pipeline.packing import SEQ_STRIDE, pack_sequences

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    # one group (n_groups=1) so the greedy fold is fully observable:
    # capacity 10; lengths 4,4,3,12,5 -> seqs [4+4], [3], [12 trunc], [5]
    rows = [(0, words(4)), (1, words(4)), (2, words(3)), (3, words(12)), (4, words(5))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pack_sequences(docs, capacity=10, n_groups=1).collect()}

    assert [out[i].seq_id for i in range(5)] == [0, 0, 1, 2, 3]
    assert [out[i].seq_offset for i in range(5)] == [0, 4, 0, 0, 0]
    assert out[3].truncated and not out[0].truncated
    assert out[3].n_tokens == 12

    # grouped run: ids land in their own group's stride range, offsets
    # restart per group
    g = pack_sequences(docs, capacity=10, n_groups=2).collect()
    for r in g:
        assert r.grp == r.doc_id % 2
        assert r.seq_id // SEQ_STRIDE == r.grp


def test_pack_sequences_budget_utilization(spark, sf_dir):
    from nntsc_spark.pipeline.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    out = pack_sequences(docs, capacity=256).cache()
    # no sequence exceeds the budget (untruncated docs only)
    over = (
        out.where(~F.col("truncated"))
        .groupBy("seq_id")
        .agg(F.sum("n_tokens").alias("tot"))
        .where(F.col("tot") > 256)
        .count()
    )
    assert over == 0
    # packing must actually pack: far fewer sequences than documents
    n_docs = out.count()
    n_seqs = out.select("seq_id").distinct().count()
    assert n_seqs < n_docs / 2


def test_contamination_exact_and_near_channels(spark):
    from nntsc_spark.pipeline.dedup import contamination

    base = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [
            (0, base),
            (1, "totally unrelated training content goes right here folks"),
            (2, base + " cat"),  # near-source for test doc 11
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (10, base),          # exact leak of train 0
            (11, base + " rat"), # near leak of train 0/2
            (12, "clean evaluation document with fresh unseen words only"),
        ],
        "doc_id long, text string",
    )
    out = contamination(train, test).collect()
    by_pair = {(r.test_doc_id, r.train_doc_id): r for r in out}

    assert by_pair[(10, 0)].match_type == "exact"
    assert by_pair[(10, 0)].jaccard == 1.0
    near_hits = {p for p, r in by_pair.items() if r.match_type == "near"}
    assert any(p[0] == 11 for p in near_hits)  # near leak caught
    assert not any(p[0] == 12 for p in by_pair)  # clean doc untouched
    # no train-vs-train or test-vs-test pairs ever
    assert all(p[0] >= 10 and p[1] < 10 for p in by_pair)


def test_chunk_documents_coverage_and_overlap(spark):
    from nntsc_spark.pipeline.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([(0, text), (1, "short doc")],
                                 "doc_id long, text string")
    out = sorted(chunk_documents(docs, chunk_tokens=4, overlap=1).collect(),
                 key=lambda r: (r.doc_id, r.chunk_idx))
    d0 = [r for r in out if r.doc_id == 0]
    # starts advance by 3: [w0..w3], [w3..w6], [w6..w9]
    assert [r.chunk_text.split() for r in d0] == [
        ["w0", "w1", "w2", "w3"],
        ["w3", "w4", "w5", "w6"],
        ["w6", "w7", "w8", "w9"],
    ]
    assert [r.n_chunk_tokens for r in d0] == [4, 4, 4]
    # every token appears in at least one chunk; consecutive chunks share
    # exactly the overlap token
    assert set(text.split()) == {t for r in d0 for t in r.chunk_text.split()}
    # a doc shorter than one chunk yields exactly one (short) chunk
    d1 = [r for r in out if r.doc_id == 1]
    assert len(d1) == 1 and d1[0].chunk_text == "short doc"
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_ivf_persistent_index_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    from nntsc_spark.pipeline.similarity import (
        ivf_build_index,
        ivf_query_index,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(6))
    ivf_build_index(emb, str(tmp_path / "ivf"), nlist=8)

    inline = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
              for r in ivf_topk(emb, qids, k=5, nlist=8, nprobe=2).collect()}
    persisted_df = ivf_query_index(spark, str(tmp_path / "ivf"), qids, k=5, nprobe=2)
    persisted = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
                 for r in persisted_df.collect()}
    assert persisted == inline

    # the probe join on the PARTITION column must trigger dynamic partition
    # pruning — unprobed cell directories are never read
    plan = persisted_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_ivf_append_matches_full_rebuild_and_flags_drift(spark, sf_dir, tmp_path):
    """Incremental maintenance: build on half the corpus, append the rest
    — queries against the appended index must match a full rebuild over
    the whole corpus with the SAME quantizer; and a distribution-shifted
    batch trips the drift flag."""
    from nntsc_spark.pipeline.similarity import (
        centroid_rows,
        ivf_append,
        ivf_build_index,
        ivf_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    # quantizer from half A (ids < 8 are even/odd mixed -> derive from A
    # explicitly so both indexes share it)
    cents = centroid_rows(half_a, nlist=8)

    ivf_build_index(half_a, str(tmp_path / "inc"), nlist=8, centroids=cents)
    res = ivf_append(half_b, str(tmp_path / "inc"), batch_id=1)
    assert res["n_appended"] == half_b.count()
    assert not res["needs_requantization"]  # same distribution, no drift

    ivf_build_index(emb, str(tmp_path / "full"), nlist=8, centroids=cents)

    qids = list(range(6))
    inc = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
           for r in ivf_query_index(
               spark, str(tmp_path / "inc"), qids, k=5, nprobe=2).collect()}
    full = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
            for r in ivf_query_index(
                spark, str(tmp_path / "full"), qids, k=5, nprobe=2).collect()}
    assert inc == full and inc

    # drift needs a corpus with real cluster structure (the synthetic
    # embeddings are isotropic: ANY batch scores the same against any
    # quantizer, which is itself the no-drift case and stays unflagged
    # above).  Build on vectors clustered around two axes -> mean best
    # cosine ~1; append a batch on a THIRD axis -> best cosine ~0 -> drift.
    clustered = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.01 * i]) for i in range(8)]
        + [(i, [0.0, 1.0, 0.0, 0.01 * i]) for i in range(8, 16)],
        "vec_id long, embedding array<double>",
    )
    ivf_build_index(clustered, str(tmp_path / "drift"), nlist=2)
    moved = spark.createDataFrame(
        [(100 + i, [0.0, 0.0, 1.0, 0.01 * i]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    res2 = ivf_append(moved, str(tmp_path / "drift"), batch_id=1)
    assert res2["needs_requantization"]
    assert res2["mean_best_cosine"] < res2["build_mean_best_cosine"] - 0.05


def test_ivf_append_exactly_once_and_rebuild_resets_stats(spark, sf_dir, tmp_path):
    """r6 verdict task: a double-run of the same append batch must yield
    IDENTICAL query results to a single run (dynamic partition overwrite
    keyed on batch_id), and a rebuild must clear stale stats rows so the
    drift anchor is the newest build, not an arbitrary one."""
    from nntsc_spark.pipeline.similarity import (
        centroid_rows,
        ivf_append,
        ivf_build_index,
        ivf_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    cents = centroid_rows(half_a, nlist=8)
    path = str(tmp_path / "idx")
    ivf_build_index(half_a, path, nlist=8, centroids=cents)

    qids = list(range(6))
    ivf_append(half_b, path, batch_id=1)
    once = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
            for r in ivf_query_index(spark, path, qids, k=5, nprobe=2).collect()}
    # crash-retry: the SAME batch runs again -> overwrites its own
    # partitions, corpus row count and query results unchanged
    ivf_append(half_b, path, batch_id=1)
    twice = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
             for r in ivf_query_index(spark, path, qids, k=5, nprobe=2).collect()}
    assert once == twice and once
    assert (
        spark.read.parquet(f"{path}/corpus").count() == emb.count()
    ), "double-run append duplicated rows"
    # batch_id 0 is reserved for the build
    with pytest.raises(ValueError, match="batch_id"):
        ivf_append(half_b, path, batch_id=0)

    # stats hygiene: append rows accumulate per batch; a REBUILD clears
    # them all and leaves exactly one 'build' row (the drift anchor)
    ivf_append(half_a.limit(5), path, batch_id=2)
    stats = spark.read.parquet(f"{path}/stats")
    assert stats.where("kind = 'append'").count() == 2  # batches 1 and 2
    ivf_build_index(emb, path, nlist=8, centroids=cents)
    stats = spark.read.parquet(f"{path}/stats").collect()
    assert len(stats) == 1 and stats[0]["kind"] == "build"
    res = ivf_append(half_b.limit(5), path, batch_id=1)
    assert res["build_mean_best_cosine"] is not None


def test_ivf_append_rejects_then_migrates_legacy_layout(spark, sf_dir, tmp_path):
    """r7 advice: an index built before the append_batch partition level
    (cell-only layout) must be REJECTED at append time — appending would
    mix bare files and partition dirs under one cell and break partition
    discovery on every later read — and ivf_migrate_legacy_layout must
    bring it forward in place, after which appends and queries work."""
    import glob as _glob

    from nntsc_spark.pipeline.similarity import (
        centroid_rows,
        ivf_append,
        ivf_build_index,
        ivf_migrate_legacy_layout,
        ivf_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    cents = centroid_rows(half_a, nlist=8)
    path = str(tmp_path / "legacy")
    ivf_build_index(half_a, path, nlist=8, centroids=cents)
    # devolve to the pre-r7 layout: hoist every build file up one level
    import os

    for d in _glob.glob(f"{path}/corpus/cell=*/append_batch=0"):
        for f in os.listdir(d):
            os.rename(os.path.join(d, f), os.path.join(os.path.dirname(d), f))
        os.rmdir(d)

    with pytest.raises(ValueError, match="legacy cell-only layout"):
        ivf_append(half_b, path, batch_id=1)
    # nothing was written by the rejected append: layout still legacy-clean
    assert not _glob.glob(f"{path}/corpus/cell=*/append_batch=*")

    moved = ivf_migrate_legacy_layout(path)
    assert moved > 0
    assert ivf_migrate_legacy_layout(path) == 0  # idempotent
    ivf_append(half_b, path, batch_id=1)

    full = str(tmp_path / "full")
    ivf_build_index(emb, full, nlist=8, centroids=cents)
    qids = list(range(6))
    got = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
           for r in ivf_query_index(spark, path, qids, k=5, nprobe=2).collect()}
    want = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
            for r in ivf_query_index(spark, full, qids, k=5, nprobe=2).collect()}
    assert got == want and got


def test_embedding_dedup_clusters_semantic_groups(spark):
    """Vector-space dedup: two planted near-identical groups resolve to
    two clusters with min-id survivors; the isolated vector is absent."""
    from nntsc_spark.pipeline.similarity import embedding_dedup_clusters

    def vec(axis, eps):
        v = [0.0] * 8
        v[axis] = 1.0
        v[(axis + 1) % 8] = eps
        return v

    emb = spark.createDataFrame(
        [(i, vec(0, 0.001 * i)) for i in range(3)]       # group A: 0,1,2
        + [(10 + i, vec(3, 0.001 * i)) for i in range(2)]  # group B: 10,11
        + [(99, vec(6, 0.0))],                              # singleton
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in embedding_dedup_clusters(
        emb, threshold=0.99, dims=8).collect()}
    assert set(out) == {0, 1, 2, 10, 11}
    assert all(out[i].cluster_id == 0 and out[i].n_members == 3
               for i in (0, 1, 2))
    assert all(out[i].cluster_id == 10 and out[i].n_members == 2
               for i in (10, 11))
    assert out[0].is_survivor and out[10].is_survivor
    assert not any(out[i].is_survivor for i in (1, 2, 11))


def test_semantic_dedup_keeps_least_central_member(spark):
    """SemDeDup keep rule: of a within-cell duplicate pair, the member
    MORE similar to the centroid drops; non-duplicates and other-cell
    vectors are untouched."""
    from nntsc_spark.pipeline.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),    # centroid of cell 0
            (1, [0.0, 0.0, 1.0, 0.0]),    # centroid of cell 1
            (2, [1.0, 0.30, 0.0, 0.0]),   # cell 0, csim ~0.958
            (3, [1.0, 0.32, 0.0, 0.0]),   # cell 0, csim ~0.952; cos(2,3)~0.9998
            (10, [0.0, 0.0, 1.0, 0.35]),  # cell 1, csim ~0.944 < tau: no dup
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in semantic_dedup(
        emb, nlist=2, threshold=0.98).collect()}
    assert {v: r.cell for v, r in out.items()} == {
        0: 0, 2: 0, 3: 0, 1: 1, 10: 1}
    assert out[0].centroid_sim == 1.0
    # (2, 3) is the only pair above tau; 2 is more central -> dropped
    assert not out[2].kept
    assert all(out[v].kept for v in (0, 1, 3, 10))


def test_ivf_requantize_clears_drift_atomically(spark, tmp_path):
    """The drift loop closes: after a distribution shift flags
    needs_requantization, ivf_requantize re-learns the quantizer from
    the full current corpus in place — the corpus survives intact, the
    new quantizer covers the shifted batch, and a crash mid-swap is
    recoverable."""
    import os
    import shutil

    from nntsc_spark.pipeline.similarity import (
        ivf_append,
        ivf_build_index,
        ivf_query_index,
        ivf_requantize,
    )

    cluster_a = [(i, [1.0, 0.0, 0.0, 0.01 * i]) for i in range(8)]
    cluster_b = [(8 + i, [0.0, 1.0, 0.0, 0.01 * i]) for i in range(8)]
    moved = [(100 + i, [0.0, 0.0, 1.0, 0.01 * i]) for i in range(8)]
    schema = "vec_id long, embedding array<double>"
    path = str(tmp_path / "idx")
    ivf_build_index(spark.createDataFrame(cluster_a + cluster_b, schema),
                    path, nlist=2)
    res = ivf_append(spark.createDataFrame(moved, schema), path, batch_id=1)
    assert res["needs_requantization"]

    stats = ivf_requantize(spark, path, nlist=3, use_kmeans=True)
    assert stats["n"] == 24  # full corpus re-indexed
    assert stats["mean_best_cosine"] > 0.99  # 3 refined cells fit 3 axes
    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.count() == 24
    # a further batch from the shifted distribution no longer drifts
    more = spark.createDataFrame(
        [(200 + i, [0.0, 0.0, 1.0, 0.02 * i]) for i in range(4)], schema
    )
    res2 = ivf_append(more, path, batch_id=1)
    assert not res2["needs_requantization"]
    # queries still serve (probe the shifted cluster)
    hits = ivf_query_index(spark, path, [100], k=3, nprobe=1).collect()
    assert hits and all(r.query_id == 100 for r in hits)

    # crash mid-swap: index dir renamed to trash, stage lost -> the next
    # requantize's recovery sweep restores the original first
    parent = str(tmp_path)
    os.rename(path, f"{parent}/.compact-trash-idx")
    ivf_requantize(spark, path, nlist=3)
    assert spark.read.parquet(f"{path}/corpus").count() == 28
    assert not shutil.os.listdir(f"{parent}") == []


def test_ivf_compact_merges_cells_row_identically(spark, sf_dir, tmp_path):
    """ivf_compact collapses accumulated append batches per cell into
    append_batch=0 without changing any query result, skips cells already
    at target, and is idempotent."""
    import glob as _glob

    from nntsc_spark.pipeline.similarity import (
        centroid_rows,
        ivf_append,
        ivf_build_index,
        ivf_compact,
        ivf_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroid_rows(emb, nlist=4)
    path = str(tmp_path / "idx")
    ivf_build_index(emb.where(F.col("vec_id") % 4 == 0), path, nlist=4,
                    centroids=cents)
    for b in range(1, 4):
        ivf_append(emb.where(F.col("vec_id") % 4 == b), path, batch_id=b)
    qids = list(range(6))
    before = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
              for r in ivf_query_index(spark, path, qids, k=5, nprobe=2).collect()}
    n_before = len(_glob.glob(f"{path}/corpus/cell=*/*/*.parquet"))

    done = ivf_compact(spark, path, target_bytes=1 << 30)
    assert done  # several cells had 4 batch dirs of files
    n_after = len(_glob.glob(f"{path}/corpus/cell=*/*/*.parquet"))
    assert n_after < n_before
    # every cell collapsed to the single batch-0 level
    assert not _glob.glob(f"{path}/corpus/cell=*/append_batch=[!0]*")
    after = {(r.query_id, r.neighbor_id, r.rank, r.cosine)
             for r in ivf_query_index(spark, path, qids, k=5, nprobe=2).collect()}
    assert after == before and after
    assert spark.read.parquet(f"{path}/corpus").count() == emb.count()
    # idempotent
    assert ivf_compact(spark, path, target_bytes=1 << 30) == []


def test_deterministic_sample_by_strata_rates(spark, sf_dir):
    from nntsc_spark.pipeline.text import (
        deterministic_sample,
        deterministic_sample_by,
    )

    docs = load_table(spark, sf_dir, "documents")
    rates = {"src0": 0.5, "src1": 0.1}
    out = deterministic_sample_by(docs, rates, salt="s", default_rate=0.0)
    got = out.groupBy("source").count().collect()
    # default_rate 0 -> only listed strata survive
    assert {r.source for r in got} <= set(rates)
    # per-stratum selection == global sampler restricted to that stratum
    # (stratum plays no part in the key hash)
    for stratum, rate in rates.items():
        expect = {
            r.doc_id
            for r in deterministic_sample(
                docs.where(F.col("source") == stratum), rate, salt="s"
            ).collect()
        }
        have = {r.doc_id for r in out.where(F.col("source") == stratum).collect()}
        assert have == expect, stratum


def test_samplers_handle_null_strata(spark):
    """r6 advice regression: a NULL stratum must neither crash the rate
    sort (None vs str) nor be silently unsampleable — it forms its own
    bucket matched with isNull."""
    from nntsc_spark.pipeline.text import (
        deterministic_sample_by,
        temperature_sample,
    )

    docs = spark.createDataFrame(
        [(i, "web" if i % 2 else None, f"text {i}") for i in range(40)],
        "doc_id long, source string, text string",
    )
    # explicit None-keyed rate: keep ALL null-stratum rows, no web rows
    out = deterministic_sample_by(
        docs, {None: 1.0, "web": 0.0}, salt="s"
    ).collect()
    assert len(out) == 20 and all(r.source is None for r in out)
    # temperature_sample over a corpus containing NULL strata must not
    # raise and must cover both buckets at alpha=1 / full budget
    full = temperature_sample(docs, alpha=1.0).collect()
    assert len(full) == 40


def test_source_vocab_stats_known_values(spark):
    from nntsc_spark.pipeline.text import source_vocab_stats

    docs = spark.createDataFrame(
        [(1, "web", "a b a b"), (2, "web", "a c"), (3, "books", "x y z")],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in source_vocab_stats(docs).collect()}
    web, books = out["web"], out["books"]
    assert (web.n_docs, web.n_tokens, web.n_distinct_tokens) == (2, 6, 3)
    assert web.type_token_ratio == 0.5 and web.avg_doc_tokens == 3.0
    assert (books.n_docs, books.n_tokens, books.n_distinct_tokens) == (1, 3, 3)
    assert books.type_token_ratio == 1.0


def test_quality_bands_discrete_quantiles_and_mixing(spark, sf_dir):
    """Band k holds scores in (thr_{k-1}, thr_k] with thresholds at exact
    discrete ranks ceil(k*n/bands); composition with
    deterministic_sample_by gives quality-stratified mixing."""
    from nntsc_spark.pipeline.text import deterministic_sample_by, quality_bands

    docs = load_table(spark, sf_dir, "documents")
    out = quality_bands(docs, n_bands=4)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_band = {}
    for r in rows:
        by_band.setdefault(r.band, []).append(r.quality_score)
    assert set(by_band) <= {0, 1, 2, 3} and 0 in by_band
    # band boundaries are consistent: every score in band k is <= every
    # score in band k+1 (monotone partition)
    for k in sorted(by_band)[:-1]:
        nxt = min(b for b in by_band if b > k) if any(b > k for b in by_band) else None
        if nxt is not None:
            assert max(by_band[k]) <= min(by_band[nxt])
    # discrete-rank sizes: band 0 holds AT LEAST ceil(n/4) docs (ties at
    # the threshold all fall to the lower band) and bands partition n
    n = len(rows)
    assert len(by_band[0]) >= (n + 3) // 4
    assert sum(len(v) for v in by_band.values()) == n
    # mixing composition: keep all of the top band, none of the rest
    top = max(by_band)
    mixed = deterministic_sample_by(
        out, {top: 1.0}, strata_col="band", key_col="doc_id"
    )
    assert mixed.count() == len(by_band[top])


def test_curated_mixture_gates_then_budgets(spark, sf_dir):
    """curated_mixture = quality gate then token-temperature mix: no
    admitted doc sits below min_band, every admitted doc respects its
    source's post-gate budget, and shares derive from post-gate masses
    (a source gone entirely below the gate gets nothing)."""
    from nntsc_spark.pipeline.text import (
        curated_mixture,
        quality_bands,
        temperature_token_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = curated_mixture(docs, budget_tokens=1500, alpha=0.7, min_band=1)
    rows = out.collect()
    assert rows and all(r.band >= 1 for r in rows)
    # equivalent by construction: band-filter first, then the mixer
    bands = quality_bands(docs).where(F.col("band") >= 1)
    gated = docs.join(bands.select("doc_id"), "doc_id")
    expect = {
        (r.doc_id, r.n_tokens, r.cum_tokens)
        for r in temperature_token_sample(gated, 1500, 0.7).collect()
    }
    assert {(r.doc_id, r.n_tokens, r.cum_tokens) for r in rows} == expect


def test_unigram_logprob_orders_rare_vs_common(spark):
    """Self-perplexity proxy: a doc of corpus-rare tokens scores far more
    negative than a doc of corpus-dominant tokens; scores are averages
    (length-invariant for uniform docs)."""
    from math import isclose, log

    from nntsc_spark.pipeline.text import unigram_logprob_scores

    docs = spark.createDataFrame(
        [(i, "the the the the") for i in range(9)]
        + [(100, "zyzzyva qoph xylyl vug")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob_scores(docs).collect()}
    # corpus: 36 'the' + 4 singletons = 40 tokens
    common, rare = out[0], out[100]
    assert common.n_tokens == 4 and rare.n_tokens == 4
    assert isclose(common.avg_logprob, log(36 / 40), abs_tol=1e-3)
    assert isclose(rare.avg_logprob, log(1 / 40), abs_tol=1e-3)
    assert rare.avg_logprob < common.avg_logprob


def test_temperature_token_sample_budgets_and_nesting(spark):
    """Token-denominated temperature mixing: per-source admissions respect
    floor(budget * T^a / z) in TOKENS, budgets nest per salt, and a
    long-document source gets its token-mass share (where doc-count
    mixing would undershoot it)."""
    from nntsc_spark.pipeline.text import temperature_token_sample

    # web: 40 docs x 2 tokens (80 tokens); books: 4 docs x 20 tokens (80)
    docs = spark.createDataFrame(
        [(i, "web", "a b") for i in range(40)]
        + [(100 + i, "books", " ".join(["w"] * 20)) for i in range(4)],
        "doc_id long, source string, text string",
    )
    out = temperature_token_sample(docs, budget_tokens=80, alpha=1.0)
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    # equal token mass -> equal 40-token budgets despite a 10x doc-count
    # imbalance; every admitted prefix stays within its budget
    assert sum(r.n_tokens for r in by_src["web"]) <= 40
    assert sum(r.n_tokens for r in by_src["books"]) == 40  # 2 x 20-token docs
    assert all(r.cum_tokens <= 40 for r in rows)
    # nesting: a halved budget selects a prefix of the full selection
    small = {r.doc_id for r in temperature_token_sample(
        docs, budget_tokens=40, alpha=1.0).collect()}
    big = {r.doc_id for r in rows}
    assert small <= big
    # budget saturation: an allocation beyond a source's own mass admits
    # everything and nothing more
    all_in = temperature_token_sample(docs, budget_tokens=10_000, alpha=1.0)
    assert all_in.count() == docs.count()


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """DSIR semantics: a source doc sharing the target corpus's n-grams
    gets a higher importance weight than an off-distribution doc, and
    n_features counts unigram + bigram occurrences."""
    from nntsc_spark.pipeline.selection import (
        dsir_importance_weights,
        dsir_resample,
    )

    target = spark.createDataFrame(
        [(100 + i, "science paper about neural networks training")
         for i in range(5)],
        "doc_id long, text string",
    )
    source = spark.createDataFrame(
        [
            (0, "science paper about neural networks inference"),
            (1, "recipe for chocolate cake with extra butter sugar"),
            (2, "neural networks training science paper summary"),
        ],
        "doc_id long, text string",
    )
    w = {r.doc_id: r for r in dsir_importance_weights(source, target).collect()}
    # 6 tokens -> 6 unigrams + 5 bigrams
    assert w[0].n_features == 11
    assert w[1].n_features == 15  # 8 tokens: 8 + 7
    # target-like docs beat the recipe
    assert w[0].log_importance > w[1].log_importance
    assert w[2].log_importance > w[1].log_importance

    # resampling k=2 keeps the two target-like docs with overwhelming
    # probability under any Gumbel draw this large a gap dominates; at
    # minimum the selection is deterministic and ordered by priority
    picked = dsir_resample(source, target, k=2).collect()
    assert len(picked) == 2
    assert [r.doc_id for r in picked] == sorted(
        (r.doc_id for r in picked),
        key=lambda d: (-[p.priority for p in picked if p.doc_id == d][0], d),
    )


def test_select_representatives_quality_election(spark):
    from nntsc_spark.pipeline.dedup import select_representatives

    base = "the quick brown fox jumps over lazy dog again"  # 9 tokens
    rows = [
        (0, base),                 # <10 tokens -> 0.5 quality multiplier
        (1, base + " tonight"),    # 10 tokens -> full multiplier, near-dup of 0
        (2, "of and to in is the a word word word word word"),
        (3, "of and to in is the a word word word word word"),  # exact dup of 2
        (9, "completely standalone single document nothing matches this one"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    reps = {r.cluster_id: r for r in select_representatives(docs).collect()}

    # cluster {0,1}: doc 1 outscores doc 0 (same text, token count crosses
    # the >=10 quality gate) -> quality election beats the min-id convention
    assert reps[0].doc_id == 1 and reps[0].n_members == 2
    # cluster {2,3}: identical text = identical score -> doc_id tie-break
    assert reps[2].doc_id == 2 and reps[2].n_members == 2
    # singletons absent by contract
    assert set(reps) == {0, 2}


def test_ngram_decontaminate_verbatim_phrase(spark):
    from nntsc_spark.pipeline.dedup import ngram_decontaminate

    phrase = "alpha beta gamma delta epsilon"
    train = spark.createDataFrame(
        [
            (0, "xx yy " + phrase + " zz"),
            (1, "totally unrelated training content goes right here folks"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            # the phrase pasted into an otherwise-unrelated doc: Jaccard is
            # far below any near-dup threshold, but the 5-gram leaks
            (10, "unrelated words here totally " + phrase + " more filler text"),
            (11, "clean evaluation document with fresh unseen words only"),
        ],
        "doc_id long, text string",
    )
    out = {r.test_doc_id: r.n_hit_ngrams for r in
           ngram_decontaminate(train, test, n=5).collect()}
    # only the 5-gram fully inside the phrase is shared (windows crossing
    # the phrase boundary differ between the two docs)
    assert out == {10: 1}


def test_token_budget_sample_matches_greedy_prefix(spark, sf_dir):
    import hashlib

    from nntsc_spark.pipeline.text import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    out = token_budget_sample(docs, budget_tokens=100).collect()
    assert all(r.cum_tokens <= 100 for r in out)

    # independent reimplementation: greedy prefix in md5-priority order
    rows = docs.select("doc_id", "source", F.size(F.split("text", " "))
                       .alias("n")).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        pri = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16)
        by_src.setdefault(r.source, []).append((pri, r.doc_id, r.n))
    expect = {}
    for src, lst in by_src.items():
        total = 0
        for pri, doc_id, n in sorted(lst):
            total += n
            if total > 100:
                break
            expect[doc_id] = total
    assert {r.doc_id: r.cum_tokens for r in out} == expect

    # budgets NEST per salt: 50-budget membership is a prefix of 100's
    small = {r.doc_id for r in
             token_budget_sample(docs, budget_tokens=50).collect()}
    assert small <= set(expect)


def test_duplicate_spans_merging_and_positions(spark):
    from nntsc_spark.pipeline.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(1, 13))   # 12 shared tokens
    p = " ".join(f"p{i}" for i in range(1, 11))        # 10-token phrase
    docs = spark.createDataFrame(
        [
            (0, "x1 x2 " + shared + " y1"),            # shared at tokens 3..14
            (1, "z1 " + shared + " z2 z3"),            # shared at tokens 2..13
            (2, " ".join(f"u{i}" for i in range(15))), # all unique
            (3, p + " q1 q2 q3 " + p),                 # self-repeat with a gap
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.span_start, r.span_end): r.n_windows
            for r in duplicate_spans(docs, w=10).collect()}
    # three overlapping duplicated windows merge into ONE maximal span per doc
    assert rows == {
        (0, 3, 14): 3,
        (1, 2, 13): 3,
        (3, 1, 10): 1,   # within-doc repeat counts too (count >= 2 corpus-wide)
        (3, 14, 23): 1,  # gap > 1 token -> separate island
    }


def test_training_corpus_end_to_end_stages(spark):
    """Each prep stage drops exactly the doc planted for it: eval holdout,
    near-dup non-survivor, verbatim eval leak, low quality, wrong language;
    the kept docs come out PII-scrubbed.  (doc_id 3 is in the 10% eval
    split for salt 'contam'; verified against the md5 bucket rule.)"""
    from nntsc_spark.pipeline.corpus import training_corpus

    good = "the cat sat of the mat and the dog ran to the park today"
    phrase = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (0, good),                                   # kept (survivor)
            (1, good + " tonight"),                      # near-dup of 0 -> dropped
            (2, "the quick " + phrase + " of the and story goes on"),  # leaks eval 5-gram
            (3, phrase + " unique words here"),          # eval holdout
            (4, "no stopwords short"),                   # low quality
            (5, "der hund und die katze und das haus und der baum sind hier"),  # de
            (6, "contact me at bob@example.com for the offer of the day and more info now"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in training_corpus(docs).collect()}
    assert set(out) == {0, 6}
    assert "<EMAIL>" in out[6].text and "bob@example.com" not in out[6].text
    assert out[0].text == good  # nothing to scrub -> text unchanged
    assert out[0].quality_score == 1.0 and out[0].n_tokens == 14


def test_write_training_shards_deterministic_ordered(spark, sf_dir, tmp_path):
    import glob
    import hashlib

    import pyarrow.parquet as pq

    from nntsc_spark.pipeline.packing import write_training_shards

    docs = load_table(spark, sf_dir, "documents")
    n_shards = 4
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=n_shards)

    def pri(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    seen = []
    for shard in range(n_shards):
        files = glob.glob(f"{out}/shard={shard}/*.parquet")
        assert len(files) == 1, files  # one ordered file per shard
        ids = pq.read_table(files[0], columns=["doc_id"])["doc_id"].to_pylist()
        # shard assignment and within-shard order are the md5 priority
        expect = sorted(
            (i for i in all_ids if pri(i) % n_shards == shard), key=pri
        )
        assert ids == expect, f"shard {shard}"
        seen += ids
    assert sorted(seen) == sorted(all_ids)  # nothing lost or duplicated

    # byte-level determinism: a second write produces identical shard sets
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, n_shards=n_shards)
    for shard in range(n_shards):
        a = pq.read_table(glob.glob(f"{out}/shard={shard}/*.parquet")[0])
        b = pq.read_table(glob.glob(f"{out2}/shard={shard}/*.parquet")[0])
        assert a.equals(b), shard


def test_remove_spans_cut_and_policy_composition(spark):
    from nntsc_spark.pipeline.dedup import duplicate_spans, remove_spans

    phrase = " ".join(f"s{i}" for i in range(1, 6))  # 5 shared tokens
    docs = spark.createDataFrame(
        [
            (0, "keep these " + phrase + " tail words"),
            (1, "other intro " + phrase + " different ending here"),
            (2, "untouched document with fully unique token content"),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(docs, w=5)

    cut = {r.doc_id: r for r in remove_spans(docs, spans).collect()}
    assert cut[0].text == "keep these tail words" and cut[0].n_removed_tokens == 5
    assert cut[1].text == "other intro different ending here"
    assert cut[2].text.startswith("untouched") and cut[2].n_removed_tokens == 0

    # keep-one-copy = a selection over spans, composed by the caller:
    # protect doc 0's copy by filtering its spans out before the cut
    survivors = remove_spans(docs, spans.where(F.col("doc_id") != 0))
    kept = {r.doc_id: r.text for r in survivors.collect()}
    assert kept[0] == "keep these " + phrase + " tail words"  # canonical intact
    assert kept[1] == "other intro different ending here"


def test_despan_keep_first_canonical_policy(spark):
    """The built-in keep-one-copy helper: the FIRST corpus occurrence
    (lowest doc_id, then position) of each duplicated window survives;
    EVERY other occurrence corpus-wide is cut — including both copies in
    a document that repeats a phrase the corpus-first document owns."""
    from nntsc_spark.pipeline.dedup import despan_keep_first

    phrase = " ".join(f"s{i}" for i in range(1, 6))  # 5 shared tokens
    docs = spark.createDataFrame(
        [
            (0, "keep these " + phrase + " tail words"),
            (1, "other intro " + phrase + " different ending here"),
            (2, "untouched document with fully unique token content"),
            # phrase twice, but the corpus-first copy lives in doc 0:
            # BOTH of these occurrences are non-first -> both cut
            (3, phrase + " middle filler words " + phrase),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in despan_keep_first(docs, w=5).collect()}
    # doc 0 holds the corpus-first occurrence -> untouched
    assert out[0].text == "keep these " + phrase + " tail words"
    assert out[0].n_removed_tokens == 0
    # later occurrences cut
    assert out[1].text == "other intro different ending here"
    assert out[1].n_removed_tokens == 5
    assert out[3].text == "middle filler words"
    assert out[3].n_removed_tokens == 10
    # unique doc untouched
    assert out[2].n_removed_tokens == 0

    # in-document keep-first: when the corpus-first copy IS in the doc,
    # it survives and only the repeat goes
    solo = spark.createDataFrame(
        [(7, phrase + " middle filler words " + phrase)],
        "doc_id long, text string",
    )
    r = despan_keep_first(solo, w=5).collect()[0]
    assert r.text == phrase + " middle filler words"
    assert r.n_removed_tokens == 5


def test_nb_classifier_learns_planted_token_signal(spark):
    """NB train/score: tokens exclusive to the positive seed get
    positive llr, scoring separates the classes, a doc with no
    in-vocabulary token gets the honest NULL, and min_df prunes
    singleton tokens out of the model."""
    import math

    from nntsc_spark.pipeline.classifier import nb_score, nb_train

    docs = spark.createDataFrame(
        [
            (1, True, "good good clean prose here"),
            (2, True, "good clean prose again here"),
            (3, False, "bad spam junk words here"),
            (4, False, "bad spam junk noise here"),
            (5, False, "zzz_unique_once xqj"),  # singletons -> pruned
        ],
        "doc_id long, pos boolean, text string",
    )
    model = {r.token: r.llr for r in nb_train(
        docs, F.col("pos"), min_df=2).collect()}
    # positive-exclusive tokens score > 0, negative-exclusive < 0,
    # shared ones ~0 (exact value depends only on class totals)
    assert model["good"] > 0 and model["clean"] > 0
    assert model["bad"] < 0 and model["spam"] < 0
    assert "zzz_unique_once" not in model and "xqj" not in model
    model_df = nb_train(docs, F.col("pos"), min_df=2)

    scored = {r.doc_id: r for r in nb_score(docs, model_df).collect()}
    assert scored[1].pred and scored[2].pred
    assert not scored[3].pred and not scored[4].pred
    # doc 5's only tokens were pruned: no evidence -> NULLs, n = 0
    assert scored[5].n_model_tokens == 0
    assert scored[5].score is None and scored[5].pred is None
    # score is the length-normalized mean: recompute doc 3 by hand
    toks3 = "bad spam junk words here".split()
    in_vocab = [t for t in toks3 if t in model]
    want = sum(model[t] for t in in_vocab) / len(in_vocab)
    assert math.isclose(scored[3].score, round(want, 4), abs_tol=1e-9)


def test_legacy_layout_guard_catches_partial_migration(spark, sf_dir, tmp_path):
    """r8 advice: a migration interrupted midway (some cells moved, some
    still bare) must still read as legacy — probing only the first cell
    passes exactly the mixed layout the guard exists to reject."""
    import glob as _glob
    import os

    from nntsc_spark.pipeline.similarity import (
        _corpus_layout_is_legacy,
        centroid_rows,
        ivf_build_index,
        ivf_migrate_legacy_layout,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroid_rows(emb, nlist=8)
    path = str(tmp_path / "partial")
    ivf_build_index(emb, path, nlist=8, centroids=cents)
    assert not _corpus_layout_is_legacy(spark, f"{path}/corpus")

    # devolve ONLY the last cell (lexically after cell=0, so a
    # first-cell probe would see a migrated corpus and pass)
    cells = sorted(_glob.glob(f"{path}/corpus/cell=*"))
    assert len(cells) > 1
    d = os.path.join(cells[-1], "append_batch=0")
    for f in os.listdir(d):
        os.rename(os.path.join(d, f), os.path.join(cells[-1], f))
    os.rmdir(d)

    assert _corpus_layout_is_legacy(spark, f"{path}/corpus")
    # migration completes the stragglers and the guard clears
    assert ivf_migrate_legacy_layout(path) > 0
    assert not _corpus_layout_is_legacy(spark, f"{path}/corpus")


# ---------------------------------------------------------------------------
# Round-9 operators: BM25, count-min sketch, bigram LM, distinct-n
# ---------------------------------------------------------------------------


def test_bm25_ranks_term_dense_docs_first(spark):
    """Hand-checkable corpus: the doc repeating the query term scores
    highest; a doc without any query term is absent; idf discounts a
    term present everywhere relative to a rare one."""
    import math

    from nntsc_spark.pipeline.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "cat cat cat dog", "s"),
            (2, "cat dog dog dog", "s"),
            (3, "fish fish fish fish", "s"),
            (4, "bird bird cat bird", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = bm25_topk(docs, ["cat", "fish"], k=10)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}  # every doc matches some term
    # doc 3 monopolizes the rarer term (df=1 vs cat's df=3) -> top score
    order = [r.doc_id for r in out.collect()]
    assert order[0] == 3
    # tf monotonicity within the common term: 3x cat > 1x cat
    assert rows[1].score > rows[2].score
    assert rows[1].n_terms_matched == 1 and rows[3].n_terms_matched == 1
    # spot-check doc 3 against the closed form (N=4, df=1, tf=4, dl=4=avgdl)
    idf = math.log((4 - 1 + 0.5) / (1 + 0.5) + 1.0)
    tfn = 4 * 2.2 / (4 + 1.2 * (0.25 + 0.75))
    assert rows[3].score == round(idf * tfn, 4)


def test_cms_overestimates_only_and_merges(spark, sf_dir):
    """CMS invariants: estimate >= exact for EVERY token (one-sided
    error), and per-split sketches merged equal the whole-corpus sketch
    (the merge-anywhere property the rollups share)."""
    from nntsc_spark.pipeline.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).persist()
    # tight width forces collisions so the overestimate case is real
    sketch = cms_build(toks, "tok", depth=3, width=16)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(sketch, exact, "tok", depth=3, width=16)
    j = exact.join(est, "tok").collect()
    assert j and all(r.cms_cnt >= r.exact for r in j)
    assert any(r.cms_cnt > r.exact for r in j)  # width=16 must collide

    half_a = toks.where(F.length("tok") <= 4)
    half_b = toks.where(F.length("tok") > 4)
    merged = cms_merge(
        cms_build(half_a, "tok", depth=3, width=16),
        cms_build(half_b, "tok", depth=3, width=16),
    )
    whole = {(r.row, r.bucket): r.cnt for r in sketch.collect()}
    got = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    assert got == whole
    toks.unpersist()


def test_bigram_lm_known_values_and_backoff(spark):
    """Tiny corpus with a hand-computed LM: train doc fixes the counts;
    a held-out doc containing an unseen bigram and an OOV token walks
    the backoff ladder exactly."""
    import math

    from nntsc_spark.pipeline.text import (
        bigram_logprob_scores,
        hash_priority_expr,
    )

    docs = spark.createDataFrame(
        [(i, "a b a b c", "s") for i in range(40)]
        + [(100, "a b", "s"), (101, "b z", "s"), (102, "q a", "s")],
        "doc_id long, text string, source string",
    )
    # pick a rate that puts at least one repeated doc in train and the
    # probe docs out: find the actual split the hash induces
    buckets = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id", (hash_priority_expr("doc_id", "blm") % 10000).alias("b")
        ).collect()
    }
    cut = 5000
    train_ids = {d for d, b in buckets.items() if b < cut}
    assert any(d < 100 for d in train_ids)
    out = {
        r.doc_id: r
        for r in bigram_logprob_scores(docs, train_rate=cut / 10000).collect()
    }
    n_train = len([d for d in train_ids if d < 100]) + (
        1 if 100 in train_ids else 0
    )
    # LM counts from train docs only ("a b a b c" x k [+ maybe "a b"])
    k = len([d for d in train_ids if d < 100])
    c = {"a": 2 * k, "b": 2 * k, "c": k}
    c12 = {("a", "b"): 2 * k, ("b", "a"): k, ("b", "c"): k}
    for d in ({100, 101, 102} & train_ids):
        for w in {100: ["a", "b"], 101: ["b", "z"], 102: ["q", "a"]}[d]:
            c[w] = c.get(w, 0) + 1
        pair = {100: ("a", "b"), 101: ("b", "z"), 102: ("q", "a")}[d]
        c12[pair] = c12.get(pair, 0) + 1
    total = float(sum(c.values()))

    def S(w1, w2):
        if (w1, w2) in c12:
            return math.log(c12[(w1, w2)] / float(c[w1]))
        return math.log(0.4 * float(c.get(w2, 1.0)) / total)

    # doc 101 "b z": bigram (b,z) and token z unseen unless 101 trained
    want = round(S("b", "z"), 4)
    assert out[101].avg_logprob == want
    assert out[101].backoff_rate == (0.0 if (101 in train_ids) else 1.0)
    # the repeated doc: all bigrams in-model, zero backoff
    assert out[0].backoff_rate == 0.0
    want0 = round(
        (2 * S("a", "b") + S("b", "a") + S("b", "c")) / 4.0, 4
    )
    assert out[0].avg_logprob == want0


def test_distinct_ngram_diversity_flags_repetitive_source(spark):
    """A template-stamped source scores far lower distinct-2 than a
    varied one; counts match hand enumeration."""
    from nntsc_spark.pipeline.vocab import distinct_ngram_diversity

    docs = spark.createDataFrame(
        [(i, "spam spam spam spam", "dull") for i in range(5)]
        + [(10, "a b c d", "varied"), (11, "e f g h", "varied")],
        "doc_id long, text string, source string",
    )
    out = {
        (r.source, r.n): r for r in distinct_ngram_diversity(docs).collect()
    }
    assert out[("dull", 1)].total_ngrams == 20
    assert out[("dull", 1)].distinct_ngrams == 1
    assert out[("dull", 2)].distinct_ngrams == 1  # "spam spam" only
    assert out[("varied", 2)].distinct_ratio == 1.0
    assert out[("varied", 3)].total_ngrams == 4


def test_c4_line_cleaning_rules_and_boilerplate(spark):
    from nntsc_spark.pipeline.cleaning import clean_lines, doc_lines

    docs = spark.createDataFrame(
        [
            # kept line / short line / banned line / repeated footer
            (0, "the quick brown fox jumps.\nok no\nenable javascript now.\nall rights reserved legal footer."),
            (1, "another normal sentence here!\nall rights reserved legal footer."),
            # no terminal punctuation -> dropped entirely
            (2, "this line never ends properly\nand neither does this one"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in clean_lines(
            docs, lines=doc_lines(docs), delim="\n", max_count=1
        ).collect()
    }
    assert len(out) == 3
    # doc 0: short + javascript + repeated footer dropped, 1 of 4 kept
    assert out[0]["text_clean"] == "the quick brown fox jumps."
    assert out[0]["n_lines_kept"] == 1 and out[0]["n_lines_total"] == 4
    # doc 1: footer repeats corpus-wide (count 2 > max_count 1)
    assert out[1]["text_clean"] == "another normal sentence here!"
    # doc 2: everything dropped but the document row survives
    assert out[2]["text_clean"] == "" and out[2]["n_lines_kept"] == 0
    assert out[2]["n_lines_total"] == 2


def test_c4_line_cleaning_preserves_order_and_segmentation(spark):
    from nntsc_spark.pipeline.cleaning import (
        clean_lines,
        segment_token_lines,
    )

    toks = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [(7, " ".join(toks))], "doc_id long, text string"
    )
    lines = segment_token_lines(docs, line_tokens=8)
    got = sorted(
        (r["line_idx"], r["line"]) for r in lines.collect()
    )
    assert got == [
        (0, " ".join(toks[0:8])),
        (1, " ".join(toks[8:16])),
        (2, " ".join(toks[16:20])),
    ]
    # no rules fire -> reassembly must reproduce the original text
    out = clean_lines(
        docs,
        lines=lines,
        delim=" ",
        min_words=1,
        require_terminal_punct=False,
        banned_words=(),
    ).collect()[0]
    assert out["text_clean"] == " ".join(toks)
    assert out["n_lines_kept"] == 3 == out["n_lines_total"]


def test_hll_merge_equals_whole_and_raw_branch_accuracy(spark):
    from pyspark.sql import functions as F

    from nntsc_spark.pipeline.sketches import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    n = 20000
    ids = spark.range(n).select(F.col("id").alias("k"))
    whole = hll_build(ids, "k", p=10)
    # register table is bounded by 2^p regardless of input size
    assert whole.count() <= 1024
    est = hll_estimate(whole, p=10).collect()[0]
    # 20k >> 2.5m so the raw harmonic-mean branch fires; typical error
    # at p=10 is ~3.25%, assert a loose 10% envelope
    assert abs(est["hll_ndv"] - n) / n < 0.10
    # merging the two halves reproduces the whole-corpus sketch exactly
    lo = hll_build(ids.where(F.col("k") < n // 2), "k", p=10)
    hi = hll_build(ids.where(F.col("k") >= n // 2), "k", p=10)
    merged = hll_merge(lo, hi)
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in whole.collect()
    }


def test_hll_linear_counting_branch_is_near_exact(spark):
    from pyspark.sql import functions as F

    from nntsc_spark.pipeline.sketches import hll_build, hll_estimate

    ids = spark.range(100).select(F.col("id").alias("k"))
    est = hll_estimate(hll_build(ids, "k", p=10), p=10).collect()[0]
    # linear counting at 100/1024 occupancy is accurate to ~5%
    assert abs(est["hll_ndv"] - 100) / 100 < 0.05
    assert est["n_registers_used"] <= 100


def test_pq_kmeans_codebooks_beat_sample_and_recall(spark, sf_dir):
    import numpy as np

    from nntsc_spark.pipeline.similarity import (
        pq_codebooks_kmeans,
        pq_codebooks_sample,
        pq_encode,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = sorted(
        (r["vec_id"], list(r["embedding"])) for r in emb.collect()
    )
    X = np.array([v for _, v in rows])
    ids = np.array([i for i, _ in rows])

    cbk = pq_codebooks_kmeans(emb, train_cap=500)
    # deterministic: same corpus + seed -> identical codebooks
    assert cbk == pq_codebooks_kmeans(emb, train_cap=500)
    assert len(cbk) == 8 and all(len(b) == 16 for b in cbk)
    cbs = pq_codebooks_sample(emb)

    def distortion(cb):
        codes = {
            r[0]: list(r["codes"]) for r in pq_encode(emb, cb).collect()
        }
        tot = 0.0
        for i, v in rows:
            rec = np.concatenate(
                [np.array(cb[mi][codes[i][mi]]) for mi in range(8)]
            )
            tot += ((np.array(v) - rec) ** 2).sum()
        return tot / len(rows)

    # trained codebooks must quantize strictly better than the sampled
    # oracle-default ones (measured: 0.54 vs 0.76 on this corpus)
    assert distortion(cbk) < distortion(cbs)

    # ADC shortlist-then-rerank contract: exact top-10 recall inside the
    # ADC top-50 shortlist (measured 0.71 with trained codebooks; these
    # near-random unit vectors are PQ's worst case)
    qids = list(range(10))
    short = {}
    for r in pq_topk(emb, qids, k=50, codebooks=cbk).collect():
        short.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = 0.0
    for q in qids:
        d2 = ((X - X[ids == q][0]) ** 2).sum(axis=1)
        order = [i for i in np.argsort(d2, kind="stable") if ids[i] != q]
        recall += len(set(ids[order[:10]]) & short[q]) / 10
    assert recall / len(qids) >= 0.6


def test_ivfpq_production_path_recall_and_contract(spark):
    import numpy as np

    from nntsc_spark.pipeline.similarity import (
        ivfpq_residuals,
        ivfpq_topk,
        kmeans_parallel_centroids,
        pq_codebooks_kmeans,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = sorted(
        (r["vec_id"], list(r["embedding"])) for r in emb.collect()
    )
    X = np.array([v for _, v in rows])
    ids = np.array([i for i, _ in rows])
    qids = list(range(10))

    # production quantizer + residual codebooks through the SAME stages
    # the oracle-pinned sampled defaults run
    cents = kmeans_parallel_centroids(emb, nlist=16)
    res = ivfpq_residuals(emb, cents)
    cbk = pq_codebooks_kmeans(
        res, train_cap=500, vec_col="residual", id_col="vec_id"
    )

    out = ivfpq_topk(
        emb, qids, k=50, nlist=16, nprobe=16,
        centroids=cents, codebooks=cbk,
    ).collect()
    short: dict[int, set] = {}
    for r in out:
        short.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # contract: exactly k rows per query, ranks 1..k, self excluded
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 50
        assert sorted(r["rank"] for r in rs) == list(range(1, 51))
        assert all(r["neighbor_id"] != q for r in rs)

    # residual quantization with all cells probed: exact-L2 top-10
    # recall inside the ADC top-50 shortlist (measured 0.59 — these
    # near-random unit vectors are residual quantization's worst case:
    # coarse centroids sit near the origin, so residuals carry almost
    # the full vector and quality tracks plain PQ)
    recall = 0.0
    for q in qids:
        d2 = ((X - X[ids == q][0]) ** 2).sum(axis=1)
        order = [i for i in np.argsort(d2, kind="stable") if ids[i] != q]
        recall += len(set(ids[order[:10]]) & short[q]) / 10
    assert recall / len(qids) >= 0.5

    # pruned probes (nprobe=4/16) keep the per-query contract and only
    # surface candidates from probed cells (fewer candidates, same k)
    pruned = ivfpq_topk(
        emb, qids, k=10, nlist=16, nprobe=4,
        centroids=cents, codebooks=cbk,
    ).collect()
    per_q: dict[int, int] = {}
    for r in pruned:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert set(per_q) == set(qids) and all(v == 10 for v in per_q.values())


def test_train_val_test_split_is_exact_partition_and_nests(spark):
    from nntsc_spark.pipeline.text import train_val_test_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = train_val_test_split(docs, (0.8, 0.1, 0.1))
    n = docs.count()
    by = {r["split"]: r["n"] for r in
          out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    # exhaustive exact partition
    assert sum(by.values()) == n
    assert set(by) == {"train", "validation", "test"}
    # proportions near fractions (iid md5 buckets; generous tolerance)
    assert abs(by["train"] / n - 0.8) < 0.1
    # deterministic: re-running assigns identical labels
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in
         train_val_test_split(docs, (0.8, 0.1, 0.1)).collect()}
    assert a == b
    # growing the train fraction only PROMOTES docs toward train
    # (thresholds nest on the same bucket), never swaps train->test
    wider = {r["doc_id"]: r["split"] for r in
             train_val_test_split(docs, (0.9, 0.05, 0.05)).collect()}
    rank = {"train": 0, "validation": 1, "test": 2}
    assert all(rank[wider[d]] <= rank[a[d]] for d in a)
    with pytest.raises(ValueError):
        train_val_test_split(docs, (0.5, 0.2, 0.2))


def test_corpus_diff_classifies_all_transitions(spark):
    from nntsc_spark.pipeline.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (4, "delta")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "unchanged", 2: "changed", 3: "removed", 4: "added"
    }
    # output covers old ∪ new exactly once
    assert len(got) == 4


def test_cap_per_key_keeps_best_and_is_layout_independent(spark, sf_dir):
    from nntsc_spark.pipeline.text import cap_per_key
    from nntsc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = cap_per_key(docs, cap=5, priority_col="n_chars", salt="t")
    per = {r.source: r.n for r in out.groupBy("source").count()
           .withColumnRenamed("count", "n").collect()}
    assert all(n == 5 for n in per.values())
    # keeps the BEST: every survivor's n_chars >= the source's 5th-largest
    import pyspark.sql.functions as F
    floor = {
        r.source: r.f
        for r in docs.groupBy("source")
        .agg(F.expr("element_at(array_sort(collect_list(n_chars), "
                    "(a, b) -> CASE WHEN a > b THEN -1 WHEN a < b THEN 1 "
                    "ELSE 0 END), 5)").alias("f"))
        .collect()
    }
    for r in out.collect():
        assert r.n_chars >= floor[r.source]
    # survivor set is a pure function of (data, salt): repartitioned
    # input selects the identical ids
    again = cap_per_key(docs.repartition(13), cap=5,
                        priority_col="n_chars", salt="t")
    ids = lambda d: sorted(r.doc_id for r in d.select("doc_id").collect())
    assert ids(out) == ids(again)


def test_epoch_upsample_masses_and_nesting(spark, sf_dir):
    from nntsc_spark.pipeline.text import epoch_upsample
    from nntsc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = {r.source: r.n for r in docs.groupBy("source").count()
         .withColumnRenamed("count", "n").collect()}
    out = epoch_upsample(
        docs, {"src0": 2.0, "src1": 0.5, "src2": 0.0}, salt="e",
        default_epochs=1.0,
    )
    got = {r.source: r.n for r in out.groupBy("source").count()
           .withColumnRenamed("count", "n").collect()}
    # integer epochs are exact; fractional is a hash draw near the rate;
    # zero drops the stratum; unlisted strata default to one epoch
    assert got["src0"] == 2 * n["src0"]
    assert "src2" not in got
    assert got["src3"] == n["src3"]
    assert abs(got["src1"] - 0.5 * n["src1"]) <= 0.25 * n["src1"]
    # epoch indices: every full epoch contains EVERY doc of its stratum
    e0 = out.where("source = 'src0' AND epoch = 0").count()
    e1 = out.where("source = 'src0' AND epoch = 1").count()
    assert e0 == e1 == n["src0"]
    # raising the fractional part only ADDS replicas (same salt nests)
    more = epoch_upsample(docs, {"src1": 0.8}, salt="e", default_epochs=0.0)
    key = lambda d: {(r.doc_id, r.epoch) for r in d.collect()}
    assert key(out.where("source = 'src1'")) <= key(more)


def test_media_exact_dedup_groups_byte_identical_blobs(spark):
    from nntsc_spark.pipeline.multimodal import media_exact_dedup

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"\x00\x01\x02"), "png"),
            (2, "image", bytearray(b"\x00\x01\x02"), "png"),
            (3, "image", bytearray(b"\x00\x01\x03"), "png"),
            (4, "audio", bytearray(b"\x00\x01\x02"), "wav"),
            (5, "image", None, "png"),
            (6, "image", None, "png"),
        ],
        "media_id long, kind string, content binary, format string",
    )
    out = {
        (r.content_hash, r.kind): (r.survivor_media_id, r.n_copies)
        for r in media_exact_dedup(media).collect()
    }
    # byte-identical image blobs collapse; the same bytes under another
    # kind stay a separate group (a "video" and "image" sharing bytes is
    # a data bug to surface, not silently merge); NULL-content rows are
    # excluded rather than unified into a phantom duplicate group
    assert len(out) == 3
    by_kind = {}
    for (h, kind), v in out.items():
        by_kind.setdefault(kind, []).append(v)
    assert sorted(by_kind["image"]) == [(1, 2), (3, 1)]
    assert by_kind["audio"] == [(4, 1)]


def test_eval_suite_contamination_one_pass_matches_per_set_loop(spark, sf_dir):
    import pyspark.sql.functions as F
    from nntsc_spark.pipeline.dedup import (
        contamination,
        eval_suite_contamination,
    )
    from nntsc_spark.pipeline.text import hash_priority_expr
    from nntsc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    b = hash_priority_expr("doc_id", "suite") % 10000
    test = docs.where(b < 1200).withColumn(
        "eval_set",
        F.when(b < 400, F.lit("benchA"))
        .when(b < 800, F.lit("benchB"))
        .otherwise(F.lit("benchC")),
    )
    train = docs.join(test.select("doc_id"), "doc_id", "left_anti")
    report = {
        r.eval_set: r for r in eval_suite_contamination(train, test).collect()
    }
    assert set(report) == {"benchA", "benchB", "benchC"}
    # the one-pass suite report must equal running contamination per set
    for name in report:
        one = test.where(F.col("eval_set") == name).drop("eval_set")
        pairs = contamination(train, one).collect()
        docs_hit = {p.test_doc_id for p in pairs}
        exact_hit = {
            p.test_doc_id for p in pairs if p.match_type == "exact"
        }
        r = report[name]
        assert r.n_test_docs == one.count()
        assert r.n_contaminated == len(docs_hit)
        assert r.n_exact == len(exact_hit)
        assert r.n_near_only == len(docs_hit - exact_hit)
        assert r.n_contaminated + 0 <= r.n_test_docs


def test_doc_lines_treats_delim_literally(spark):
    from nntsc_spark.pipeline.cleaning import clean_lines, doc_lines

    docs = spark.createDataFrame(
        [(1, "first line.|second one here.|x")],
        "doc_id long, text string",
    )
    lines = [r.line for r in doc_lines(docs, delim="|").collect()]
    assert lines == ["first line.", "second one here.", "x"]
    out = clean_lines(docs, delim="|", min_words=2,
                      require_terminal_punct=False).collect()[0]
    # a regex-special delimiter must reassemble exactly what it split
    assert out.text_clean == "first line.|second one here."
    assert (out.n_lines_kept, out.n_lines_total) == (2, 3)


def test_cluster_balanced_sample_caps_and_prefers_periphery(spark, sf_dir):
    import pyspark.sql.functions as F
    from nntsc_spark.pipeline.similarity import cluster_balanced_sample
    from nntsc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = cluster_balanced_sample(emb, per_cell=10, nlist=8)
    per = {r.cell: r.n for r in out.groupBy("cell").count()
           .withColumnRenamed("count", "n").collect()}
    assert all(n <= 10 for n in per.values())
    # peripheral priority: every kept sim <= every dropped sim in the cell
    full = cluster_balanced_sample(emb, per_cell=1 << 30, nlist=8)
    kept_max = {r.cell: r.m for r in out.groupBy("cell")
                .agg(F.max("centroid_sim").alias("m")).collect()}
    for r in full.join(out.select("vec_id").withColumn("_k", F.lit(1)),
                       "vec_id", "left").where(F.col("_k").isNull()).collect():
        assert r.centroid_sim >= kept_max[r.cell]
    # prototype mode inverts the priority
    proto = cluster_balanced_sample(emb, per_cell=10, nlist=8,
                                    prefer_peripheral=False)
    proto_min = {r.cell: r.m for r in proto.groupBy("cell")
                 .agg(F.min("centroid_sim").alias("m")).collect()}
    for c, m in proto_min.items():
        assert m >= kept_max[c] or per[c] < 10


def test_rrf_fuse_known_values_and_tie_break(spark):
    from nntsc_spark.pipeline.search import rrf_fuse

    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)],
                              "doc_id long, rank int")
    b = spark.createDataFrame([(12, 1), (10, 2), (13, 3)],
                              "doc_id long, rank int")
    got = {r.doc_id: (r.n_lists, r.rrf_score)
           for r in rrf_fuse([a, b], k=60).collect()}
    assert got[10] == (2, 1 / 61 + 1 / 62)
    assert got[12] == (2, 1 / 63 + 1 / 61)
    assert got[11] == (1, 1 / 62)
    assert got[13] == (1, 1 / 63)
    # doc in both lists outranks a doc leading only one
    order = [r.doc_id for r in rrf_fuse([a, b], k=60, topk=4).collect()]
    assert order[0] in (10, 12) and set(order[:2]) == {10, 12}


def test_calibrate_scores_per_stratum_quantiles_and_ties(spark):
    from nntsc_spark.pipeline.text import calibrate_scores_per_stratum

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 20.0), (4, "a", 30.0),
         (5, "b", 1000.0)],
        "doc_id long, source string, score double",
    )
    got = {r.doc_id: r.calibrated
           for r in calibrate_scores_per_stratum(df, "score").collect()}
    # (rank-1)/(n-1); ties share a rank; single-row stratum -> 0.0
    assert got[1] == 0.0 and got[4] == 1.0
    assert got[2] == got[3] == 1 / 3
    assert got[5] == 0.0
    # the property that makes it a calibration: a global threshold keeps
    # the same FRACTION of each stratum regardless of raw scales
    big = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(100)]
        + [(1000 + i, "b", float(i) * 1e6) for i in range(100)],
        "doc_id long, source string, score double",
    )
    kept = (calibrate_scores_per_stratum(big, "score")
            .where("calibrated >= 0.8").groupBy("source").count().collect())
    assert {r.source: r["count"] for r in kept} == {"a": 20, "b": 20}


def test_semantic_dedup_auto_nlist_matches_manual_rule(spark, sf_dir):
    """nlist=None resolves to max(8, N // target_cell_size) — the
    SemDeDup sizing rule in code: the auto-sized run is row-identical to
    the run with the rule applied by hand (the discipline the scaled
    probes used via nlist = 8 x factor), and the floor holds when the
    corpus is smaller than 8 cells' worth."""
    from nntsc_spark.pipeline.similarity import (
        DEFAULT_TARGET_CELL_SIZE,
        resolve_nlist,
        semantic_dedup,
    )
    from nntsc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # the rule itself
    assert resolve_nlist(emb, None, 50) == max(8, n // 50)
    assert resolve_nlist(emb, None) == max(8, n // DEFAULT_TARGET_CELL_SIZE)
    assert resolve_nlist(emb, 16, 50) == 16  # explicit passes through
    # auto-sized output is row-identical to the manually-sized run
    manual = max(8, n // 50)
    assert manual > 8  # the target actually engages the rule here
    auto = {
        tuple(r)
        for r in semantic_dedup(
            emb, threshold=0.45, target_cell_size=50
        ).collect()
    }
    byhand = {
        tuple(r)
        for r in semantic_dedup(emb, nlist=manual, threshold=0.45).collect()
    }
    assert auto == byhand


def test_index_builds_auto_size_nlist(spark, sf_dir, tmp_path):
    """ivf_build_index / ivfpq_build_index / ivf_requantize inherit the
    resolve_nlist sizing default: nlist=None derives max(8, N // 250)
    cells from the corpus being indexed — and requantization re-derives
    it from the CURRENT corpus, which is exactly when N should be
    re-evaluated."""
    from nntsc_spark.pipeline.similarity import (
        ivf_build_index,
        ivf_requantize,
        ivfpq_build_index,
        resolve_nlist,
    )
    from nntsc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    want = resolve_nlist(emb, None)
    ivf_build_index(emb, str(tmp_path / "ivf"))
    assert spark.read.parquet(str(tmp_path / "ivf" / "centroids")).count() == want
    ivfpq_build_index(emb, str(tmp_path / "pq"), m=8, ks=16)
    assert spark.read.parquet(str(tmp_path / "pq" / "centroids")).count() == want
    out = ivf_requantize(spark, str(tmp_path / "ivf"))
    assert out["n"] == emb.count()
    assert spark.read.parquet(str(tmp_path / "ivf" / "centroids")).count() == want


def test_lsh_bits_auto_sizing_matches_manual_rule(spark, sf_dir):
    """bits=None resolves to max(8, ceil(log2(N / occupancy))) — the
    banding analogue of the nlist rule: the floor reproduces the
    oracle-pinned bits=8 exactly at test scales (auto output ==
    explicit bits=8 output), and the width grows with log N past it."""
    import math

    from nntsc_spark.pipeline.similarity import (
        embedding_near_duplicates,
        resolve_bits,
    )
    from nntsc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    assert resolve_bits(emb, None) == max(8, math.ceil(math.log2(n / 16)))
    assert resolve_bits(emb, None, target_occupancy=1) == max(
        8, math.ceil(math.log2(n))
    )
    assert resolve_bits(emb, 12) == 12  # explicit passes through
    auto = {
        tuple(r)
        for r in embedding_near_duplicates(emb, threshold=0.3).collect()
    }
    byhand = {
        tuple(r)
        for r in embedding_near_duplicates(
            emb, threshold=0.3, bits=resolve_bits(emb, None)
        ).collect()
    }
    assert auto == byhand


def test_semantic_dedup_two_level_auto_handoff(spark, sf_dir):
    """assign_two_level=None resolves to the probe-validated handoff:
    exact assignment below TWO_LEVEL_ASSIGN_MIN_NLIST cells (so every
    oracle-pinned small-nlist query is untouched by the auto default),
    the approximate coarse->fine front at or above it; explicit flags
    pass through at any size."""
    from nntsc_spark.pipeline.similarity import (
        TWO_LEVEL_ASSIGN_MIN_NLIST,
        _resolve_two_level,
        semantic_dedup,
    )
    from nntsc_spark.sources.tables import load_table

    assert _resolve_two_level(8, None) is False
    assert _resolve_two_level(TWO_LEVEL_ASSIGN_MIN_NLIST - 1, None) is False
    assert _resolve_two_level(TWO_LEVEL_ASSIGN_MIN_NLIST, None) is True
    assert _resolve_two_level(8, True) is True
    assert _resolve_two_level(10**6, False) is False

    # below the threshold, auto == exact: row-identical outputs
    emb = load_table(spark, sf_dir, "embeddings")
    auto = {
        tuple(r)
        for r in semantic_dedup(emb, nlist=8, threshold=0.45).collect()
    }
    exact = {
        tuple(r)
        for r in semantic_dedup(
            emb, nlist=8, threshold=0.45, assign_two_level=False
        ).collect()
    }
    assert auto == exact


def test_resolve_tables_closed_form():
    """tables=None resolves to the MINIMAL L whose closed-form union
    recall 1-(1-(1-theta/pi)^bits)^L meets the target; explicit tables
    passes through; uneconomical regimes cap at MAX_AUTO_TABLES with a
    warning instead of multiplying cost without bound."""
    import pytest as _pytest

    from nntsc_spark.pipeline.similarity import (
        MAX_AUTO_TABLES,
        lsh_union_recall,
        resolve_tables,
    )

    assert resolve_tables(8, tables=4) == 4  # explicit passes through
    assert resolve_tables(16, 0.95, 0.99, tables=2) == 2
    prev = 0
    for bits in (8, 10, 12, 16, 20):
        L = resolve_tables(bits, threshold=0.95, target_recall=0.9)
        assert lsh_union_recall(bits, L, 0.95) >= 0.9
        assert L == 1 or lsh_union_recall(bits, L - 1, 0.95) < 0.9
        assert L >= prev  # wider signatures never need fewer tables
        prev = L
    # low-threshold high-recall regimes are uneconomical: capped
    assert resolve_tables(24, threshold=0.5, target_recall=0.99) == (
        MAX_AUTO_TABLES
    )
    with _pytest.raises(ValueError):
        resolve_tables(8, target_recall=1.0)
    with _pytest.raises(ValueError):
        resolve_tables(8, target_recall=0.0)


def test_full_auto_lsh_sizing_holds_recall_on_planted_clusters(spark):
    """The r12 verdict's auto-sizing gap, closed: resolve_bits holds
    occupancy but concedes per-table recall as bits grow; with
    tables=None ALSO defaulting (resolve_tables), full-auto
    embedding_near_duplicates must keep pair recall >= the 0.9 target on
    planted clusters, in the regime where auto bits EXCEED the floor
    (N/16 > 2^8) — exactly where fixed tables=4 measurably lost
    components (SCALING.md x100: +198 splits)."""
    import numpy as np

    from nntsc_spark.pipeline.similarity import (
        brute_force_near_duplicates,
        embedding_near_duplicates,
        resolve_bits,
        resolve_tables,
    )

    rng = np.random.RandomState(7)
    n_clusters, m, dims = 700, 8, 64
    cents = rng.choice([-1.0, 1.0], size=(n_clusters, dims))
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(m):
            v = cents[c] + rng.normal(0.0, 0.12, size=dims)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    bits = resolve_bits(emb, None)
    assert bits > 8  # the concession regime actually engages
    tables = resolve_tables(bits, threshold=0.95, target_recall=0.9)
    assert tables > 4  # the auto rule actually raises tables here
    truth = {
        (r.v1, r.v2)
        for r in brute_force_near_duplicates(emb, 0.95).collect()
    }
    assert len(truth) > 1000  # the instrument planted real structure
    auto = {
        (r.v1, r.v2)
        for r in embedding_near_duplicates(emb, 0.95).collect()
    }
    assert auto <= truth  # exact verify: no false positives
    assert len(auto & truth) / len(truth) >= 0.9


def test_signature_arrow_path_bit_identical_and_gated(spark, sf_dir):
    """The Arrow/BLAS signature path (one GEMM + sign-pack per batch)
    must produce BIT-IDENTICAL (id, table, signature) tags to the
    inlined-literal expression path the oracles replay — same
    md5-derived planes, same packing — across widths spanning the
    dispatch gate; and multi_table_signatures must route the
    oracle-pinned 32-plane shape through expressions while >=48-plane
    production shapes take the GEMM."""
    from nntsc_spark.pipeline.similarity import (
        ARROW_SIG_MIN_PLANES,
        _multi_table_signatures_arrow,
        _multi_table_signatures_expr,
        multi_table_signatures,
    )
    from nntsc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for bits, tables in ((8, 4), (9, 6), (14, 10)):
        expr = {
            (r[0], r["_t"], r["_s"])
            for r in _multi_table_signatures_expr(
                emb, bits, tables, 64, "vec_id", "embedding"
            ).collect()
        }
        arrow = {
            (r[0], r["_t"], r["_s"])
            for r in _multi_table_signatures_arrow(
                emb, bits, tables, 64, "vec_id", "embedding"
            ).collect()
        }
        assert expr == arrow, (bits, tables)
    # the vector column passes through the Arrow path unchanged
    orig = {r[0]: list(r[1]) for r in emb.select("vec_id", "embedding").collect()}
    got = _multi_table_signatures_arrow(
        emb, 8, 1, 64, "vec_id", "embedding"
    ).collect()
    assert all(list(r["embedding"]) == orig[r[0]] for r in got)
    # dispatch: 4x8=32 planes (every oracle-pinned query) -> expression;
    # at or above the gate -> MapInPandas
    assert 4 * 8 < ARROW_SIG_MIN_PLANES <= 12 * 4
    below = multi_table_signatures(emb, 8, 4, 64)
    above = multi_table_signatures(emb, 12, 4, 64)
    assert "MapInPandas" not in below._jdf.queryExecution().analyzed().toString()
    assert "MapInPandas" in above._jdf.queryExecution().analyzed().toString()


def test_curate_embeddings_composes_dedup_then_cap(spark, sf_dir):
    import pyspark.sql.functions as F
    from nntsc_spark.pipeline.similarity import (
        curate_embeddings,
        semantic_dedup,
    )
    from nntsc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = curate_embeddings(emb, nlist=8, threshold=0.45, per_cell=10)
    per = {r.cell: r.n for r in out.groupBy("cell").count()
           .withColumnRenamed("count", "n").collect()}
    assert all(n <= 10 for n in per.values())
    # every curated vector is a dedup survivor, and within a cell the
    # kept set is the lowest-centroid-sim prefix of the survivors
    sd = semantic_dedup(emb, nlist=8, threshold=0.45)
    kept = {(r.vec_id, r.cell) for r in sd.where("kept").collect()}
    assert {(r.vec_id, r.cell) for r in out.collect()} <= kept
    worst = {r.cell: r.m for r in out.groupBy("cell")
             .agg(F.max("centroid_sim").alias("m")).collect()}
    chosen = {(r.vec_id, r.cell) for r in out.collect()}
    for r in sd.where("kept").collect():
        if (r.vec_id, r.cell) not in chosen:
            assert r.centroid_sim >= worst[r.cell]


def test_epoch_salted_shards_reorder_each_epoch(spark, tmp_path):
    """The epoch index exists so the shard writer can salt each epoch's
    order independently — pin the composition: same docs, different
    per-epoch salt, different within-shard order, identical membership."""
    from nntsc_spark.pipeline.packing import write_training_shards
    from nntsc_spark.pipeline.text import epoch_upsample

    docs = spark.createDataFrame(
        [(i, "src") for i in range(60)], "doc_id long, source string"
    )
    mix = epoch_upsample(docs, {"src": 2.0}, salt="e")
    orders = {}
    for epoch in (0, 1):
        out = str(tmp_path / f"ep{epoch}")
        write_training_shards(
            mix.where(f"epoch = {epoch}").drop("epoch"),
            out, n_shards=2, salt=f"mix:{epoch}",
        )
        back = spark.read.parquet(out)
        orders[epoch] = [
            r.doc_id
            for r in back.where("shard = 0").collect()
        ]
    # same corpus both epochs, but the salted priority reshuffles it
    assert sorted(orders[0] + [r.doc_id for r in spark.read.parquet(
        str(tmp_path / "ep0")).where("shard = 1").collect()]) == list(range(60))
    assert orders[0] != orders[1]


def test_phrase_hits_counts_and_positions(spark):
    import pytest

    from nntsc_spark.pipeline.search import phrase_hits

    df = spark.createDataFrame(
        [(1, "a table value and a table value again"),
         (2, "no match here"),
         (3, "table value"),
         (4, "regex specials .* stay literal: table value")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_hits, r.first_pos)
           for r in phrase_hits(df, "table value").collect()}
    assert got == {1: (2, 3), 3: (1, 1), 4: (1, 33)}
    # a phrase full of regex metacharacters matches only literally
    meta = {r.doc_id for r in phrase_hits(df, ".*").collect()}
    assert meta == {4}
    with pytest.raises(ValueError):
        phrase_hits(df, "")


def test_phrase_hits_many_matches_per_phrase_scans(spark):
    from nntsc_spark.pipeline.search import phrase_hits, phrase_hits_many

    df = spark.createDataFrame(
        [(1, "alpha beta alpha beta"), (2, "gamma"), (3, "beta .*")],
        "doc_id long, text string",
    )
    phrases = ["alpha beta", "beta", ".*"]
    batch = {(r.doc_id, r.phrase): (r.n_hits, r.first_pos)
             for r in phrase_hits_many(df, phrases).collect()}
    singles = {}
    for p in phrases:
        for r in phrase_hits(df, p).collect():
            singles[(r.doc_id, p)] = (r.n_hits, r.first_pos)
    assert batch == singles
    assert batch[(1, "alpha beta")] == (2, 1)
    assert batch[(3, ".*")] == (1, 6)


def test_pq_kmeans_codebooks_degenerate_constant_subspace(spark):
    """k-means++ seeding on a corpus where every training point
    coincides with the chosen centers (all-identical vectors) must fall
    back to a uniform draw instead of raising ValueError from
    rng.choice on an all-zero probability vector (advice r9,
    similarity.py)."""
    from nntsc_spark.pipeline.similarity import pq_codebooks_kmeans

    emb = spark.range(40).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> 1.0) AS embedding",
    )
    cbk = pq_codebooks_kmeans(emb, m=2, ks=4, dims=8, train_cap=40)
    assert len(cbk) == 2 and all(len(b) == 4 for b in cbk)
    # every center collapses onto the single training point
    for book in cbk:
        for center in book:
            assert center == [1.0, 1.0, 1.0, 1.0]


def test_ivfpq_persistent_index_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    """r9 verdict task #1/#7: the IVFADC codes table persisted
    cell-partitioned serves queries identical to the inline ivfpq_topk
    (same quantizer + codebooks), with dynamic partition pruning on the
    probe join."""
    from nntsc_spark.pipeline.similarity import (
        ivfpq_build_index,
        ivfpq_query_index,
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(4))
    path = str(tmp_path / "ivfpq")
    ivfpq_build_index(emb, path, nlist=8, m=8, ks=16)

    inline = {(r.query_id, r.neighbor_id, r.rank, r.adc_d2)
              for r in ivfpq_topk(
                  emb, qids, k=5, nlist=8, nprobe=2, m=8, ks=16
              ).collect()}
    served_df = ivfpq_query_index(emb, path, qids, k=5, nprobe=2)
    served = {(r.query_id, r.neighbor_id, r.rank, r.adc_d2)
              for r in served_df.collect()}
    assert served == inline and served

    # the probed-cell IN-list must prune STATICALLY at the scan — the
    # partition filter on `cell` means unprobed code directories are
    # never listed, let alone read
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    assert "partitionfilters: [cell" in plan.lower().replace("#", ""), (
        plan[:2000]
    )


def test_ivfpq_append_matches_rebuild_exactly_once_and_flags_drift(
    spark, sf_dir, tmp_path
):
    """Exactly-once IVFADC maintenance: build on half, append the other
    half -> queries match a full rebuild with the SAME quantizer and
    codebooks; a double-run of the same batch changes nothing; growing
    residual norms trip the drift flag."""
    from nntsc_spark.pipeline.similarity import (
        _sampled_residual_codebooks,
        centroid_rows,
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    # shared quantizer + codebooks derived from half A so the appended
    # index and the full rebuild encode identically
    cents = centroid_rows(half_a, nlist=8)
    cbs = _sampled_residual_codebooks(half_a, cents, ks=16, m=8, dims=64)

    inc = str(tmp_path / "inc")
    ivfpq_build_index(half_a, inc, nlist=8, centroids=cents, codebooks=cbs)
    res = ivfpq_append(half_b, inc, batch_id=1)
    assert res["n_appended"] == half_b.count()
    assert not res["needs_requantization"]

    full = str(tmp_path / "full")
    ivfpq_build_index(emb, full, nlist=8, centroids=cents, codebooks=cbs)

    qids = list(range(4))
    got_inc = {(r.query_id, r.neighbor_id, r.rank, r.adc_d2)
               for r in ivfpq_query_index(emb, inc, qids, k=5, nprobe=2)
               .collect()}
    got_full = {(r.query_id, r.neighbor_id, r.rank, r.adc_d2)
                for r in ivfpq_query_index(emb, full, qids, k=5, nprobe=2)
                .collect()}
    assert got_inc == got_full and got_inc

    # crash-retry idempotence: same batch again -> identical results,
    # no duplicated code rows
    ivfpq_append(half_b, inc, batch_id=1)
    again = {(r.query_id, r.neighbor_id, r.rank, r.adc_d2)
             for r in ivfpq_query_index(emb, inc, qids, k=5, nprobe=2)
             .collect()}
    assert again == got_inc
    assert spark.read.parquet(f"{inc}/codes").count() == emb.count()
    with pytest.raises(ValueError, match="batch_id"):
        ivfpq_append(half_b, inc, batch_id=0)

    # drift: append vectors far from every centroid -> residual norms
    # grow -> flag trips (relative growth beyond drift_tol)
    import random

    rng = random.Random(7)
    far = spark.createDataFrame(
        [(10_000 + i,
          [rng.uniform(40.0, 60.0) for _ in range(64)])
         for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    res2 = ivfpq_append(far, inc, batch_id=2)
    assert res2["needs_requantization"]
    assert res2["mean_resid_norm"] > res2["build_mean_resid_norm"]


def test_training_corpus_embedding_stage_boundary_accounting(spark, sf_dir):
    """r9 verdict task #8: the composed pipeline's embedding stage is a
    pure FILTER on the text stage's output (every curated row's text
    columns are exactly the text-only run's), its row count respects the
    nlist x per_cell bound, and it equals running curate_embeddings
    manually over the text survivors' vectors with the full-table
    quantizer."""
    from nntsc_spark.pipeline.corpus import training_corpus
    from nntsc_spark.pipeline.similarity import (
        centroid_rows,
        curate_embeddings,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    text_only = training_corpus(docs)
    composed = training_corpus(
        docs, embeddings=emb, emb_nlist=8, emb_per_cell=5
    )

    t_rows = {r["doc_id"]: r for r in text_only.collect()}
    c_rows = composed.collect()
    assert 0 < len(c_rows) <= 8 * 5
    for r in c_rows:
        base = t_rows[r["doc_id"]]  # KeyError = not a pure filter
        assert (r["text"], r["n_tokens"], r["quality_score"]) == (
            base["text"], base["n_tokens"], base["quality_score"]
        )

    # manual composition: same ids, same (cell, centroid_sim)
    cents = centroid_rows(emb, 8)
    emb_kept = emb.join(
        text_only.select(F.col("doc_id").alias("vec_id")),
        "vec_id", "left_semi",
    )
    manual = {
        (r["vec_id"], r["cell"], r["centroid_sim"])
        for r in curate_embeddings(
            emb_kept, nlist=8, per_cell=5, centroids=cents
        ).collect()
    }
    got = {(r["doc_id"], r["cell"], r["centroid_sim"]) for r in c_rows}
    assert got == manual


def test_arrow_assignment_matches_fold_path_at_large_nlist(spark, sf_dir):
    """The BLAS assignment path (nlist >= ARROW_ASSIGN_MIN_NLIST) must
    agree with the inlined-fold path on cell and round-4 centroid_sim
    wherever the decision isn't a round-4 boundary tie (accumulation
    order differs between GEMM and left-to-right folds, so exact-ulp
    equality is not the contract — argmax stability is)."""
    import numpy as np

    from nntsc_spark.pipeline.similarity import (
        _assign_cells_arrow,
        centroid_rows,
        ivf_cell_scores_sql,
        vnorm_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroid_rows(emb, 64)
    got = {
        r["vec_id"]: (r["cell"], r["centroid_sim"])
        for r in _assign_cells_arrow(emb, cents, "vec_id", "embedding")
        .collect()
    }
    assert len(got) == emb.count()

    # fold-path reference scores, straight from the same SQL the small-
    # nlist path inlines
    ref = emb.select(
        "vec_id",
        "embedding",
        F.expr(vnorm_sql("embedding")).alias("_vn"),
    ).select(
        "vec_id",
        F.expr(ivf_cell_scores_sql("embedding", cents)).alias("_cs"),
    ).collect()
    n_checked = 0
    for r in ref:
        cs = np.asarray(r["_cs"])
        order = np.argsort(-cs, kind="stable")
        margin = cs[order[0]] - cs[order[1]]
        cell, sim = got[r["vec_id"]]
        assert abs(sim - cs[cell]) <= 2e-4
        if margin > 1e-3:  # unambiguous winner
            assert cell == int(order[0]), (r["vec_id"], cell, order[0])
            n_checked += 1
    assert n_checked > 400  # the synthetic corpus is mostly unambiguous


def test_two_level_assignment_agrees_with_flat(spark, sf_dir):
    """The coarse->fine two-level assignment (the >=1e4-cell production
    front) must (a) reproduce flat assignment EXACTLY when every
    super-cell is probed — same round-4 scores, same lowest-cell ties —
    and (b) agree with flat assignment on the vast majority of rows at
    the default probe_supers=2 recall-for-flops setting."""
    from nntsc_spark.pipeline.similarity import (
        _assign_cells_arrow,
        _assign_cells_two_level,
        centroid_rows,
        two_level_quantizer,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroid_rows(emb, 100)
    supers, members = two_level_quantizer(cents)
    # every fine cell appears exactly once across super-cells
    flat_members = sorted(c for m in members for c in m)
    assert flat_members == sorted(c for c, _ in cents)

    flat = {
        r["vec_id"]: (r["cell"], r["centroid_sim"])
        for r in _assign_cells_arrow(emb, cents, "vec_id", "embedding")
        .collect()
    }
    exact = {
        r["vec_id"]: (r["cell"], r["centroid_sim"])
        for r in _assign_cells_two_level(
            emb, cents, "vec_id", "embedding",
            probe_supers=len(supers),
        ).collect()
    }
    assert exact == flat  # full probe == flat, bit for bit

    # the recall check needs CLUSTERED data (the regime coarse routing
    # exists for): on an isotropic corpus every cosine margin is ~0 and
    # super-cell pruning is uninformative by construction (measured 66%
    # there — that is the instrument, not the operator; real embedding
    # corpora cluster, which is the whole premise of SemDeDup/IVF)
    import random

    rng = random.Random(5)
    axes = [[1.0 if d == a else 0.0 for d in range(16)] for a in range(8)]
    rows = []
    for i in range(400):
        ax = axes[i % 8]
        rows.append(
            (i, [x + rng.gauss(0.0, 0.05) for x in ax])
        )
    clustered = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    ccents = centroid_rows(clustered, 64)
    cflat = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells_arrow(
            clustered, ccents, "vec_id", "embedding"
        ).collect()
    }
    capprox = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells_two_level(
            clustered, ccents, "vec_id", "embedding", probe_supers=2
        ).collect()
    }
    agree = sum(1 for k, v in capprox.items() if v == cflat[k])
    assert agree / len(cflat) >= 0.95, agree / len(cflat)


def test_assignment_paths_agree_on_noncontiguous_cell_ids(spark):
    """All THREE assignment paths (inlined fold, Arrow BLAS, two-level
    full-probe) must emit the ACTUAL centroid id as `cell` — including
    when the injected quantizer's ids are non-contiguous and arrive
    unsorted (r10 advice: the fold/arrow paths emitted positional
    indices, diverging from the two-level path and from the driver-side
    IVFADC probe builder exactly when ids weren't 0..nlist-1)."""
    import random

    from nntsc_spark.pipeline.similarity import (
        _assign_cells,
        _assign_cells_arrow,
        _assign_cells_two_level,
        ivfpq_residuals,
    )

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [
            (i, [rng.gauss(0.0, 1.0) for _ in range(8)])
            for i in range(120)
        ],
        "vec_id long, embedding array<double>",
    )
    # non-contiguous, unsorted centroid ids: positions 0..3 != ids
    cents = [
        (17, [1.0, 0, 0, 0, 0, 0, 0, 0]),
        (3, [0, 1.0, 0, 0, 0, 0, 0, 0]),
        (99, [0, 0, 1.0, 0, 0, 0, 0, 0]),
        (42, [0, 0, 0, 1.0, 0, 0, 0, 0]),
    ]
    valid = {3, 17, 42, 99}

    fold = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells(emb, cents, "vec_id", "embedding").collect()
    }
    arrow = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells_arrow(
            emb, cents, "vec_id", "embedding"
        ).collect()
    }
    two = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells_two_level(
            emb, cents, "vec_id", "embedding", probe_supers=4
        ).collect()
    }
    assert set(fold.values()) <= valid
    assert fold == arrow == two

    # the IVFADC encode side labels cells the same way (its L2 argmin can
    # legitimately differ from the cosine argmax, but every label must be
    # a real centroid id — the probe LUTs are keyed by actual ids)
    res = {
        r["vec_id"]: r["cell"]
        for r in ivfpq_residuals(emb, cents).collect()
    }
    assert set(res.values()) <= valid


def test_arrow_assignment_zero_norm_vector_is_deterministic(spark):
    """A degenerate all-zero vector must not produce NaN scores whose
    argmax lands on an arbitrary cell: the guarded divisor scores it 0.0
    everywhere, so it lands in the lowest cell id with centroid_sim 0.0."""
    from nntsc_spark.pipeline.similarity import _assign_cells_arrow

    emb = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [(5, [1.0, 0, 0, 0]), (2, [0, 1.0, 0, 0])]
    got = {
        r["vec_id"]: (r["cell"], r["centroid_sim"])
        for r in _assign_cells_arrow(
            emb, cents, "vec_id", "embedding"
        ).collect()
    }
    assert got[0] == (2, 0.0)  # lowest cell id, sim 0.0 — not NaN
    assert got[1] == (5, 1.0)


def test_ivfpq_ensure_index_amortizes_and_rebuilds_on_stale(
    spark, sf_dir, tmp_path
):
    """The fingerprint gate: same fingerprint -> the build is SKIPPED
    (the registered query's bench shape measures serving, not a per-call
    corpus re-encode); a changed fingerprint (corpus grew, params
    changed) -> rebuild; an interrupted build (no fingerprint written)
    -> retried whole."""
    from nntsc_spark.pipeline.similarity import (
        ivfpq_ensure_index,
        ivfpq_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    fp = "corpus|n=500|nlist=8|m=8|ks=16"

    assert ivfpq_ensure_index(emb, path, fp, nlist=8, m=8, ks=16) is True
    first = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_query_index(
            emb, path, [0, 1], k=5, nprobe=2
        ).collect()
    }
    assert first

    # hit: no rebuild, served results identical
    assert ivfpq_ensure_index(emb, path, fp, nlist=8, m=8, ks=16) is False
    again = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_query_index(
            emb, path, [0, 1], k=5, nprobe=2
        ).collect()
    }
    assert again == first

    # stale: corpus fingerprint changed -> rebuild runs
    assert (
        ivfpq_ensure_index(
            emb, path, fp + "|n2", nlist=8, m=8, ks=16
        )
        is True
    )

    # interrupted build: kill the fingerprint table -> next ensure rebuilds
    import shutil

    shutil.rmtree(f"{path}/fingerprint")
    assert (
        ivfpq_ensure_index(emb, path, fp + "|n2", nlist=8, m=8, ks=16)
        is True
    )


def test_ivfpq_build_two_level_full_probe_matches_flat(
    spark, sf_dir, tmp_path
):
    """ivfpq_build_index(assign_two_level=True) at FULL probe must
    produce the same index as the flat fold build — same cells, same PQ
    codes, so identical served results (r10 verdict task #7: assignment
    is the build's dominant cost at production nlist; the two-level
    front must be a pure speedup when every super-cell is probed)."""
    from nntsc_spark.pipeline.similarity import (
        ivfpq_build_index,
        ivfpq_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ivfpq_build_index(emb, str(tmp_path / "flat"), nlist=8, m=8, ks=16)
    ivfpq_build_index(
        emb, str(tmp_path / "two"), nlist=8, m=8, ks=16,
        assign_two_level=True, probe_supers=8,  # min()s to all supers
    )

    flat_codes = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(
            str(tmp_path / "flat" / "codes")
        ).collect()
    }
    two_codes = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(
            str(tmp_path / "two" / "codes")
        ).collect()
    }
    assert two_codes == flat_codes and flat_codes

    qids = [0, 1, 2, 3]
    served_flat = {
        (r.query_id, r.neighbor_id, r.rank, r.adc_d2)
        for r in ivfpq_query_index(
            emb, str(tmp_path / "flat"), qids, k=5, nprobe=2
        ).collect()
    }
    served_two = {
        (r.query_id, r.neighbor_id, r.rank, r.adc_d2)
        for r in ivfpq_query_index(
            emb, str(tmp_path / "two"), qids, k=5, nprobe=2
        ).collect()
    }
    assert served_two == served_flat and served_flat


def test_ivfpq_maintain_rebuilds_on_drift_and_is_idempotent(
    spark, tmp_path
):
    """Close the IVFADC drift loop (flag -> action): build on an axis-A
    corpus, append a distribution-shifted axis-C batch (drift flagged),
    then ivfpq_maintain retrains the quantizer over the CURRENT corpus
    and rebuilds in place — residual norms recover, a served query for a
    C vector finds its C neighbors, and a second maintain run no-ops
    (the rebuild's static stats overwrite leaves no drifted batches)."""
    from nntsc_spark.pipeline.similarity import (
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_maintain,
        ivfpq_query_index,
    )

    path = str(tmp_path / "idx")
    axis_a = spark.createDataFrame(
        [
            (i, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.001 * i])
            for i in range(16)
        ],
        "vec_id long, embedding array<double>",
    )
    axis_c = spark.createDataFrame(
        [
            (100 + i, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.001 * i])
            for i in range(8)
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.008]),
    ]
    ivfpq_build_index(
        axis_a, path, nlist=2, m=4, ks=4, dims=8, centroids=cents
    )
    res = ivfpq_append(axis_c, path, batch_id=1)
    assert res["needs_requantization"]

    corpus = axis_a.unionByName(axis_c)
    out = ivfpq_maintain(corpus, path)
    assert out["rebuilt"] is True
    assert out["drifted_batches"] == [1]
    # the retrained quantizer covers BOTH clusters: residuals recover
    assert out["new_mean_resid_norm"] < res["mean_resid_norm"] / 2
    assert out["new_mean_resid_norm"] < 0.25

    # recall restored: a C query served from the rebuilt index finds its
    # C neighbors (the stale quantizer + out-of-range PQ codebooks gave
    # it garbage ADC distances)
    served = ivfpq_query_index(
        corpus, path, [100], k=3, nprobe=1
    ).collect()
    assert served and all(r.neighbor_id >= 100 for r in served), served

    # double-run idempotent: the rebuild cleared the append stats rows
    out2 = ivfpq_maintain(corpus, path)
    assert out2["rebuilt"] is False and out2["drifted_batches"] == []


def test_ivf_maintain_rebuilds_on_drift_and_is_idempotent(spark, tmp_path):
    """IVF-Flat drift repair, mirroring the IVFADC job: a shifted batch
    drops mean best-cell cosine past the tolerance; maintain retrains
    over the current corpus, the cosine anchor recovers, and a second
    run no-ops."""
    from nntsc_spark.pipeline.similarity import (
        ivf_append,
        ivf_build_index,
        ivf_maintain,
    )

    path = str(tmp_path / "ivf")
    axis_a = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.001 * i]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    axis_c = spark.createDataFrame(
        [(100 + i, [0.0, 0.0, 1.0, 0.001 * i]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    ivf_build_index(axis_a, path, nlist=2)
    res = ivf_append(axis_c, path, batch_id=1)
    assert res["needs_requantization"]

    corpus = axis_a.unionByName(axis_c)
    out = ivf_maintain(corpus, path)
    assert out["rebuilt"] is True and out["drifted_batches"] == [1]
    assert out["new_mean_best_cosine"] > 0.99  # both clusters covered

    out2 = ivf_maintain(corpus, path)
    assert out2["rebuilt"] is False and out2["drifted_batches"] == []


def test_semantic_dedup_arrow_pair_stage_matches_join(spark, sf_dir):
    """The BLAS pair-verify stage (nlist >= ARROW_ASSIGN_MIN_NLIST) must
    reproduce the relational join + fold stage's verdicts: same kept set
    per vector on the pinned corpus (numeric caveat: a round-4 BOUNDARY
    cosine could flip under BLAS accumulation + half-even rounding —
    none exists in this corpus at tau=0.95)."""
    from nntsc_spark.pipeline.similarity import (
        ARROW_ASSIGN_MIN_NLIST,
        _semantic_pairs_arrow,
        centroid_rows,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    nlist = ARROW_ASSIGN_MIN_NLIST  # smallest gated size
    # low threshold so the pair stage actually has survivors to compare
    # (at nlist=64 the cells hold ~8 vectors; same-cell cosines on this
    # corpus need a low tau to produce a meaningful pair set)
    tau = 0.2
    got = {
        (r["vec_id"], r["cell"], r["kept"])
        for r in semantic_dedup(emb, nlist=nlist, threshold=tau).collect()
    }

    # reference: force the relational join stage by injecting the same
    # quantizer through the SMALL-nlist path on a pre-assigned frame —
    # rebuild semantic_dedup's join manually via its public shape:
    # run the fold-gated path with the SAME centroids by calling
    # semantic_dedup with nlist below the gate is impossible at 64, so
    # reconstruct the join result from the arrow pair stage's inputs.
    from nntsc_spark.pipeline.similarity import _assign_cells_arrow
    from nntsc_spark.scratch import scratch_persist

    cents = centroid_rows(emb, nlist)
    assigned = _assign_cells_arrow(emb, cents, "vec_id", "embedding")
    from nntsc_spark.pipeline.similarity import dot_expr

    # rename the right side's columns outright: a plain self-alias join
    # on the SAME plan object silently resolves both sides of
    # a.vec_id < b.vec_id to one column (empty result), Spark's classic
    # self-join ambiguity trap
    b = assigned.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("embedding_b"),
        F.col("_vn").alias("_vn_b"),
        F.col("cell").alias("cell_b"),
        F.col("centroid_sim").alias("centroid_sim_b"),
    )
    join_pairs = (
        assigned.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("vec_id") < F.col("vec_id_b")),
        )
        .where(
            F.round(
                dot_expr(F.col("embedding"), F.col("embedding_b"))
                / (F.col("_vn") * F.col("_vn_b")),
                4,
            )
            >= tau
        )
        .select(
            F.col("vec_id").alias("v1"),
            F.col("centroid_sim").alias("s1"),
            F.col("vec_id_b").alias("v2"),
            F.col("centroid_sim_b").alias("s2"),
        )
    )
    ref_pairs = {
        (r["v1"], round(r["s1"], 4), r["v2"], round(r["s2"], 4))
        for r in join_pairs.collect()
    }
    arrow_pairs = {
        (r["v1"], round(r["s1"], 4), r["v2"], round(r["s2"], 4))
        for r in _semantic_pairs_arrow(
            assigned, tau, 4, "vec_id", "embedding"
        ).collect()
    }
    assert arrow_pairs == ref_pairs and ref_pairs

    # and the end-to-end kept set derived from the reference pairs
    losers = {
        (v2 if s1 <= s2 else v1) for v1, s1, v2, s2 in ref_pairs
    }
    ref = {
        (r["vec_id"], r["cell"], r["vec_id"] not in losers)
        for r in assigned.select("vec_id", "cell").collect()
    }
    assert got == ref


def test_ivf_build_index_large_nlist_uses_arrow_labels(
    spark, sf_dir, tmp_path
):
    """An IVF-Flat index built at production nlist routes assignment
    through the BLAS path — the persisted corpus must carry exactly the
    arrow labels (actual centroid ids), and queries against it serve."""
    from nntsc_spark.pipeline.similarity import (
        _assign_cells_arrow,
        centroid_rows,
        ivf_build_index,
        ivf_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroid_rows(emb, 64)
    ivf_build_index(emb, str(tmp_path / "big"), nlist=64, centroids=cents)
    persisted = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(
            str(tmp_path / "big" / "corpus")
        ).select("vec_id", "cell").collect()
    }
    arrow = {
        (r["vec_id"], r["cell"])
        for r in _assign_cells_arrow(
            emb, cents, "vec_id", "embedding"
        ).collect()
    }
    assert persisted == arrow
    served = ivf_query_index(
        spark, str(tmp_path / "big"), [0, 1], k=3, nprobe=8
    ).collect()
    assert len(served) == 6


def test_corpus_shuffle_is_deterministic_permutation(spark, sf_dir):
    """corpus_shuffle: (a) every doc appears exactly once with a unique
    (shard, position) slot and positions are dense 0..n_s-1 per shard;
    (b) same seed -> identical order across runs; (c) a new seed is a
    different permutation; (d) the plan sorts per shard, never globally
    (no rangepartitioning exchange)."""
    from nntsc_spark.pipeline.packing import corpus_shuffle

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    out = corpus_shuffle(docs, shards=8, seed="e0").select(
        "doc_id", "shard", "shuffle_pos"
    )
    rows = out.collect()
    assert len(rows) == n
    slots = {(r["shard"], r["shuffle_pos"]) for r in rows}
    assert len(slots) == n  # unique slots
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["shuffle_pos"])
    for ps in by_shard.values():
        assert sorted(ps) == list(range(len(ps)))  # dense per shard

    again = {
        (r["doc_id"], r["shard"], r["shuffle_pos"])
        for r in corpus_shuffle(docs, shards=8, seed="e0")
        .select("doc_id", "shard", "shuffle_pos")
        .collect()
    }
    assert again == {(r["doc_id"], r["shard"], r["shuffle_pos"]) for r in rows}

    other = {
        (r["doc_id"], r["shard"], r["shuffle_pos"])
        for r in corpus_shuffle(docs, shards=8, seed="e1")
        .select("doc_id", "shard", "shuffle_pos")
        .collect()
    }
    assert other != again  # fresh permutation per epoch seed

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan[:1500]
    assert "hashpartitioning(shard" in plan, plan[:1500]


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_matches_bruteforce(spark):
    """Blocked candidate generation is COMPLETE (recall 1.0) and the
    verify is exact: seeded random vocabularies over a small alphabet
    (so collisions and tiny strings are dense) across (k, q) combos,
    compared to an all-pairs Levenshtein reference.  Exercises all three
    strata: q-gram (len >= (k+1)q), 1-gram short keys, and the tiny
    cross (len <= k, including share-no-character pairs like 'a'/'b')."""
    import itertools
    import random

    from nntsc_spark.pipeline.dedup import edit_distance_pairs

    rng = random.Random(11)
    for trial in range(3):
        words = sorted(
            {
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 12)))
                for _ in range(rng.randint(12, 35))
            }
        )
        df = spark.createDataFrame([(w,) for w in words], "s string")
        for k, q in [(1, 2), (2, 3), (3, 2), (0, 2)]:
            got = {
                (r.s1, r.s2, r.dist)
                for r in edit_distance_pairs(df, "s", max_dist=k, q=q).collect()
            }
            want = {
                (a, b, _lev(a, b))
                for a, b in itertools.combinations(words, 2)
                if _lev(a, b) <= k
            }
            assert got == want, (trial, k, q, want - got, got - want)


def test_deletion_neighborhood_matches_python_reference(spark):
    """The short-stratum blocking index is the exact <=k-deletion
    neighborhood (FastSS / symmetric delete): distinct, non-empty, and
    codepoint-based — 'héllo' deletes the single codepoint 'é', not a
    UTF-8 byte.  Pinned against an itertools reference."""
    from itertools import combinations

    from nntsc_spark.pipeline.dedup import _deletion_variants

    def ref(s: str, k: int) -> set[str]:
        out = set()
        for j in range(k + 1):
            for idxs in combinations(range(len(s)), j):
                v = "".join(c for i, c in enumerate(s) if i not in idxs)
                if v:
                    out.add(v)
        return out

    words = ["cat", "héllo", "ab", "a", "crane", "日本語"]
    for k in (0, 1, 2):
        df = spark.createDataFrame([(w,) for w in words], "s string")
        got = {
            r.s: set(r.v)
            for r in df.select(
                "s", _deletion_variants(F.col("s"), k).alias("v")
            ).collect()
        }
        for w in words:
            assert got[w] == ref(w, k), (w, k)


def test_edit_distance_pairs_max_df_is_recall_only(spark):
    """The hot-gram cap loses pairs only (never fabricates or mis-scores):
    capped output is a subset of exact output with identical distances,
    and a pair whose blocking grams are all low-df survives the cap."""
    from nntsc_spark.pipeline.dedup import edit_distance_pairs

    # 12 words sharing the hot gram 'zz' + one pair ('walrus'/'walruz')
    # matched through low-df grams only
    words = [f"zz{c}" for c in "abcdefghijkl"] + ["walrus", "walruz"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    exact = {
        (r.s1, r.s2): r.dist
        for r in edit_distance_pairs(df, "s", max_dist=1, q=2).collect()
    }
    capped = {
        (r.s1, r.s2): r.dist
        for r in edit_distance_pairs(
            df, "s", max_dist=1, q=2, max_df=4
        ).collect()
    }
    assert set(capped) <= set(exact)
    assert all(exact[p] == d for p, d in capped.items())
    assert ("walrus", "walruz") in capped


def test_fuzzy_canonical_map_elects_frequency_then_lex(spark):
    """Every token maps to the most frequent of {self} ∪ neighbours;
    frequency ties break to the lexicographically smallest candidate;
    a token with no better neighbour maps to itself; and the election
    is ONE STEP — a chain a-b-c never maps a to c."""
    from nntsc_spark.pipeline.dedup import (
        edit_distance_pairs,
        fuzzy_canonical_map,
    )

    # 'tha' (typo, rare) ~ 'the' (common) at distance 1 (NB plain
    # Levenshtein scores the transposition 'teh'~'the' as 2, not 1);
    # 'cat' ~ 'bat' tie at 5 -> lex smallest 'bat' wins for both;
    # chain 'aaaa' ~ 'aaab' ~ 'aabb' with ascending counts: the ends
    # are distance 2 apart, so at k=1 only the chain edges pair and
    # 'aaaa' must elect 'aaab', never 'aabb'
    rows = [
        ("tha", 2), ("the", 100),
        ("cat", 5), ("bat", 5),
        ("aaaa", 1), ("aaab", 3), ("aabb", 9),
        ("zzzzzz", 7),
    ]
    vocab = spark.createDataFrame(rows, "tok string, n long")
    pairs = edit_distance_pairs(vocab, key_col="tok", max_dist=1, q=2)
    got = {
        r.tok: (r.canonical, r.canonical_n)
        for r in fuzzy_canonical_map(vocab, pairs).collect()
    }
    assert got["tha"] == ("the", 100)
    assert got["the"] == ("the", 100)
    assert got["cat"] == ("bat", 5)  # tie -> lex smallest
    assert got["bat"] == ("bat", 5)
    assert got["aaaa"] == ("aaab", 3)  # one step only
    assert got["aaab"] == ("aabb", 9)
    assert got["aabb"] == ("aabb", 9)
    assert got["zzzzzz"] == ("zzzzzz", 7)  # isolated -> identity
    assert len(got) == len(rows)  # every vocab token gets a row


def test_apply_token_map_preserves_order_spacing_and_counts(spark):
    """Rewrite is position-exact: token order survives, repeated
    separators (empty split tokens) survive, unmapped tokens pass
    through, and n_changed counts only genuine substitutions."""
    from nntsc_spark.pipeline.text import apply_token_map

    docs = spark.createDataFrame(
        [
            (1, "teh cat sat on  teh mat"),   # double space -> empty token
            (2, "clean text only"),
            (3, "teh teh teh"),
        ],
        "doc_id long, text string",
    )
    cmap = spark.createDataFrame(
        [("teh", "the"), ("mat", "rug")], "tok string, canonical string"
    )
    out = {r.doc_id: r for r in apply_token_map(docs, cmap).collect()}
    assert out[1].text_norm == "the cat sat on  the rug"
    assert out[1].n_changed == 3
    assert out[2].text_norm == "clean text only"
    assert out[2].n_changed == 0
    assert out[3].text_norm == "the the the"
    assert out[3].n_changed == 3


def test_apply_token_map_null_text_survives(spark):
    """The null contract: a NULL text rewrites to '' with n_changed=0
    instead of vanishing from the output (posexplode of a null token
    array emits no rows — the coalesce guards the per-document row)."""
    from nntsc_spark.pipeline.text import apply_token_map

    docs = spark.createDataFrame(
        [(1, "teh cat"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    cmap = spark.createDataFrame(
        [("teh", "the")], "tok string, canonical string"
    )
    out = {r.doc_id: r for r in apply_token_map(docs, cmap).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].text_norm == "the cat" and out[1].n_changed == 1
    assert out[2].text_norm == "" and out[2].n_changed == 0
    assert out[3].text_norm == "" and out[3].n_changed == 0


def test_edit_distance_join_matches_bruteforce(spark):
    """Two-table linkage is complete and exact, including distance-0
    (same key in both tables) and cross-table short keys — seeded random
    universes vs an all-pairs Levenshtein reference across (k, q)."""
    import random

    from nntsc_spark.pipeline.dedup import edit_distance_join

    rng = random.Random(23)
    for trial in range(2):
        mk = lambda: sorted(
            {
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 11)))
                for _ in range(rng.randint(8, 25))
            }
        )
        L, R = mk(), mk()
        dl = spark.createDataFrame([(w,) for w in L], "s string")
        dr = spark.createDataFrame([(w,) for w in R], "t string")
        for k, q in [(0, 2), (1, 2), (2, 3)]:
            got = {
                (r.s, r.t, r.dist)
                for r in edit_distance_join(
                    dl, dr, "s", "t", max_dist=k, q=q
                ).collect()
            }
            want = {
                (a, b, _lev(a, b)) for a in L for b in R if _lev(a, b) <= k
            }
            assert got == want, (trial, k, q, want - got, got - want)


def test_edit_distance_join_max_df_is_union_of_sides(spark):
    """The hot-gram cap's df is computed over the UNION of both sides'
    indexes, so a gram hot on the left and cold on the right is pruned
    from BOTH indexes.  Per-side pruning would leave the gram in the
    right index, inflating the right key's distinct-gram count and
    tightening the count-prune threshold past a true pair.

    Construction (k=1, q=2, max_df=5): 'ab' appears in 10 left keys and
    1 right key.  The true pair ('abcdxf', 'abcdef') shares 3 grams
    {ab, bc, cd}; with 'ab' pruned from the left only, shared drops to 2
    while the right side keeps all 5 distinct grams, so the threshold
    max(4, 5) - k*q = 3 > 2 drops the pair.  Union pruning removes 'ab'
    from both (threshold max(4, 4) - 2 = 2) and the pair survives."""
    from nntsc_spark.pipeline.dedup import edit_distance_join

    left_keys = ["abcdxf"] + [f"abq{i}" for i in range(9)]
    dl = spark.createDataFrame([(s,) for s in left_keys], "s string")
    dr = spark.createDataFrame([("abcdef",)], "t string")
    capped = {
        (r.s, r.t, r.dist)
        for r in edit_distance_join(
            dl, dr, "s", "t", max_dist=1, q=2, max_df=5
        ).collect()
    }
    assert ("abcdxf", "abcdef", 1) in capped
    # and the cap stays recall-only: capped output is a subset of exact
    exact = {
        (r.s, r.t, r.dist)
        for r in edit_distance_join(dl, dr, "s", "t", max_dist=1, q=2).collect()
    }
    assert capped <= exact


def test_edit_distance_join_same_column_name_suffixes_right(spark):
    from nntsc_spark.pipeline.dedup import edit_distance_join

    dl = spark.createDataFrame([("abcd",)], "s string")
    dr = spark.createDataFrame([("abcx",)], "s string")
    out = edit_distance_join(dl, dr, "s", "s", max_dist=1, q=2)
    assert out.columns == ["s", "s_r", "dist"]
    rows = out.collect()
    assert [(r.s, r.s_r, r.dist) for r in rows] == [("abcd", "abcx", 1)]


def test_edit_distance_pairs_counts_codepoint_edits(spark):
    """Unicode contract pin: distances are CODEPOINT edits ('\u00e9' vs
    'e' is ONE edit), matching Spark's levenshtein — NOT byte edits
    (DuckDB's convention, where the same pair scores 2).  The paired
    oracles are therefore ASCII-equivalent only; this test fails if a
    Spark upgrade ever flips the engine-side semantics."""
    from nntsc_spark.pipeline.dedup import edit_distance_pairs

    pre = "caf\u00e9s"    # precomposed e-acute: 5 codepoints, 6 utf-8 bytes
    comb = "cafe\u0301s"  # e + combining acute: 6 codepoints
    plain = "cafes"
    df = spark.createDataFrame([(pre,), (comb,), (plain,)], "s string")
    got = {
        tuple(sorted((r.s1, r.s2))): r.dist
        for r in edit_distance_pairs(df, "s", max_dist=2, q=2).collect()
    }
    # precomposed vs plain: ONE substitution (byte semantics would say 2)
    assert got[tuple(sorted((pre, plain)))] == 1
    # combining form vs plain: ONE insertion (the combining mark)
    assert got[tuple(sorted((comb, plain)))] == 1
    # precomposed vs combining: sub + insert = 2 codepoint edits
    assert got[tuple(sorted((pre, comb)))] == 2


def test_clean_lines_defer_gate_is_lazy_and_equal(spark):
    """defer_gate=True builds the plan without running ANY Spark job
    (the broadcast-safety count is skipped; AQE picks the join strategy
    at run time) and produces the identical cleaned corpus."""
    from nntsc_spark.pipeline.cleaning import clean_lines

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps today.\ncommon boilerplate line."),
            (2, "a different real sentence here.\ncommon boilerplate line."),
            (3, "common boilerplate line.\nanother genuine sentence stands."),
        ],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    before = sc.statusTracker().getJobIdsForGroup(None)
    lazy = clean_lines(docs, max_count=2, defer_gate=True)
    after = sc.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "plan construction ran a Spark job"
    eager = clean_lines(docs, max_count=2)
    assert sorted(map(tuple, lazy.collect())) == sorted(
        map(tuple, eager.collect())
    )


def test_signature_tags_norm_and_malformed_parity(spark):
    """r14: id-only tag rows with carried norms (include_vec=False,
    include_norm=True) must agree between the expression and Arrow paths
    — including on MALFORMED vectors, where the Arrow path replays the
    SQL fold per row (r13 advice): wrong-length / NULL-element / NULL
    vectors fold to NULL -> every bit 0; a NaN coordinate makes every
    dot NaN, which Spark's NaN-is-largest ordering sends through
    ``> 0`` -> every bit 1."""
    import math

    from nntsc_spark.pipeline.similarity import (
        _multi_table_signatures_arrow,
        _multi_table_signatures_expr,
    )

    dims, bits, tables = 8, 5, 3
    rows = [
        (1, [float((17 * d + 3) % 9 - 4) for d in range(dims)]),
        (2, [float((5 * d + 1) % 7 - 3) for d in range(dims)]),
        (3, [1.0] * (dims - 2)),              # too short
        (4, [1.0] * (dims + 3)),              # too long
        (5, [1.0] * (dims - 1) + [None]),     # NULL element
        (6, None),                            # NULL vector
        (7, [1.0] * (dims - 1) + [float("nan")]),  # NaN coordinate
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    expr = {
        (r["vec_id"], r["_t"]): (r["_s"], r["_n"])
        for r in _multi_table_signatures_expr(
            emb, bits, tables, dims, "vec_id", "embedding",
            include_vec=False, include_norm=True,
        ).collect()
    }
    arrow = {
        (r["vec_id"], r["_t"]): (r["_s"], r["_n"])
        for r in _multi_table_signatures_arrow(
            emb, bits, tables, dims, "vec_id", "embedding",
            include_vec=False, include_norm=True,
        ).collect()
    }
    assert set(expr) == set(arrow)
    for key in expr:
        vid = key[0]
        if vid == 7:
            # documented divergence: pandas erases the NULL-element/NaN
            # distinction, so the Arrow path masks NaN dots to the
            # all-zero garbage bucket where Spark's NaN-above-everything
            # ordering gives the expression path all-ones
            assert expr[key][0] == (1 << bits) - 1
            assert arrow[key][0] == 0
        else:
            # signatures: bit-identical on every other input,
            # malformed included
            assert expr[key][0] == arrow[key][0], key
        if vid == 7:
            # documented seam: NaN-coordinate vectors get a NaN norm
            # from the expression fold but NULL from the Arrow path
            # (pandas->Arrow turns the NaN sentinel into null) — the
            # drop-garbage direction for the downstream cosine filter
            assert expr[key][1] is not None and math.isnan(expr[key][1])
            assert arrow[key][1] is None
        elif vid in (3, 4):
            # norm_expr zips the vector with itself: wrong-length
            # vectors still fold a real norm over their own elements
            assert expr[key][1] == arrow[key][1] == math.sqrt(
                dims - 2 if vid == 3 else dims + 3
            ), key
        elif vid in (5, 6):
            assert expr[key][1] is None and arrow[key][1] is None, key
        else:
            assert expr[key][1] == arrow[key][1], key  # bit-identical
    # malformed signature values take the documented constants
    zero_sig = {expr[(v, t)][0] for v in (3, 4, 5, 6) for t in range(tables)}
    assert zero_sig == {0}


def test_sanitize_vectors_collapses_nonfinite_to_null(spark):
    """r14 advice: normalizing NaN/Inf coordinates to NULL elements at
    the ingestion seam makes the documented expression-vs-Arrow NaN
    divergence unreachable — after sanitize_vectors, BOTH signature
    paths agree bit-for-bit on every row, the NaN class included."""
    from nntsc_spark.pipeline.similarity import (
        _multi_table_signatures_arrow,
        _multi_table_signatures_expr,
        sanitize_vectors,
    )

    dims, bits, tables = 8, 5, 3
    rows = [
        (1, [float((17 * d + 3) % 9 - 4) for d in range(dims)]),
        (2, [1.0] * (dims - 1) + [None]),          # NULL element: untouched
        (3, None),                                 # NULL vector: untouched
        (4, [1.0] * (dims - 1) + [float("nan")]),  # NaN -> NULL element
        (5, [1.0] * (dims - 1) + [float("inf")]),  # +Inf -> NULL element
        (6, [-float("inf")] + [1.0] * (dims - 1)), # -Inf -> NULL element
    ]
    emb = sanitize_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )
    got = {r.vec_id: r.embedding for r in emb.collect()}
    assert got[1] == rows[0][1]          # well-formed coordinates untouched
    assert got[2][-1] is None and got[3] is None
    assert got[4][-1] is None and got[4][:-1] == [1.0] * (dims - 1)
    assert got[5][-1] is None and got[6][0] is None
    expr = {
        (r["vec_id"], r["_t"]): (r["_s"], r["_n"])
        for r in _multi_table_signatures_expr(
            emb, bits, tables, dims, "vec_id", "embedding",
            include_vec=False, include_norm=True,
        ).collect()
    }
    arrow = {
        (r["vec_id"], r["_t"]): (r["_s"], r["_n"])
        for r in _multi_table_signatures_arrow(
            emb, bits, tables, dims, "vec_id", "embedding",
            include_vec=False, include_norm=True,
        ).collect()
    }
    assert expr == arrow  # bit-identical EVERYWHERE, ex-NaN rows included
    for vid in (2, 3, 4, 5, 6):
        for t in range(tables):
            assert expr[(vid, t)] == (0, None)  # NULL-poisoned fold


def test_ivf_index_sanitizes_vectors_at_ingestion(spark, tmp_path):
    """ivf_build_index / ivf_append are the managed-storage seam: a NaN
    or Inf coordinate never lands in the corpus — it is stored as a NULL
    element, so every later read sees the parity-safe malformation
    class."""
    import math

    from nntsc_spark.pipeline.similarity import ivf_append, ivf_build_index

    dims = 4
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]),
         (2, [0.0, 1.0, 0.0, float("nan")]),
         (3, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    ivf_build_index(emb, path, nlist=2)
    new = spark.createDataFrame(
        [(4, [float("inf"), 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    ivf_append(new, path, batch_id=1)
    stored = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(f"{path}/corpus").collect()
    }
    assert set(stored) == {1, 2, 3, 4}
    flat = [x for v in stored.values() for x in v]
    assert not any(x is not None and not math.isfinite(x) for x in flat)
    assert stored[2][3] is None and stored[4][0] is None
