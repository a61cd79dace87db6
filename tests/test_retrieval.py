"""Property tests for the retrieval surface (operators/retrieval.py):
radius search, kNN graph, BM25 keyword ranking, reciprocal-rank fusion,
and MMR diversification. Cross-engine parity is covered by
test_oracle_parity.py; these tests check the semantic contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectorsearch_with_hnsw_spark.operators.retrieval import (
    bm25_rank,
    knn_graph,
    mmr_rerank,
    range_search,
    rrf_fuse,
)
from vectorsearch_with_hnsw_spark.sources import load_table


def _queries(spark, sf_dir, n=5):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_range_search_contract(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    got = range_search(emb, _queries(spark, sf_smoke), radius=1.3, metric="l2").collect()
    assert got, "radius 1.3 should catch some neighbors on this data"
    by_query = {}
    for r in got:
        assert r.dist <= 1.3
        by_query.setdefault(r.query_id, set()).add(r.neighbor_id)
    # an indexed query vector is within any radius of itself (dist 0)
    for qid, ids in by_query.items():
        assert qid in ids


def test_range_search_zero_radius_is_self_only(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    got = range_search(emb, _queries(spark, sf_smoke), radius=0.0, metric="l2").collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {(q, q) for q in range(5)}


def test_knn_graph_contract(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings").limit(60)
    g = knn_graph(emb, k=4, metric="l2").collect()
    assert all(r.src_id != r.dst_id for r in g), "no self edges"
    from collections import Counter

    deg = Counter(r.src_id for r in g)
    assert set(deg.values()) == {4}, "every node has exactly k out-edges"
    assert len(deg) == 60


def test_knn_graph_hnsw_backend_parity(spark, sf_oracle):
    """ANN backend vs the exact oracle graph at sf0.01: same contract
    (no self edges, exactly k out-edges per node) and recall-bounded
    edge agreement — per-partition HNSW graphs are probe-all merged, so
    graph recall tracks index recall (~1.0 at default ef)."""
    emb = load_table(spark, sf_oracle, "embeddings")
    n = emb.count()
    exact = {(r.src_id, r.dst_id) for r in knn_graph(emb, k=5, metric="l2").collect()}
    ann_rows = knn_graph(emb, k=5, metric="l2", method="hnsw", num_partitions=4).collect()
    ann = {(r.src_id, r.dst_id) for r in ann_rows}
    assert all(s != d for s, d in ann), "no self edges"
    from collections import Counter

    deg = Counter(s for s, _ in ann)
    assert set(deg.values()) == {5} and len(deg) == n
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.9, f"ANN graph recall {recall:.3f} vs exact"


def test_knn_graph_routed_backend(spark, sf_oracle):
    """Routed backend: each node probes its ~4.5*sqrt(P) nearest cells
    instead of all P. Looser contract than probe-all (boundary neighbors
    can sit in un-probed partitions): no self edges, <= k out-edges,
    edge recall >= 0.9 vs exact at the small-P test setting
    (multi-assignment + the NN-descent stitch pass closed the old 0.75
    gap)."""
    emb = load_table(spark, sf_oracle, "embeddings")
    exact = {(r.src_id, r.dst_id) for r in knn_graph(emb, k=5, metric="l2").collect()}
    ann_rows = knn_graph(
        emb, k=5, metric="l2", method="hnsw_routed", num_partitions=4
    ).collect()
    ann = {(r.src_id, r.dst_id) for r in ann_rows}
    assert all(s != d for s, d in ann), "no self edges"
    from collections import Counter

    deg = Counter(r.src_id for r in ann_rows)
    assert max(deg.values()) <= 5
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.9, f"routed graph recall {recall:.3f} vs exact"


def test_knn_graph_cluster_backend(spark, sf_oracle):
    """Cluster-routed blocked-GEMM backend (the whole-table scale path):
    no self edges, exactly k out-edges per node, and — because the
    default probe budget covers every cell at small P and the in-cell
    search is exact with a fold-exact rescore — FULL agreement with the
    exact oracle graph, distances included, at the test setting."""
    emb = load_table(spark, sf_oracle, "embeddings")
    n = emb.count()
    exact = {(r.src_id, r.dst_id, r.dist) for r in knn_graph(emb, k=5, metric="l2").collect()}
    got_rows = knn_graph(
        emb, k=5, metric="l2", method="cluster", num_partitions=4
    ).collect()
    got = {(r.src_id, r.dst_id, r.dist) for r in got_rows}
    assert all(s != d for s, d, _ in got), "no self edges"
    from collections import Counter

    deg = Counter(r.src_id for r in got_rows)
    assert set(deg.values()) == {5} and len(deg) == n
    assert got == exact  # bit-identical edges AND distances


def test_knn_graph_releases_stitch_checkpoints(spark, sf_oracle):
    """The NN-descent stitch must not pin one checkpoint block set per
    round for the life of the session (VERDICT r13 #3): every
    intermediate round is freed when the next round materializes (the
    bpe_train pattern), so after a stitched build exactly ONE
    checkpointed RDD — the returned final round — survives, and
    release_plan_checkpoints() frees that too once the caller is done,
    leaving zero pinned blocks."""
    from vectorsearch_with_hnsw_spark.cache import release_plan_checkpoints

    jsc = spark.sparkContext._jsc
    # isolate: drop anything earlier tests left behind
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    emb = load_table(spark, sf_oracle, "embeddings")
    g = knn_graph(
        emb, k=4, metric="l2", method="cluster", num_partitions=4,
        stitch_rounds=3,
    )
    assert g.count() > 0
    from vectorsearch_with_hnsw_spark.cache import release_caches

    release_caches()
    spark.catalog.clearCache()
    pinned = int(jsc.getPersistentRDDs().size())
    assert pinned <= 1, f"stitch leaked {pinned} checkpoint block sets (want <=1)"
    # result is still usable while its own checkpoint lives
    assert g.count() > 0
    freed = release_plan_checkpoints(g)
    assert freed >= 1, "expected at least the final stitch checkpoint"
    assert int(jsc.getPersistentRDDs().size()) == 0


def test_knn_graph_cluster_cosine(spark, sf_oracle):
    """Same contract under the cosine metric (the zero-norm-guarded
    three-rounding fold)."""
    emb = load_table(spark, sf_oracle, "embeddings")
    exact = {(r.src_id, r.dst_id, r.dist) for r in knn_graph(emb, k=3, metric="cosine").collect()}
    got = {
        (r.src_id, r.dst_id, r.dist)
        for r in knn_graph(
            emb, k=3, metric="cosine", method="cluster", num_partitions=4
        ).collect()
    }
    assert got == exact


def test_knn_graph_unknown_method_raises(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    with pytest.raises(ValueError, match="unknown knn_graph method"):
        knn_graph(emb, k=3, method="faiss")


def test_graph_analytics_on_hnsw_backend(spark, sf_smoke):
    """pagerank / triangles / label vote accept the ANN base graph and
    keep their shape contracts (totality, positive ranks)."""
    from vectorsearch_with_hnsw_spark.operators.clusters import (
        knn_label_vote,
        knn_pagerank,
        knn_triangles,
    )

    emb = load_table(spark, sf_smoke, "embeddings").limit(80)
    pr = knn_pagerank(emb, k=4, iters=2, graph_method="hnsw").collect()
    assert len(pr) == 80 and all(r.pr > 0 for r in pr)
    tri = knn_triangles(emb, k=4, graph_method="hnsw").collect()
    assert len(tri) == 80 and all(r.n_triangles >= 0 for r in tri)
    lv = knn_label_vote(emb, k=4, graph_method="hnsw").collect()
    assert len(lv) == 80 and all(1 <= r.votes <= 4 for r in lv)


def test_graph_analytics_on_routed_backend(spark, sf_smoke):
    """The routed ANN graph can emit FEWER than k out-edges per node:
    pagerank divides shares by actual out-degree (no leaked rank mass
    beyond integer flooring) and label vote left-joins (every vector
    gets a verdict row even with zero surviving edges)."""
    from vectorsearch_with_hnsw_spark.operators.clusters import (
        knn_label_vote,
        knn_pagerank,
        knn_triangles,
    )

    emb = load_table(spark, sf_smoke, "embeddings").limit(80)
    pr = knn_pagerank(emb, k=4, iters=2, graph_method="hnsw_routed").collect()
    assert len(pr) == 80 and all(r.pr > 0 for r in pr)
    tri = knn_triangles(emb, k=4, graph_method="hnsw_routed").collect()
    assert len(tri) == 80
    lv = knn_label_vote(emb, k=4, graph_method="hnsw_routed").collect()
    assert len(lv) == 80, "left join keeps totality under routed pruning"
    for r in lv:
        if r.predicted_label is None:
            assert r.correct is False


def test_graph_analytics_unknown_method_raises(spark, sf_smoke):
    from vectorsearch_with_hnsw_spark.operators.clusters import (
        knn_label_vote,
        knn_pagerank,
        knn_triangles,
    )

    emb = load_table(spark, sf_smoke, "embeddings").limit(10)
    for fn in (knn_pagerank, knn_triangles, knn_label_vote):
        with pytest.raises(ValueError, match="unknown graph_method"):
            fn(emb, k=3, graph_method="faiss")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_tf_monotone_and_exclusion(spark):
    docs = _docs(
        spark,
        [
            (0, "alpha beta beta"),
            (1, "alpha alpha alpha beta"),
            (2, "gamma delta"),
            (3, "alpha"),
        ],
    )
    out = bm25_rank(docs, ["alpha"], k=10).collect()
    ids = [r.doc_id for r in out]
    assert 2 not in ids, "doc without any query term is excluded"
    # same doc-frequency for all, so more occurrences => higher score,
    # with saturation keeping order strict here
    scores = {r.doc_id: r.score for r in out}
    assert scores[1] > scores[0] > 0
    assert all(r.n_terms_hit == 1 for r in out)


def test_bm25_rank_is_dense_and_bounded(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    out = bm25_rank(docs, ["spark", "hash"], k=7).orderBy("rnk").collect()
    assert [r.rnk for r in out] == list(range(1, len(out) + 1))
    assert len(out) <= 7
    assert all(out[i].score >= out[i + 1].score for i in range(len(out) - 1))


def test_bm25_empty_terms_raises(spark):
    with pytest.raises(ValueError):
        bm25_rank(_docs(spark, [(0, "x")]), [])


def test_rrf_consensus_wins(spark):
    # doc 7 is rank 2 in both lists; doc 1/doc 9 are rank 1 in only one
    v = spark.createDataFrame(
        [(0, 1, 1), (0, 7, 2), (0, 3, 3)], "query_id long, doc_id long, rnk int"
    )
    k = spark.createDataFrame(
        [(0, 9, 1), (0, 7, 2), (0, 4, 3)], "query_id long, doc_id long, rnk int"
    )
    out = {r.doc_id: (r.rrf_score, r.rnk) for r in rrf_fuse(v, k, k=10).collect()}
    assert out[7][1] == 1, "consensus doc outranks single-list rank-1 docs"
    assert out[7][0] == pytest.approx(2 / 62)
    assert out[1][0] == pytest.approx(1 / 61)
    # per-query independence
    assert set(out) == {1, 3, 4, 7, 9}


def test_maxsim_self_match_and_bounds(spark, sf_smoke):
    """Late interaction: an indexed query self-matches at rank 1 with
    the maximum possible score (every token best-matches itself at
    cosine similarity 1, so maxsim == n_tokens up to fp); scores are
    bounded by [-n_tokens, n_tokens]."""
    from vectorsearch_with_hnsw_spark.operators.retrieval import maxsim_search

    emb = load_table(spark, sf_smoke, "embeddings")
    out = maxsim_search(emb, _queries(spark, sf_smoke), dim=64, n_tokens=4, k=5).collect()
    assert all(-4.0 - 1e-9 <= r.maxsim <= 4.0 + 1e-9 for r in out)
    for r in out:
        if r.rnk == 1:
            assert r.doc_id == r.query_id
            assert r.maxsim == pytest.approx(4.0)


def test_pq_adc_recall_and_code_shape(spark, sf_smoke):
    """PQ with sampled anchor codebooks: codes are m-long with values in
    [0, n_anchors); recall@10 vs exact clears the measured floor on the
    (deterministic) testdata; an anchor query self-matches at rank 1
    (its subvectors quantize to themselves, ADC distance exactly 0)."""
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact
    from vectorsearch_with_hnsw_spark.operators.pq import (
        NUM_ANCHORS,
        pq_adc_knn,
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=10)
    cb = pq_codebooks(emb, dim=64, m=8)
    codes = pq_encode(emb, cb, dim=64, m=8).collect()
    assert all(len(r.code) == 8 for r in codes)
    assert all(0 <= c < NUM_ANCHORS for r in codes for c in r.code)
    got = pq_adc_knn(emb, q, dim=64, m=8, k=10).collect()
    exact = knn_exact(emb, q, k=10, metric="l2").collect()
    gset = {(r.query_id, r.neighbor_id) for r in got}
    eset = {(r.query_id, r.neighbor_id) for r in exact}
    assert len(gset & eset) / len(eset) >= 0.3
    for r in got:
        if r.rnk == 1:
            assert r.neighbor_id == r.query_id and r.adc_d2 == 0.0


def test_ivf_pq_recall_and_self_match(spark, sf_smoke):
    """IVF-PQ (residual encoding): recall@10 holds the plain-PQ floor
    while scanning only n_probe/n_cells of the code table (measured at
    sf0.01: 0.37 vs 0.39 for the full-scan PQ — the pruning is nearly
    free because residuals quantize finer than raw vectors). An anchor
    query self-matches at rank 1: its own cell is always probed (argmin
    assignment == nearest centroid) and its residual quantizes to
    itself, so the ADC distance is exactly 0."""
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact
    from vectorsearch_with_hnsw_spark.operators.pq import ivf_pq_knn

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=10)
    got = ivf_pq_knn(emb, q, dim=64, m=8, k=10).collect()
    exact = knn_exact(emb, q, k=10, metric="l2").collect()
    gset = {(r.query_id, r.neighbor_id) for r in got}
    eset = {(r.query_id, r.neighbor_id) for r in exact}
    assert len(gset & eset) / len(eset) >= 0.3
    for r in got:
        if r.rnk == 1:
            assert r.neighbor_id == r.query_id and r.adc_d2 == 0.0


def test_mmr_first_pick_is_argmax_and_no_dups(spark, sf_smoke):
    from vectorsearch_with_hnsw_spark.registry import q_mmr_diversify

    out = q_mmr_diversify(spark, sf_smoke).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.pos)
        assert [r.pos for r in rows] == [1, 2, 3, 4, 5]
        ids = [r.doc_id for r in rows]
        assert len(set(ids)) == 5, "no duplicate picks"
        # pos 1 is the relevance argmax: itself (rel == 1.0 up to fp)
        assert rows[0].doc_id == qid
        assert rows[0].rel == pytest.approx(1.0)


def test_mmr_diversifies_vs_plain_topk(spark, sf_smoke):
    """Diversification contract, on the fixed deterministic testdata:
    per query, the MMR set's *max* pairwise similarity (the quantity the
    greedy step penalizes) must not exceed the plain top-k set's; and
    averaged over the query set, mean pairwise similarity drops. (Greedy
    MMR doesn't guarantee a per-query mean decrease in general.)"""
    import itertools

    import numpy as np

    emb = load_table(spark, sf_smoke, "embeddings")
    vecs = {r.vec_id: np.array(r.embedding, dtype=float) for r in emb.collect()}

    def pairsims(ids):
        return [
            float(
                vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
            )
            for a, b in itertools.combinations(ids, 2)
        ]

    from vectorsearch_with_hnsw_spark.registry import q_mmr_diversify

    mmr_rows = q_mmr_diversify(spark, sf_smoke).collect()
    qids = sorted({r.query_id for r in mmr_rows})
    mmr_means, top_means = [], []
    for qid in qids:
        mmr_ids = [r.doc_id for r in mmr_rows if r.query_id == qid]
        q = vecs[qid]
        top = sorted(
            vecs,
            key=lambda i: (-(q @ vecs[i] / (np.linalg.norm(q) * np.linalg.norm(vecs[i]))), i),
        )[:5]
        ms, ts = pairsims(mmr_ids), pairsims(top)
        assert max(ms) <= max(ts) + 1e-12
        mmr_means.append(sum(ms) / len(ms))
        top_means.append(sum(ts) / len(ts))
    assert sum(mmr_means) / len(mmr_means) < sum(top_means) / len(top_means)


def test_new_operators_are_total_on_empty_input(spark):
    """Empty in -> empty out, no exceptions: the totality contract the
    other pipeline ops already hold (test_edge_cases.py)."""
    from vectorsearch_with_hnsw_spark.operators.ann import binary_sign_knn
    from vectorsearch_with_hnsw_spark.operators.ivf import ivf_knn_cosine, kmeans_fit
    from vectorsearch_with_hnsw_spark.operators.pq import ivf_pq_knn, pq_adc_knn
    from vectorsearch_with_hnsw_spark.operators.retrieval import (
        bm25_rank,
        knn_graph,
        maxsim_search,
        range_search,
    )
    from vectorsearch_with_hnsw_spark.operators.textpipe import (
        mix_corpus,
        weighted_sample,
    )

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>, label int")
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    q = spark.createDataFrame([], "query_id long, query_vec array<double>")
    assert range_search(emb, q, radius=1.0).count() == 0
    assert knn_graph(emb, k=3).count() == 0
    assert bm25_rank(docs, ["x"]).count() == 0
    assert maxsim_search(emb, q, dim=64, n_tokens=4).count() == 0
    assert binary_sign_knn(emb, q, dim=64).count() == 0
    assert pq_adc_knn(emb, q, dim=64).count() == 0
    assert ivf_pq_knn(emb, q, dim=64).count() == 0
    assert weighted_sample(docs).count() == 0
    assert mix_corpus(docs, {"src0": 100}).count() == 0
    assert kmeans_fit(emb, dim=64).count() == 0
    # queries against an empty corpus: no centroid cell to probe
    q1 = spark.createDataFrame([(1, [0.5] * 64)], "query_id long, query_vec array<double>")
    assert ivf_knn_cosine(emb, q1, dim=64).count() == 0


# -- hypothesis: BM25 and RRF vs pure-Python reference models -------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon"])
_doc_strategy = st.lists(
    st.lists(_word, min_size=0, max_size=8).map(" ".join), min_size=1, max_size=8
)


@pytest.fixture(scope="module")
def spark_holder(spark):
    # hypothesis forbids function-scoped fixtures in @given examples;
    # module-scoped pass-through keeps one SparkSession across examples
    return spark


def _bm25_reference(texts, terms, k1=1.2, b=0.75):
    """Pure-Python mirror of bm25_rank's log-free scoring."""
    toks = [t.lower().split() for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    if avgdl == 0:
        return {}  # all-empty corpus: no doc can hit a term
    out = {}
    for i, tk in enumerate(toks):
        score, hits = 0.0, 0
        for term in terms:
            tf = float(tk.count(term))
            df = float(sum(1 for other in toks if term in other))
            idf = (n - df + 0.5) / (df + 0.5)
            score += (idf * (tf * (k1 + 1.0))) / (
                tf + k1 * ((1.0 - b) + b * (len(tk) / avgdl))
            )
            hits += 1 if tf > 0 else 0
        if hits > 0:
            out[i] = (score, hits)
    return out


@settings(max_examples=8, deadline=None)
@given(texts=_doc_strategy)
def test_bm25_matches_python_reference(spark_holder, texts):
    spark = spark_holder
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    terms = ["alpha", "gamma"]
    got = {
        r.doc_id: (r.score, r.n_terms_hit)
        for r in bm25_rank(docs, terms, k=100).collect()
    }
    want = _bm25_reference(texts, terms)
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == pytest.approx(want[i][0], rel=1e-12), i
        assert got[i][1] == want[i][1]


_rank_lists = st.lists(
    st.tuples(st.integers(0, 6), st.permutations(list(range(1, 5)))), min_size=1, max_size=3
)


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(0, 10**6))
def test_rrf_matches_python_reference(spark_holder, seed):
    import random

    spark = spark_holder
    rng = random.Random(seed)
    docs = list(range(8))
    v_list = rng.sample(docs, 4)
    k_list = rng.sample(docs, 4)
    v = spark.createDataFrame(
        [(0, d, r + 1) for r, d in enumerate(v_list)], "query_id long, doc_id long, rnk int"
    )
    kw = spark.createDataFrame(
        [(0, d, r + 1) for r, d in enumerate(k_list)], "query_id long, doc_id long, rnk int"
    )
    got = {r.doc_id: r.rrf_score for r in rrf_fuse(v, kw, k=100).collect()}
    want = {}
    for r, d in enumerate(v_list):
        want[d] = want.get(d, 0.0) + 1.0 / (60.0 + (r + 1))
    for r, d in enumerate(k_list):
        want[d] = want.get(d, 0.0) + 1.0 / (60.0 + (r + 1))
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_pq_index_save_load_roundtrip(spark, sf_smoke, tmp_path):
    """The persisted PQ artifact answers queries identically after a
    save/load round trip, and the loaded search equals the one-shot
    pq_adc_knn result (same codes, same LUTs) — the reference's
    save/load contract (hsnw_trial.py:310-376) on the quantized path."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.pq import PqIndex, pq_adc_knn

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=5)
    idx = PqIndex.build(emb, dim=64, m=8)
    path = str(tmp_path / "pqidx")
    idx.save(path)
    loaded = PqIndex.load(spark, path)
    assert (loaded.dim, loaded.m) == (64, 8)
    got = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.adc_d2)
        for r in loaded.search(q, k=10).collect()
    )
    want = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.adc_d2)
        for r in pq_adc_knn(emb, q, dim=64, m=8, k=10).collect()
    )
    assert got == want


def test_matryoshka_recall_and_exact_distances(spark, sf_smoke):
    """Matryoshka prefix-refine: final distances are EXACT L2 (bit-equal
    to knn_exact for every co-reported pair) and self-match holds at
    rank 1 dist 0. Recall@10 is 0.5 on this data (measured): the
    synthetic embeddings are isotropic, so a 16/64 prefix carries only
    1/4 of the distance signal — real matryoshka-trained models
    front-load variance into the prefix, which is the regime the
    operator is for."""
    from vectorsearch_with_hnsw_spark.operators.ann import matryoshka_knn
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=10)
    got = matryoshka_knn(emb, q, dim=64, prefix_dim=16, refine=50, k=10).collect()
    exact = knn_exact(emb, q, k=10, metric="l2").collect()
    gd = {(r.query_id, r.neighbor_id): r.dist for r in got}
    ed = {(r.query_id, r.neighbor_id): r.dist for r in exact}
    assert len(gd.keys() & ed.keys()) / len(ed) >= 0.4
    for key in gd.keys() & ed.keys():
        assert gd[key] == ed[key], "rescored distance must be bit-equal to exact"
    for r in got:
        if r.rnk == 1:
            assert r.neighbor_id == r.query_id and r.dist == 0.0


def test_ivf_index_save_load_roundtrip(spark, sf_smoke, tmp_path):
    """IVF artifact: build -> save -> load -> probe gives results equal
    to the one-shot ivf_kmeans_knn at the same params (the loaded index
    skips retraining entirely) — the reference's save/load contract
    (hsnw_trial.py:310-376) for the trained-routing family."""
    from vectorsearch_with_hnsw_spark.operators.ivf import IvfIndex, ivf_kmeans_knn

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=5)
    idx = IvfIndex.build(emb, dim=64, n_cells=8, iters=2)
    path = str(tmp_path / "ivf")
    idx.save(path)
    loaded = IvfIndex.load(spark, path)
    assert loaded.dim == 64
    got = {
        (r.query_id, r.rnk): (r.neighbor_id, r.dist)
        for r in loaded.search(emb, q, k=10, n_probe=2).collect()
    }
    want = {
        (r.query_id, r.rnk): (r.neighbor_id, r.dist)
        for r in ivf_kmeans_knn(emb, q, dim=64, k=10, n_probe=2).collect()
    }
    assert got == want


def test_ivf_pq_index_save_load_roundtrip(spark, sf_smoke, tmp_path):
    """IVF-PQ artifact: build -> save (codes PARTITIONED BY CELL) ->
    load -> search gives results BIT-IDENTICAL to the one-shot
    ivf_pq_knn at the same params — the loaded index skips training and
    encoding entirely; search shares _ivf_pq_score with the operator.
    Also checks the on-disk layout really is cell-partitioned (one
    cell=N directory per cell)."""
    import os

    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex, ivf_pq_knn

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=5)
    idx = IvfPqIndex.build(emb, dim=64, m=8, n_cells=8, iters=2)
    path = str(tmp_path / "ivfpq")
    idx.save(path)
    cell_dirs = [d for d in os.listdir(f"{path}/codes") if d.startswith("cell=")]
    assert len(cell_dirs) >= 2, f"expected cell-partitioned codes, got {cell_dirs}"
    loaded = IvfPqIndex.load(spark, path)
    assert (loaded.dim, loaded.m) == (64, 8)
    got = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.adc_d2)
        for r in loaded.search(q, k=10, n_probe=3).collect()
    )
    want = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.adc_d2)
        for r in ivf_pq_knn(emb, q, dim=64, m=8, k=10, n_probe=3, n_cells=8, iters=2).collect()
    )
    assert got and got == want


def test_label_vote_null_prediction_and_null_label_never_correct(spark):
    """A missing prediction is ALWAYS incorrect — including when the
    true label is itself NULL (eqNullSafe would have scored NULL==NULL
    as a correct vote), and a NULL true label can never be 'correct'."""
    from vectorsearch_with_hnsw_spark.operators.clusters import knn_label_vote

    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9, 0.1], "a"),
        (2, [0.0, 1.0], None),  # null true label: neighbors say "a"
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = {r["vec_id"]: r for r in knn_label_vote(emb, k=2).collect()}
    assert got[0]["correct"] is True
    assert got[2]["predicted_label"] is not None
    assert got[2]["correct"] is False, "null true label must not score correct"


def test_ivf_pq_lut_chunk_invariance(spark, sf_smoke):
    """The kernel-side LUT build (bounded executor temp, no driver
    tensor) is bit-invariant to the chunk size: a large query batch
    probed with a tiny lut_chunk (many slices per cell) returns exactly
    the rows of the default single-slice run — same ids, same ranks,
    same adc_d2 bits."""
    from vectorsearch_with_hnsw_spark.operators.pq import ivf_pq_knn

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=60)  # 60 queries x n_probe probes >> chunk
    kwargs = dict(dim=64, m=8, k=5, n_probe=3, n_cells=8, iters=2)
    base = {
        (r.query_id, r.rnk, r.neighbor_id, r.adc_d2)
        for r in ivf_pq_knn(emb, q, **kwargs).collect()
    }
    tiny = {
        (r.query_id, r.rnk, r.neighbor_id, r.adc_d2)
        for r in ivf_pq_knn(emb, q, lut_chunk=3, **kwargs).collect()
    }
    assert base == tiny and len(base) > 0


def test_cluster_graph_bcast_equals_shuffle_path(spark, sf_smoke, monkeypatch):
    """The broadcast-members fast path of knn_graph(method='cluster')
    must return exactly the shuffle path's rows (ids, ranks, distance
    bits): both select the same s_w fast window per probed cell and
    rescore with the same fold, so the outputs are bit-identical."""
    import vectorsearch_with_hnsw_spark.operators.retrieval as R

    emb = load_table(spark, sf_smoke, "embeddings")
    kwargs = dict(
        k=4, metric="l2", id_col="vec_id", vec_col="embedding",
        method="cluster", num_partitions=8, dim=64, stitch_rounds=0,
    )
    fast = {
        (r.src_id, r.dst_id, r.rnk, r.dist)
        for r in knn_graph(emb, **kwargs).collect()
    }
    monkeypatch.setattr(R, "_CLUSTER_BCAST_BYTES", 0)  # force shuffle path
    slow = {
        (r.src_id, r.dst_id, r.rnk, r.dist)
        for r in knn_graph(emb, **kwargs).collect()
    }
    assert fast == slow and len(fast) > 0


def test_ivf_pq_distributed_probe_equals_broadcast(spark, sf_smoke):
    """The collect-free cogroup probe (unbounded query tables, zero
    driver materialization) returns exactly the broadcast probe's rows
    — same ids, ranks, and adc_d2 bits. Covers the tie case too: the
    per-cell partial keeps every candidate at the k-th ADC value, so
    quantization-collided codes rank identically in both paths."""
    from vectorsearch_with_hnsw_spark.operators.pq import (
        ivf_pq_knn,
        ivf_pq_knn_distributed,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=40)
    kwargs = dict(dim=64, m=8, k=7, n_probe=3, n_cells=8, iters=2)
    base = {
        (r.query_id, r.rnk, r.neighbor_id, r.adc_d2)
        for r in ivf_pq_knn(emb, q, **kwargs).collect()
    }
    dist = {
        (r.query_id, r.rnk, r.neighbor_id, r.adc_d2)
        for r in ivf_pq_knn_distributed(emb, q, lut_chunk=16, **kwargs).collect()
    }
    assert base == dist and len(base) == 40 * 7


def test_ivf_pq_auto_routes_large_query_table(spark, sf_smoke):
    """ivf_pq_knn's default API must never land an unbounded query
    table on the driver: above probe_bcast_bytes the call dispatches to
    the cogroup scorer. Probed with a tiny budget: the returned plan
    contains the cogroup kernel (FlatMapCoGroupsInPandas) instead of
    the broadcast mapInPandas scan, and rows stay bit-identical; the
    default budget keeps the broadcast plan (no cogroup node)."""
    from vectorsearch_with_hnsw_spark.operators.pq import ivf_pq_knn

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=25)
    kwargs = dict(dim=64, m=8, k=5, n_probe=3, n_cells=8, iters=2)
    routed = ivf_pq_knn(emb, q, probe_bcast_bytes=1, **kwargs)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    default = ivf_pq_knn(emb, q, **kwargs)
    plan_d = default._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan_d
    a = {(r.query_id, r.rnk, r.neighbor_id, r.adc_d2) for r in routed.collect()}
    b = {(r.query_id, r.rnk, r.neighbor_id, r.adc_d2) for r in default.collect()}
    assert a == b and len(a) == 25 * 5


def test_sq8_index_save_load_matches_one_shot(spark, sf_smoke, tmp_path):
    """SQ8 artifact: build -> save (per-dim ranges + codes) -> load ->
    search/refine_search give results BIT-IDENTICAL to the one-shot
    sq8_knn / sq8_refine_knn at the same params — the loaded index
    skips the float-corpus range scan and encode entirely (search
    shares _sq8_score with the operator)."""
    from vectorsearch_with_hnsw_spark.operators.quantize import (
        Sq8Index,
        sq8_knn,
        sq8_refine_knn,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=5)
    idx = Sq8Index.build(emb, dim=64)
    path = str(tmp_path / "sq8")
    idx.save(path)
    loaded = Sq8Index.load(spark, path)
    assert loaded.dim == 64
    got = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.qdist2)
        for r in loaded.search(q, k=10).collect()
    )
    want = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.qdist2)
        for r in sq8_knn(emb, q, k=10).collect()
    )
    assert got and got == want
    got_r = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.dist)
        for r in loaded.refine_search(emb, q, k=5, expand=4).collect()
    )
    want_r = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.dist)
        for r in sq8_refine_knn(emb, q, k=5, expand=4).collect()
    )
    assert got_r and got_r == want_r


def test_sq8_refine_cosine_recall(spark, sf_smoke):
    """The ADVICE-flagged caveat, measured: sq8_refine_knn's shortlist
    ranks by integer L2 even when the re-rank metric is cosine, so on
    the (unnormalized) testdata the cosine-metric recall@10 must still
    clear 0.9 at the expand=10 default — the number the docstring now
    promises."""
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact
    from vectorsearch_with_hnsw_spark.operators.quantize import sq8_refine_knn

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=10)
    exact = {}
    for r in knn_exact(emb, q, k=10, metric="cosine").collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in sq8_refine_knn(emb, q, k=10, metric="cosine").collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact[qid] & got.get(qid, set())) / len(exact[qid]) for qid in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_index_filtered_probe_contract(spark, sf_smoke, tmp_path):
    """filtered_knn's pre-filter contract on the PERSISTED artifacts
    (IvfPqIndex / PqIndex / Sq8Index / IvfIndex): results contain only
    permitted ids; the predicate form and the allowed_ids form select
    identically; and a selectivity below k UNDER-FILLS rather than
    padding with filtered-out rows."""
    from vectorsearch_with_hnsw_spark.operators.ivf import IvfIndex
    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex, PqIndex
    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=3)
    even_ids = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    tiny_ids = emb.filter(F.col("vec_id").isin(11, 13, 17)).select("vec_id")

    ivfpq = IvfPqIndex.build(emb, dim=64, m=8, n_cells=8, iters=2)
    ivfpq.unpersist()
    pq = PqIndex.build(emb, dim=64, m=8)
    sq8 = Sq8Index.build(emb, dim=64)
    ivf = IvfIndex.build(emb, dim=64, n_cells=8, iters=2)

    probes = {
        "ivfpq": lambda **kw: ivfpq.search(q, k=10, n_probe=8, **kw),
        "pq": lambda **kw: pq.search(q, k=10, **kw),
        "sq8": lambda **kw: sq8.search(q, k=10, **kw),
        "ivf": lambda **kw: ivf.search(emb, q, k=10, n_probe=8, **kw),
    }
    for name, probe in probes.items():
        by_pred = sorted(map(tuple, probe(predicate=F.col("vec_id") % 2 == 0).collect()))
        by_ids = sorted(map(tuple, probe(allowed_ids=even_ids).collect()))
        assert by_pred and by_pred == by_ids, name
        returned = {t[2] if name in ("ivfpq", "pq", "sq8") else t[1] for t in by_pred}
        assert all(n % 2 == 0 for n in returned), (name, returned)
        # selectivity (3 ids) < k (10): under-fill, never pad
        few = probe(allowed_ids=tiny_ids).collect()
        per_q = {}
        for r in few:
            per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        assert per_q and all(c <= 3 for c in per_q.values()), (name, per_q)
        ret_few = {r.neighbor_id for r in few}
        assert ret_few <= {11, 13, 17}, (name, ret_few)


def test_index_refine_search_matches_one_shot_refine(spark, sf_smoke, tmp_path):
    """The deployed probe of the loaded artifacts (refine_search:
    shortlist over stored codes + exact re-rank) must match the
    one-shot refine operators bit-for-bit at equal build input — the
    never-serve-a-shortlist contract extended to the at-rest index
    paths."""
    from vectorsearch_with_hnsw_spark.operators.pq import (
        IvfPqIndex,
        PqIndex,
        ivf_pq_refine_knn,
        pq_refine_knn,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=5)

    ivfpq = IvfPqIndex.build(emb, dim=64, m=8, n_cells=8, iters=2)
    path = str(tmp_path / "ivfpq_refine")
    ivfpq.save(path)
    ivfpq.unpersist()
    loaded = IvfPqIndex.load(spark, path)
    got = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.dist)
        for r in loaded.refine_search(emb, q, k=5, n_probe=3, expand=4).collect()
    )
    want = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.dist)
        for r in ivf_pq_refine_knn(
            emb, q, dim=64, m=8, k=5, n_probe=3, n_cells=8, iters=2, expand=4
        ).collect()
    )
    assert got and got == want

    pq = PqIndex.build(emb, dim=64, m=8)
    got_pq = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.dist)
        for r in pq.refine_search(emb, q, k=5, expand=4).collect()
    )
    want_pq = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.dist)
        for r in pq_refine_knn(emb, q, dim=64, m=8, k=5, expand=4).collect()
    )
    assert got_pq and got_pq == want_pq

    # filtered refine: permitted ids only, exact-k when survivors >= k
    even = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    filt = loaded.refine_search(emb, q, k=5, n_probe=8, expand=4, allowed_ids=even).collect()
    assert filt and all(r.neighbor_id % 2 == 0 for r in filt)


def test_filtered_probe_edge_cases(spark, sf_smoke):
    """Totality of the artifact pre-filter: an EMPTY allowed set returns
    zero rows (never errors, never falls back to unfiltered), ids
    absent from the index are ignored, and a predicate matching nothing
    under-fills to zero."""
    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex
    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=2)
    ivfpq = IvfPqIndex.build(emb, dim=64, m=8, n_cells=8, iters=2)
    ivfpq.unpersist()
    sq8 = Sq8Index.build(emb, dim=64)

    empty = emb.filter(F.col("vec_id") < 0).select("vec_id")
    assert ivfpq.search(q, k=5, allowed_ids=empty).count() == 0
    assert sq8.search(q, k=5, allowed_ids=empty).count() == 0
    assert ivfpq.search(q, k=5, predicate=F.col("vec_id") < 0).count() == 0

    # ids not present in the index: the semi-join drops them silently
    ghost = spark.createDataFrame([(10_000_000,), (10_000_001,)], "vec_id long")
    assert sq8.search(q, k=5, allowed_ids=ghost).count() == 0

    # refine over an empty shortlist is also total
    assert ivfpq.refine_search(emb, q, k=5, allowed_ids=empty).count() == 0


def test_similarity_search_accepts_quantized_index(spark, sf_smoke, tmp_path):
    """similarity_search(index=...) routes the quantized methods through
    a prebuilt artifact — bit-identical to the one-shot method at equal
    build params (they share scorers), and a mismatched index type is
    refused, not silently retrained."""
    import pytest as _pytest

    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex, PqIndex
    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index
    from vectorsearch_with_hnsw_spark.operators.search import similarity_search

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=4)

    # defaults used by the dispatch (m=16, n_cells=8, iters=2 at dim 64)
    ivfpq = IvfPqIndex.build(emb, dim=64, m=16, n_cells=8, iters=2)
    ivfpq.unpersist()
    got = sorted(
        map(tuple, similarity_search(emb, q, method="ivf_pq", k=5, dim=64, index=ivfpq).collect())
    )
    want = sorted(
        map(tuple, similarity_search(emb, q, method="ivf_pq", k=5, dim=64).collect())
    )
    assert got and got == want

    sq8 = Sq8Index.build(emb, dim=64)
    got_s = sorted(
        map(tuple, similarity_search(emb, q, method="sq8", k=5, index=sq8).collect())
    )
    want_s = sorted(map(tuple, similarity_search(emb, q, method="sq8", k=5).collect()))
    assert got_s and got_s == want_s

    pq = PqIndex.build(emb, dim=64, m=16)
    got_p = sorted(
        map(tuple, similarity_search(emb, q, method="pq", k=5, dim=64, index=pq).collect())
    )
    want_p = sorted(
        map(tuple, similarity_search(emb, q, method="pq", k=5, dim=64).collect())
    )
    assert got_p and got_p == want_p

    with _pytest.raises(ValueError, match="needs a IvfPqIndex"):
        similarity_search(emb, q, method="ivf_pq", k=5, dim=64, index=sq8)


def test_similarity_search_refuses_non_hnsw_index_for_hnsw_methods(spark, sf_smoke):
    """The hnsw names refuse an index that is not an HnswIndex with the
    table entries' ValueError, before any Spark job runs (they used to
    collect the queries, then fail with an AttributeError)."""
    import pytest as _pytest

    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index
    from vectorsearch_with_hnsw_spark.operators.search import similarity_search

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke, n=2)
    sq8 = Sq8Index.build(emb, dim=64)
    sc = spark.sparkContext
    sc.setJobGroup("refused_hnsw_index", "similarity_search with a wrong index")
    try:
        for method in ("hnsw", "hnsw_rescored", "hnsw_routed"):
            want = f"method '{method}' needs a HnswIndex index, got Sq8Index"
            with _pytest.raises(ValueError, match=want):
                similarity_search(emb, q, method=method, k=5, dim=64, index=sq8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("refused_hnsw_index") == []


def test_hard_negatives_semantics_vs_numpy(spark, sf_smoke):
    """hard_negatives must agree with a brute-force numpy mine: per
    anchor the positive is the nearest same-label row (self excluded),
    negatives are different-label rows within pos_dist + margin, ranked
    ascending with id tiebreak, tier split at pos_dist."""
    import numpy as np

    from vectorsearch_with_hnsw_spark.operators.retrieval import hard_negatives

    emb = load_table(spark, sf_smoke, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 6)
    k, margin = 4, 0.2
    got = {
        (r["query_id"], r["rnk"]): (
            r["pos_id"], r["neighbor_id"], r["tier"], r["dist"], r["pos_dist"]
        )
        for r in hard_negatives(emb, anchors, k=k, margin=margin).collect()
    }

    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    labs = np.array([r["label"] for r in rows])
    norms = np.sqrt((V * V).sum(axis=1))

    def cos(qi, j):
        na, nb = norms[qi], norms[j]
        if na == 0 or nb == 0:
            return 1.0
        return 1.0 - float(V[qi] @ V[j]) / (na * nb)

    want = {}
    for qi in np.argsort(ids):
        if ids[qi] >= 6:
            continue
        same = [
            (cos(qi, j), ids[j])
            for j in range(len(ids))
            if labs[j] == labs[qi] and ids[j] != ids[qi]
        ]
        if not same:
            continue
        pos_dist, pos_id = min(same)
        negs = sorted(
            (cos(qi, j), ids[j])
            for j in range(len(ids))
            if labs[j] != labs[qi]
        )
        band = [(d, nid) for d, nid in negs if d <= pos_dist + margin]
        for rnk, (d, nid) in enumerate(band[:k], start=1):
            tier = "hard" if d <= pos_dist else "semi_hard"
            want[(int(ids[qi]), rnk)] = (int(pos_id), int(nid), tier)

    assert set(got) == set(want)
    for key, (pos_id, nid, tier, d, pd_) in got.items():
        wpos, wnid, wtier = want[key]
        assert (pos_id, nid, tier) == (wpos, wnid, wtier), (key, got[key], want[key])
        assert d <= pd_ + margin + 1e-12


def test_hard_negatives_invariants(spark, sf_smoke):
    """Labels must differ anchor-vs-neighbor, ranks are contiguous from
    1, and a singleton-label anchor yields no rows."""
    from vectorsearch_with_hnsw_spark.operators.retrieval import hard_negatives

    emb = load_table(spark, sf_smoke, "embeddings")
    # add a singleton-label anchor: no positive exists -> no triplet
    lone = spark.createDataFrame(
        [(99999, [float(i) for i in range(64)], 777)],
        "vec_id bigint, embedding array<double>, label bigint",
    )
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"),
        F.col("label").cast("bigint").alias("label"),
    )
    base = emb_d.unionByName(lone)
    out = hard_negatives(base, base.filter(F.col("vec_id").isin(0, 1, 99999)), k=5)
    rows = out.collect()
    assert rows, "expected some mined negatives"
    assert all(r["query_id"] != 99999 for r in rows)
    lab = {r["vec_id"]: r["label"] for r in base.select("vec_id", "label").collect()}
    by_q = {}
    for r in rows:
        assert lab[r["neighbor_id"]] != lab[r["query_id"]]
        assert lab[r["pos_id"]] == lab[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))


def test_hard_negatives_from_exhaustive_shortlist_equals_full(spark, sf_smoke):
    """hard_negatives_from over an EXHAUSTIVE shortlist (every
    anchor-corpus distance) must be row-identical to the full
    cross-join miner — the exactness claim that makes the shortlist
    path a drop-in scale substitute."""
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact_fast
    from vectorsearch_with_hnsw_spark.operators.retrieval import (
        hard_negatives,
        hard_negatives_from,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    n_corpus = emb.count()
    anchors = emb.filter(F.col("vec_id") < 8)
    queries = anchors.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    shortlist = knn_exact_fast(emb, queries, k=n_corpus, metric="cosine")
    got = sorted(
        map(
            tuple,
            hard_negatives_from(
                shortlist, emb.select("vec_id", "label"), k=4, margin=0.2
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, hard_negatives(emb, anchors, k=4, margin=0.2).collect())
    )
    assert got and got == want


def test_hard_negatives_from_tolerates_extra_columns_and_shallow_lists(spark, sf_smoke):
    """Extra shortlist columns (rnk) are ignored, and an anchor whose
    shallow shortlist holds no same-label row drops out instead of
    erroring."""
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact_fast
    from vectorsearch_with_hnsw_spark.operators.retrieval import hard_negatives_from

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # depth 2: the nearest row is usually self, leaving one candidate —
    # anchors whose single candidate shares their label yield nothing
    shortlist = knn_exact_fast(emb, queries, k=2, metric="cosine")
    out = hard_negatives_from(shortlist, emb.select("vec_id", "label"), k=4)
    rows = out.collect()
    lab = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in rows:
        assert lab[r["neighbor_id"]] != lab[r["query_id"]]
        assert lab[r["pos_id"]] == lab[r["query_id"]]
        assert r["dist"] <= r["pos_dist"] + 0.15 + 1e-12


def test_recall_report_semantics(spark):
    """recall_report: identical inputs score 1.0 per query, disjoint
    inputs score 0.0 (left join keeps the query), partial overlap is
    n_hits/n_exact with the EXACT side as denominator."""
    from vectorsearch_with_hnsw_spark.operators.retrieval import recall_report

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    same = {r["query_id"]: r for r in recall_report(exact, exact).collect()}
    assert all(r["recall"] == 1.0 and r["n_hits"] == r["n_exact"] for r in same.values())
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 12), (2, 98)],
        "query_id long, neighbor_id long",
    )
    got = {r["query_id"]: r for r in recall_report(approx, exact).collect()}
    assert got[1]["n_exact"] == 3 and got[1]["n_hits"] == 2
    assert abs(got[1]["recall"] - 2 / 3) < 1e-15
    assert got[2]["n_hits"] == 0 and got[2]["recall"] == 0.0


def test_mrr_report_ranks(spark):
    """Known ranked results: relevant at rank 3 -> rr = 1/3 exactly;
    rank-1 self hit -> rr = 1.0; no relevant in the list -> first_rank
    NULL, rr = 0.0 by convention."""
    from vectorsearch_with_hnsw_spark.operators.retrieval import mrr_report

    approx = spark.createDataFrame(
        [
            (1, 10, 1), (1, 11, 2), (1, 12, 3),
            (2, 20, 1), (2, 21, 2),
            (3, 30, 1), (3, 31, 2),
        ],
        "query_id long, neighbor_id long, rnk int",
    )
    relevant = spark.createDataFrame(
        [(1, 12), (1, 99), (2, 20), (3, 77)],
        "query_id long, neighbor_id long",
    )
    got = {r["query_id"]: (r["first_rank"], r["rr"]) for r in mrr_report(approx, relevant).collect()}
    assert got[1] == (3, 1.0 / 3.0)
    assert got[2] == (1, 1.0)
    assert got[3] == (None, 0.0)


def test_ivf_index_vector_bearing_save(spark, sf_oracle, tmp_path):
    """save(path, emb) stores vectors NEXT TO the routing: the loaded
    index probes with emb=None, results bit-identical to the
    routing-only form AND to the one-shot ivf_kmeans_knn; the plan has
    NO join (zero-join probe — the pruned cell files carry the
    vectors) while keeping the static cell partition filter; add() on
    the loaded index carries the new batch's vectors so the zero-join
    contract survives incremental insert."""
    from vectorsearch_with_hnsw_spark.operators.ivf import IvfIndex, ivf_kmeans_knn

    emb = load_table(spark, sf_oracle, "embeddings")
    q = _queries(spark, sf_oracle, n=5)
    idx = IvfIndex.build(emb, dim=64, n_cells=8, iters=2)
    path = str(tmp_path / "ivf_vb")
    idx.save(path, emb)
    loaded = IvfIndex.load(spark, path)
    assert "v" in loaded.assigned.columns
    res = loaded.search(None, q, k=10, n_probe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "PartitionFilters" in plan and "cell" in plan
    got = {(r.query_id, r.rnk): (r.neighbor_id, r.dist) for r in res.collect()}
    want = {
        (r.query_id, r.rnk): (r.neighbor_id, r.dist)
        for r in ivf_kmeans_knn(emb, q, dim=64, k=10, n_probe=2).collect()
    }
    assert got == want
    # routing-only probe on the ignored-emb path agrees too
    got2 = {
        (r.query_id, r.rnk): (r.neighbor_id, r.dist)
        for r in loaded.search(emb, q, k=10, n_probe=2).collect()
    }
    assert got2 == want
    # incremental insert keeps vectors: re-saved index still zero-join
    extra = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    grown = loaded.add(extra)
    assert "v" in grown.assigned.columns
    path2 = str(tmp_path / "ivf_vb2")
    grown.save(path2)
    re = IvfIndex.load(spark, path2)
    assert "v" in re.assigned.columns
    rows2 = re.search(None, q, k=10, n_probe=8).collect()
    ids = {r.neighbor_id for r in rows2}
    # the added rows are exact copies of queries 0-2 at offset ids, so
    # a probe-all search MUST surface them (dist 0 twins)
    assert rows2 and {1_000_000, 1_000_001, 1_000_002} <= ids
    # routing-only index without emb must refuse loudly
    idx.save(str(tmp_path / "ivf_ro"))
    ro = IvfIndex.load(spark, str(tmp_path / "ivf_ro"))
    with pytest.raises(ValueError, match="probe needs raw vectors"):
        ro.search(None, q, k=3, n_probe=2).collect()


def test_assign_frozen_cosine_matches_declarative(spark, sf_smoke):
    """The map-only cosine assignment kernel (assign_frozen_cosine) is
    BIT-IDENTICAL to the declarative crossJoin + cosine_distance +
    row_number reference shape (assign_cells) it replaced on the
    ivf_knn_cosine / ivf_sq8_knn hot paths — same cell per vec_id,
    including the (cdist, cell) tie order — and it passes every input
    column through unchanged (the SQ8 encode and the zero-join probe
    both consume the passthrough)."""
    from vectorsearch_with_hnsw_spark.operators.ivf import (
        _collect_cents,
        assign_cells,
        assign_frozen_cosine,
        label_centroids,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    cents = label_centroids(emb, 64)
    want = {
        r.vec_id: r.cell
        for r in assign_cells(emb.select("vec_id", "embedding"), cents).collect()
    }
    cells_np, C = _collect_cents(cents)
    got_rows = assign_frozen_cosine(
        emb.select("vec_id", "embedding"), cells_np, C
    ).collect()
    got = {r.vec_id: r.cell for r in got_rows}
    assert got == want
    # passthrough: embedding survives the kernel bit-for-bit
    orig = {r.vec_id: list(r.embedding) for r in emb.select("vec_id", "embedding").collect()}
    assert {r.vec_id: list(r.embedding) for r in got_rows} == orig


def test_quantized_vector_bearing_save_refine(spark, sf_smoke, tmp_path):
    """save(path, emb) on the quantized artifacts (Sq8Index, PqIndex,
    IvfPqIndex) stores vectors NEXT TO the codes: the loaded index
    refine-searches with emb=None, results bit-identical to the
    routing-only form probed with the corpus, and every parquet scan in
    the emb=None plan reads the INDEX's own files (the corpus table is
    never touched at probe time). add() carries the new batch's vectors
    so the corpus-free contract survives incremental insert; a
    routing-only load still refuses emb=None loudly."""
    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex, PqIndex
    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index

    emb = load_table(spark, sf_smoke, "embeddings")
    # local query frame: the corpus-free probe's plan must then contain
    # ZERO scans of the corpus table
    q = spark.createDataFrame(
        [(r.query_id, list(r.query_vec)) for r in _queries(spark, sf_smoke, n=5).collect()],
        "query_id long, query_vec array<float>",
    )
    cases = [
        ("sq8", Sq8Index.build(emb, dim=64), {}),
        ("pq", PqIndex.build(emb, dim=64, m=16), {}),
        ("ivfpq", IvfPqIndex.build(emb, dim=64, m=16, n_cells=8, iters=2), {"n_probe": 2}),
    ]
    for name, idx, kw in cases:
        path = str(tmp_path / f"{name}_vb")
        idx.save(path, emb)
        loaded = type(idx).load(spark, path)
        assert "v" in loaded.codes.columns, name
        res = loaded.refine_search(None, q, k=5, expand=4, **kw)
        # every scan in the corpus-free probe reads index files only
        plan = res._sc._jvm.PythonSQLUtils.explainString(
            res._jdf.queryExecution(), "formatted"
        )
        assert "testdata" not in plan, f"{name}: corpus table scanned:\n{plan}"
        assert path in plan, name
        got = {(r.query_id, r.rnk): (r.neighbor_id, r.dist) for r in res.collect()}
        # routing-only twin probed with the corpus agrees bit-for-bit
        path_ro = str(tmp_path / f"{name}_ro")
        idx.save(path_ro)
        ro = type(idx).load(spark, path_ro)
        want = {
            (r.query_id, r.rnk): (r.neighbor_id, r.dist)
            for r in ro.refine_search(emb, q, k=5, expand=4, **kw).collect()
        }
        assert got == want, name
        with pytest.raises(ValueError, match="refine needs raw vectors"):
            ro.refine_search(None, q, k=5, expand=4, **kw).collect()
        # incremental insert keeps the vectors riding along
        extra = emb.filter(F.col("vec_id") < 2).select(
            (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
        )
        grown = loaded.add(extra)
        assert "v" in grown.codes.columns, name
        got2 = grown.refine_search(None, q, k=5, expand=4, **kw).collect()
        assert got2, name
