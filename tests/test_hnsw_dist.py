"""Distributed HNSW index: build/probe recall vs the exact oracle,
save/load round-trip, delete + rebuild compaction."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectorsearch_with_hnsw_spark.index.build import HnswIndex, HnswParams, hnsw_build
from vectorsearch_with_hnsw_spark.index.query import knn_hnsw, knn_hnsw_distributed
from vectorsearch_with_hnsw_spark.operators.knn import knn_exact
from vectorsearch_with_hnsw_spark.sources import load_table

DIM = 64


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return load_table(spark, sf_smoke, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def index(emb):
    return hnsw_build(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=4,
    )


def _recall(ann_df, exact_df):
    ann = {(r["query_id"], r["neighbor_id"]) for r in ann_df.collect()}
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_df.collect()}
    return len(ann & exact) / len(exact)


def test_probe_recall(spark, emb, queries, index):
    ann = knn_hnsw(index, queries, k=10)
    exact = knn_exact(emb, queries, k=10, metric="cosine")
    assert _recall(ann, exact) >= 0.9


@pytest.fixture(scope="module")
def centroid_index(emb):
    from vectorsearch_with_hnsw_spark.index.routed import hnsw_build_routed

    return hnsw_build_routed(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=4,
        assign_n=2,
    )


@pytest.mark.parametrize("layout", ["hash", "centroid"])
def test_distributed_probe_matches_broadcast_probe(spark, emb, queries, request, layout):
    """The no-driver-collect probe must return exactly the broadcast
    probe's results (same kernels, same merge) — also over a replicated
    layout (centroid routing, assign_n=2: every id lives in two
    partitions), where the routed probe at n_probe=P visits every
    partition too and must agree with both."""
    index = request.getfixturevalue("index" if layout == "hash" else "centroid_index")

    def ranked(df):
        return {(r["query_id"], r["neighbor_id"], r["rnk"]) for r in df.collect()}

    a = ranked(knn_hnsw(index, queries, k=10))
    b = ranked(knn_hnsw_distributed(index, queries, k=10))
    assert a == b
    if layout == "centroid":
        from vectorsearch_with_hnsw_spark.index.routed import knn_hnsw_routed

        assert ranked(knn_hnsw_routed(index, queries, k=10, n_probe=index.num_partitions)) == a


def test_probes_reach_partitions_without_meta_row(spark):
    """A partition holding 0 or 1 nodes emits no edges, so it has no
    meta row. Both probe-all paths must still visit it: here partition
    3 holds only id 3, and every vector must come back as its own
    top-1 from ``knn_hnsw`` and from ``knn_hnsw_distributed``."""
    X = np.random.default_rng(0).standard_normal((6, 8))
    vecs = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(6)], "id long, vec array<double>"
    )
    idx = hnsw_build(vecs, HnswParams(dim=8, metric="l2"), num_partitions=4)
    meta_parts = {r["partition"] for r in idx.meta.collect()}
    node_parts = {r["partition"] for r in idx.nodes.select("partition").collect()}
    assert node_parts - meta_parts, "fixture must hold a partition with no meta row"
    q = vecs.select(F.col("id").alias("query_id"), F.col("vec").alias("query_vec"))
    for probe in (knn_hnsw, knn_hnsw_distributed):
        top1 = {r["query_id"]: r["neighbor_id"] for r in probe(idx, q, k=1).collect()}
        assert top1 == {i: i for i in range(6)}, probe.__name__


def test_distributed_probe_without_recorded_modulus(index, queries):
    """A handle that records no build modulus (``num_partitions=None``,
    e.g. an index saved before the modulus was kept) replicates queries
    over the partitions of its entry-point record and still answers
    exactly like the broadcast probe."""
    bare = HnswIndex(index.nodes, index.edges, index.meta, index.params)

    def ranked(df):
        return {(r["query_id"], r["neighbor_id"], r["rnk"]) for r in df.collect()}

    assert ranked(knn_hnsw_distributed(bare, queries, k=10)) == ranked(knn_hnsw(index, queries, k=10))


def test_results_sorted_and_self_match(index, queries):
    rows = knn_hnsw(index, queries, k=5).filter(F.col("query_id") == 0).collect()
    ds = [r["dist"] for r in sorted(rows, key=lambda r: r["rnk"])]
    assert ds == sorted(ds)
    # float32 kernel math: self-distance is zero at float32 epsilon scale
    # (the reference also stores float32 and reports 0.0000 at 4 decimals)
    assert rows[0]["neighbor_id"] == 0 and abs(rows[0]["dist"]) < 1e-5


def test_save_load_roundtrip(spark, index, queries, tmp_path):
    path = str(tmp_path / "idx")
    index.save(path)
    loaded = HnswIndex.load(spark, path)
    before = {(r["query_id"], r["neighbor_id"]) for r in knn_hnsw(index, queries, k=5).collect()}
    after = {(r["query_id"], r["neighbor_id"]) for r in knn_hnsw(loaded, queries, k=5).collect()}
    assert before == after
    assert loaded.params == index.params


def test_append_batch(spark, emb, queries, index):
    """Incremental insert: new vectors become probe-able; old results
    unchanged where the new vectors don't win."""
    from vectorsearch_with_hnsw_spark.operators.synth import synthetic_vectors

    base_n = emb.count()
    new = synthetic_vectors(spark, 50, DIM, seed=99).select(
        (F.col("id") + 1_000_000).alias("id"), "vec"
    )
    appended = index.append(new, num_partitions=1)
    assert appended.nodes.count() == base_n + 50
    # a query that IS one of the new vectors must find itself at rank 1
    probe = new.limit(1).select(
        F.col("id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    rows = knn_hnsw(appended, probe, k=3).filter(F.col("rnk") == 1).collect()
    assert rows and rows[0]["neighbor_id"] == rows[0]["query_id"]


def test_delete_and_rebuild(spark, emb, queries, index):
    dl = emb.filter(F.col("vec_id") % 5 == 0).select(F.col("vec_id").alias("id"))
    deleted_ids = {r["id"] for r in dl.collect()}
    tombstoned = index.delete(dl)
    res = knn_hnsw(tombstoned, queries, k=10)
    got = {r["neighbor_id"] for r in res.collect()}
    assert not (got & deleted_ids), "tombstoned ids must never be returned"
    rebuilt = tombstoned.rebuild(num_partitions=2)
    assert rebuilt.nodes.count() == emb.count() - len(deleted_ids)
    res2 = knn_hnsw(rebuilt, queries, k=10)
    got2 = {r["neighbor_id"] for r in res2.collect()}
    assert not (got2 & deleted_ids)


def test_filtered_probe_post_filter_recall(spark, emb, queries, index):
    """Filtered ANN, post-filter strategy on the HNSW path: probe with a
    boosted ef and k, drop neighbors failing the metadata predicate,
    re-rank, truncate. Checked against the PRE-filtered exact oracle
    (the knn_filtered registry query's plan shape). With ~half the
    corpus passing the filter, ef/k boosted 4x keeps recall high."""
    from pyspark.sql.window import Window

    labels = F.broadcast(emb.select(F.col("vec_id").alias("neighbor_id"), "label"))
    probed = (
        knn_hnsw(index, queries, k=40, ef=200)
        .join(labels, "neighbor_id")
        .filter(F.col("label") < 5)
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    ann = (
        probed.withColumn("rnk2", F.row_number().over(w))
        .filter(F.col("rnk2") <= 10)
        .select("query_id", "neighbor_id")
    )
    exact = knn_exact(
        emb.filter(F.col("label") < 5), queries, k=10, metric="cosine"
    )
    assert _recall(ann, exact) >= 0.85


def test_hnsw_stats_structure(spark, sf_smoke):
    """Per-layer stats: layer 0 holds every alive node, layer population
    shrinks going up, and no layer exceeds its degree cap (max_m0 at
    layer 0, M above — the reference's pruning invariant,
    hsnw_trial.py:250-254, observable from the index tables)."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.index.build import (
        HnswParams,
        hnsw_build,
        hnsw_stats,
    )
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings").limit(200)
    idx = hnsw_build(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=64, metric="cosine"),
        num_partitions=2,
    )
    rows = hnsw_stats(idx).collect()
    by_layer = {r.layer: r for r in rows}
    assert by_layer[0].n_nodes == 200
    levels = sorted(by_layer)
    for lo, hi in zip(levels, levels[1:]):
        assert by_layer[hi].n_nodes <= by_layer[lo].n_nodes
    for r in rows:
        assert r.max_out_degree <= r.degree_cap, (r.layer, r.max_out_degree)
        assert r.n_edges >= r.n_nodes_linked  # every linked node has >= 1 edge


def test_rescored_probe_is_bit_identical_to_exact(spark, emb, queries, index):
    """knn_hnsw_rescored = shortlist at high ef + exact re-score against
    the ORIGINAL vectors: whenever the shortlist covers the true top-k
    (the measured regime here), every column — including the float
    dist — must equal exact kNN bit for bit. This is the contract that
    makes the driver's knn_hnsw row oracle-checkable."""
    from vectorsearch_with_hnsw_spark.index.query import knn_hnsw_rescored

    got = knn_hnsw_rescored(index, emb, queries, k=10, shortlist_k=40, ef=200)
    want = knn_exact(emb, queries, k=10, metric="cosine")
    cols = ["query_id", "neighbor_id", "dist", "rnk"]
    g = sorted(tuple(r[c] for c in cols) for r in got.collect())
    w = sorted(tuple(r[c] for c in cols) for r in want.collect())
    assert g == w


def test_knn_hnsw_allowed_ids_post_filter_api(spark, sf_smoke):
    """The first-class allowed_ids probe on the HNSW artifact (the
    formal API for the post-filter recipe above): results contain only
    permitted ids, ranks are dense per query, and with ~half the corpus
    permitted the boosted probe still returns k rows per query."""
    import pyspark.sql.functions as F

    from vectorsearch_with_hnsw_spark.index.build import HnswParams, hnsw_build
    from vectorsearch_with_hnsw_spark.index.query import knn_hnsw
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    idx = hnsw_build(vecs, HnswParams(dim=64, metric="l2"), num_partitions=4)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    out = knn_hnsw(idx, q, k=5, allowed_ids=allowed).collect()
    assert out and all(r.neighbor_id % 2 == 0 for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rnk)
    for qid, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), (qid, rnks)
        assert len(rnks) == 5, (qid, rnks)  # half the corpus allowed, 4x boost
