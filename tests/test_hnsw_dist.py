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
    # released after the module: a cached embeddings relation left
    # behind shows up in later modules' plans as InMemoryRelation
    df = load_table(spark, sf_smoke, "embeddings").cache()
    yield df
    df.unpersist()


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
    top-1 from ``knn_hnsw`` and from ``knn_hnsw_distributed``, also on
    a handle with no recorded modulus, which takes its partition count
    from the nodes table (4 here, not the 2 partitions with edges) —
    its ``rebuild`` too."""
    X = np.random.default_rng(0).standard_normal((6, 8))
    vecs = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(6)], "id long, vec array<double>"
    )
    idx = hnsw_build(vecs, HnswParams(dim=8, metric="l2"), num_partitions=4)
    meta_parts = {r["partition"] for r in idx.meta.collect()}
    node_parts = {r["partition"] for r in idx.nodes.select("partition").collect()}
    assert node_parts - meta_parts, "fixture must hold a partition with no meta row"
    q = vecs.select(F.col("id").alias("query_id"), F.col("vec").alias("query_vec"))
    bare = HnswIndex(idx.nodes, idx.edges, idx.params)
    for handle, probe in ((idx, knn_hnsw), (idx, knn_hnsw_distributed), (bare, knn_hnsw_distributed)):
        top1 = {r["query_id"]: r["neighbor_id"] for r in probe(handle, q, k=1).collect()}
        assert top1 == {i: i for i in range(6)}, probe.__name__
    assert bare.rebuild().num_partitions == 4


def test_distributed_probe_without_recorded_modulus(index, queries):
    """A handle that records no build modulus (``num_partitions=None``,
    e.g. an index saved before the modulus was kept) replicates queries
    over the partitions of its nodes table and still answers exactly
    like the broadcast probe."""
    bare = HnswIndex(index.nodes, index.edges, index.params)

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


def _vectors(spark, ids, dim=8, seed=0):
    X = np.random.default_rng(seed).standard_normal((len(ids), dim))
    return spark.createDataFrame(
        [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)], "id long, vec array<double>"
    )


def test_append_never_reuses_an_empty_appended_partition(spark):
    """A one-vector append over two fresh partitions leaves one of them
    empty; the next append must still take new partition ids (from the
    layout record, not from the nodes table), or two unrelated local
    graphs share one probe group."""
    params = HnswParams(dim=8, metric="l2")
    idx = hnsw_build(_vectors(spark, range(40)), params, num_partitions=2)
    for i, new_id in enumerate((1002, 1004)):
        idx = idx.append(_vectors(spark, [new_id], seed=i + 1), num_partitions=2)
    assert idx.appended_partitions == [2, 3, 4, 5]
    q = _vectors(spark, [1002], seed=1).select(
        F.col("id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    assert knn_hnsw(idx, q, k=1).first()["neighbor_id"] == 1002


def test_fresh_handle_tables_equal_saved_copy(spark, index, tmp_path):
    """nodes, edges and meta of a fresh handle (views of the persisted
    kernel output) hold exactly the rows of its saved-then-loaded copy."""
    path = str(tmp_path / "idx")
    index.save(path)
    loaded = HnswIndex.load(spark, path)
    for name in ("nodes", "edges", "meta"):
        fresh, back = getattr(index, name), getattr(loaded, name)

        def rows(df):
            return sorted(tuple(r) for r in df.select(*fresh.columns).collect())

        assert rows(fresh) == rows(back), name


@pytest.mark.parametrize("derive", ["append", "delete"])
def test_derived_handles_carry_kernel_out(spark, derive):
    """append hands on its fresh build's kernel output and delete its
    parent's: the derived handle's cache entry is set and cached, and
    the handle answers the same after it is released."""
    params = HnswParams(dim=8, metric="l2")
    base = hnsw_build(_vectors(spark, range(60)), params, num_partitions=2)
    if derive == "append":
        idx = base.append(_vectors(spark, range(100, 120), seed=1), num_partitions=1)
        assert idx.kernel_out is not base.kernel_out
    else:
        idx = base.delete(spark.createDataFrame([(3,), (7,)], "id long"))
        assert idx.kernel_out is base.kernel_out
    q = _vectors(spark, range(100, 105), seed=1).select(
        F.col("id").alias("query_id"), F.col("vec").alias("query_vec")
    )

    def answer():
        return sorted(tuple(r) for r in knn_hnsw(idx, q, k=5).collect())

    before = answer()
    assert idx.kernel_out is not None and idx.kernel_out.is_cached
    idx.kernel_out.unpersist(blocking=True)
    assert answer() == before
    base.kernel_out.unpersist(blocking=True)


def test_routed_probe_after_append_routed_keeps_self_join_check(spark, emb, centroid_index):
    """append_routed unions views of two kernel outputs with the old
    tables; its routed probe cogroups nodes with edges. Each view has
    its own partition attribute, so that runs with Spark's default
    ambiguous self-join check on, and the appended vectors are found."""
    from vectorsearch_with_hnsw_spark.index.routed import append_routed, knn_hnsw_routed

    assert spark.conf.get("spark.sql.analyzer.failAmbiguousSelfJoin", "true") == "true"
    new = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("id"), F.col("embedding").alias("vec")
    )
    out = append_routed(centroid_index, new)
    q = new.select(F.col("id").alias("query_id"), F.col("vec").alias("query_vec"))
    top1 = knn_hnsw_routed(out, q, k=2).filter(F.col("rnk") <= 2).collect()
    found = {(r["query_id"], r["neighbor_id"]) for r in top1}
    assert {(i, i) for i in range(1_000_000, 1_000_010)} <= found
    out.kernel_out.unpersist(blocking=True)


def test_save_load_probe_is_bit_identical_after_append(spark, tmp_path):
    """The saved nodes keep each partition's rows in the order its build
    kernel inserted them, so a loaded handle scores from the same matrix
    as the fresh one: every probe column, dist included, survives the
    round trip bit for bit — also after an append. (float32 matvec
    rounding depends on a row's position in the matrix, so a saved row
    order that differs from the kernel's moves cosine distances by an
    ulp.)"""
    rng = np.random.default_rng(7)
    X, A = rng.standard_normal((240, 16)), rng.standard_normal((40, 16))
    X[17], X[29] = X[3], 0.0
    Q = np.vstack([rng.standard_normal((8, 16)), X[[3, 50]], A[[1, 7]]])

    def frame(ids, M, names="id int, vec array<double>"):
        return spark.createDataFrame([(int(i), [float(v) for v in r]) for i, r in zip(ids, M)], names)

    idx = hnsw_build(frame(range(240), X), HnswParams(dim=16, metric="cosine", M=6, ef_construction=40),
                     num_partitions=4)
    appended = idx.append(frame(range(10000, 10040), A), num_partitions=2)
    path = str(tmp_path / "idx")
    appended.save(path)
    loaded = HnswIndex.load(spark, path)
    q = frame(range(len(Q)), Q, "query_id int, query_vec array<double>")

    def answer(index):
        return sorted(tuple(r) for r in knn_hnsw(index, q, k=5).collect())

    fresh, back = answer(appended), answer(loaded)
    for handle in (idx, appended):
        if handle.kernel_out is not None:
            handle.kernel_out.unpersist(blocking=True)
    assert back == fresh


def test_load_ignores_meta_table_of_earlier_saves(spark, index, queries, tmp_path):
    """Earlier versions saved a ``meta/`` table (partition, entry_point,
    max_layer, n_nodes) next to ``nodes/`` and ``edges/``. An index saved
    that way loads and probes exactly like the same index saved
    without it."""
    new, old = str(tmp_path / "new"), str(tmp_path / "old")
    index.save(new)
    index.save(old)
    index.meta.write.parquet(f"{old}/meta")

    def answers(handle):
        return [sorted(tuple(r) for r in probe(handle, queries, k=5).collect())
                for probe in (knn_hnsw, knn_hnsw_distributed)]

    a, b = HnswIndex.load(spark, new), HnswIndex.load(spark, old)
    assert answers(b) == answers(a)
    assert b.num_partitions == a.num_partitions == 4


def test_build_refuses_non_finite_vectors(spark):
    """A NaN vector fails the build kernel loudly, naming its id, instead
    of silently reordering its partition's neighbor lists."""
    df = _vectors(spark, range(60)).withColumn(
        "vec", F.when(F.col("id") == 23, F.array_repeat(F.lit(float("nan")), 8)).otherwise(F.col("vec"))
    )
    idx = hnsw_build(df, HnswParams(dim=8, metric="l2"), num_partitions=3)
    with pytest.raises(Exception, match=r"NaN or infinite values; first id 23"):
        idx.edges.count()
    idx.kernel_out.unpersist(blocking=True)


def test_build_refuses_duplicate_ids(spark):
    """Hash placement puts both copies of an id in one partition, whose
    kernel refuses it, naming the id."""
    idx = hnsw_build(_vectors(spark, list(range(60)) + [23]), HnswParams(dim=8), num_partitions=3)
    with pytest.raises(Exception, match="duplicate id 23 in one HNSW partition"):
        idx.edges.count()
    idx.kernel_out.unpersist(blocking=True)


def test_probe_refuses_non_finite_query(spark):
    """A NaN query fails its probe loudly instead of returning k
    arbitrary neighbors with NaN distances from every partition."""
    idx = hnsw_build(_vectors(spark, range(60)), HnswParams(dim=8, metric="l2"), num_partitions=2)
    q = spark.createDataFrame(
        [(0, [0.5] * 8), (1, [0.0] * 7 + [float("nan")])], "query_id long, query_vec array<double>"
    )
    with pytest.raises(Exception, match="query vector with NaN or infinite values"):
        knn_hnsw_distributed(idx, q, k=3).collect()
    idx.kernel_out.unpersist(blocking=True)


def test_build_and_probe_do_not_depend_on_input_layout(spark):
    """The same vectors built from three physical layouts give the same
    graphs and the same probe rows: the build and probe kernels number
    each partition's rows by id, not by shuffle arrival order."""
    rng = np.random.default_rng(13)
    X = rng.standard_normal((600, 32))
    rows = [(int(i), [float(v) for v in x]) for i, x in enumerate(X)]
    schema = "id long, vec array<double>"
    Q = np.vstack([rng.standard_normal((12, 32)), X[[5, 250, 599]]])
    q = spark.createDataFrame(
        [(int(i), [float(v) for v in x]) for i, x in enumerate(Q)], "query_id long, query_vec array<double>"
    )
    base = spark.createDataFrame(rows, schema)
    layouts = [base.repartition(1), base.repartition(7), spark.createDataFrame(rows[::-1], schema)]
    params = HnswParams(dim=32, metric="l2")
    seen = []
    for df in layouts:
        idx = hnsw_build(df, params, num_partitions=3)
        seen.append([
            sorted(tuple(r) for r in frame.collect())
            for frame in (idx.edges, knn_hnsw(idx, q, k=10), knn_hnsw_distributed(idx, q, k=10))
        ])
        idx.kernel_out.unpersist(blocking=True)
    assert seen[0][0] and seen[0][1]
    assert seen[1] == seen[0]
    assert seen[2] == seen[0]
