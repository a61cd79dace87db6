"""Centroid-routed HNSW: recall stays high while each query visits only
its ~4.5*sqrt(P) nearest cells instead of all P partitions."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from vectorsearch_with_hnsw_spark.index.build import HnswParams
from vectorsearch_with_hnsw_spark.index.routed import (
    hnsw_build_routed,
    knn_hnsw_routed,
)
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


def test_routed_recall(spark, emb, queries):
    idx = hnsw_build_routed(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=8,
    )
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_hnsw_routed(idx, queries, k=10).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_exact(emb, queries, k=10, metric="cosine").collect()
    }
    recall = len(ann & exact) / len(exact)
    # multi-assignment (assign_n=2 default) keeps boundary neighbors
    # reachable from both sides of a cell border
    assert recall >= 0.9, f"routed recall {recall}"


def test_routed_self_match(spark, emb, queries):
    """An indexed vector queried against the routed index must find
    itself: its nearest cell is always probed."""
    idx = hnsw_build_routed(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=8,
    )
    rows = knn_hnsw_routed(idx, queries, k=1).filter(F.col("rnk") == 1).collect()
    assert rows
    for r in rows:
        assert r["neighbor_id"] == r["query_id"]


def test_routed_modulus_survives_empty_partitions(spark, emb, queries):
    """The routed index records the BUILD's P even when some build
    partitions end up with 0/1 nodes (no edge rows -> no meta row), and
    the probe reaches the 1-node partitions: 40 vectors across 64
    partitions guarantees empty and 1-node partitions; self-match must
    still hold for every query."""
    small = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    idx = hnsw_build_routed(small, HnswParams(dim=DIM, metric="cosine"), num_partitions=64)
    assert idx.num_partitions == 64
    assert idx.meta.count() < 64  # the failure precondition: sparse meta
    q = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = knn_hnsw_routed(idx, q, k=1).filter(F.col("rnk") == 1).collect()
    assert len(rows) == 40
    for r in rows:
        assert r["neighbor_id"] == r["query_id"] and abs(r["dist"]) < 1e-6


def test_single_node_partition_is_searchable(spark, emb):
    """A 1-node local graph emits no edges and no meta row; the probe
    kernel's fallback entry point must still surface that node
    (probe-all index, 3 vectors across 8 partitions)."""
    from vectorsearch_with_hnsw_spark.index.build import hnsw_build
    from vectorsearch_with_hnsw_spark.index.query import knn_hnsw

    tiny = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    idx = hnsw_build(tiny, HnswParams(dim=DIM, metric="l2"), num_partitions=8)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = knn_hnsw(idx, q, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert by_q == {i: {0, 1, 2} for i in range(3)}, "every node reachable from every query"


def test_routed_probe_after_append(spark, emb, tmp_path):
    """append must NOT change the build's partition count (appended
    partitions are hash-placed, outside the centroid cells): originals
    keep routing correctly AND appended vectors are reachable (their
    partitions are probed unconditionally). Also round-trips through
    save/load."""
    from vectorsearch_with_hnsw_spark.index.build import HnswIndex

    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    idx = hnsw_build_routed(
        old.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=8,
    )
    appended = idx.append(
        new.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        num_partitions=2,
    )
    assert appended.num_partitions == 8  # modulus frozen at build value
    assert len(appended.appended_partitions) == 2
    appended.save(str(tmp_path / "aidx"))
    loaded = HnswIndex.load(spark, str(tmp_path / "aidx"))
    assert loaded.num_partitions == 8
    assert loaded.appended_partitions == appended.appended_partitions
    q = emb.filter(F.col("vec_id") < 450).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = knn_hnsw_routed(loaded, q, k=1).filter(F.col("rnk") == 1).collect()
    assert len(rows) == 450
    for r in rows:  # every vector (original AND appended) finds itself
        assert r["neighbor_id"] == r["query_id"], (
            f"query {r['query_id']} routed to {r['neighbor_id']}"
        )


def test_num_partitions_survives_save_load(spark, emb, tmp_path):
    idx = hnsw_build_routed(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=8,
    )
    from vectorsearch_with_hnsw_spark.index.build import HnswIndex

    idx.save(str(tmp_path / "ridx"))
    loaded = HnswIndex.load(spark, str(tmp_path / "ridx"))
    assert loaded.num_partitions == 8
    assert loaded.params.dim == DIM


def _rewrite_params(spark, path, **changes):
    """Overwrite a saved index's params JSON with ``changes`` applied
    (a key set to None is removed)."""
    raw = json.loads(spark.read.json(f"{path}/params").first()["params_json"])
    raw.update(changes)
    raw = {k: v for k, v in raw.items() if v is not None}
    spark.createDataFrame([(json.dumps(raw),)], "params_json string").coalesce(1).write.mode(
        "overwrite"
    ).json(f"{path}/params")


def test_centroid_routing_contracts(spark, emb, queries, tmp_path):
    """Centroid routing: (a) recall holds at a P large enough that the
    removed LSH ball collapsed (P=64 on 2k vectors); (b) the probe
    result is identical through a save/load round-trip (centroids
    persist with the index); (c) so it is when the params carry the
    ``n_planes``/``replicas`` keys that earlier versions wrote for
    every routed index, centroid-routed ones too."""
    from vectorsearch_with_hnsw_spark.index.build import HnswIndex
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact

    src = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    idx = hnsw_build_routed(
        src, HnswParams(dim=DIM, metric="cosine"), num_partitions=64
    )
    assert idx.routed and idx.centroids is not None
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_hnsw_routed(idx, queries, k=10).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_exact(emb, queries, k=10, metric="cosine").collect()
    }
    assert len(got & exact) / len(exact) >= 0.85
    idx.save(str(tmp_path / "cidx"))
    loaded = HnswIndex.load(spark, str(tmp_path / "cidx"))
    assert loaded.routed and loaded.centroids is not None
    assert loaded.assign_n == idx.assign_n
    got2 = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_hnsw_routed(loaded, queries, k=10).collect()
    }
    assert got2 == got
    _rewrite_params(spark, str(tmp_path / "cidx"), n_planes=8, replicas=2)
    legacy = HnswIndex.load(spark, str(tmp_path / "cidx"))
    assert legacy.routed and legacy.num_partitions == 64 and legacy.assign_n == idx.assign_n
    got3 = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_hnsw_routed(legacy, queries, k=10).collect()
    }
    assert got3 == got


def test_load_refuses_lsh_routed_index(spark, emb, tmp_path):
    """LSH routing is gone: an index saved under it, in either params
    form (``routing: "lsh"``, or the older ``routed: true`` with no
    ``routing`` key), fails to load and names the way out, instead of
    being probed through centroid cells it does not have."""
    from vectorsearch_with_hnsw_spark.index.build import HnswIndex

    idx = hnsw_build_routed(
        emb.filter(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        ),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=4,
    )
    path = str(tmp_path / "lidx")
    idx.save(path)
    for routing in ("lsh", None):
        _rewrite_params(spark, path, n_planes=8, replicas=2, routing=routing)
        with pytest.raises(ValueError, match="'lsh'-routed.*rebuild the index with hnsw_build_routed"):
            HnswIndex.load(spark, path)


def test_routed_probe_refuses_hash_built_index(spark, emb, queries):
    """Routing over hash placement silently collapses recall at large P
    — the probe must refuse rather than misroute."""
    from vectorsearch_with_hnsw_spark.index.build import hnsw_build

    idx = hnsw_build(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=4,
    )
    with pytest.raises(ValueError, match="hash-placed"):
        knn_hnsw_routed(idx, queries, k=5)


def test_rebuild_of_routed_index_stays_routed(spark, emb, queries):
    """rebuild() must dispatch to the routed builder for a routed-built
    index: the output is centroid-routed again (routed probe allowed,
    recall preserved) rather than silently hash-placed."""
    small = emb.filter(F.col("vec_id") < 300)
    idx = hnsw_build_routed(
        small.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=4,
    )
    appended = idx.append(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 340)),
        num_partitions=1,
        id_col="vec_id",
        vec_col="embedding",
    )
    rebuilt = appended.rebuild()
    assert rebuilt.routed and rebuilt.centroids is not None
    assert rebuilt.appended_partitions == []
    # appended vectors are now inside the routed layout and reachable
    got = {
        r["neighbor_id"]
        for r in knn_hnsw_routed(
            rebuilt,
            emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 340)).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            k=1,
        ).filter(F.col("rnk") == 1).collect()
    }
    assert got >= {i for i in range(300, 340)}, "appended vectors reachable post-rebuild"


def test_routed_build_exposes_kernel_out(spark, emb, queries):
    """A routed build (and so a routed rebuild) hands back its persisted
    kernel output, like hnsw_build: the caller can release exactly that
    cache entry, and the index answers the same afterwards (nodes/edges
    are recomputed from the tables' lineage)."""
    idx = hnsw_build_routed(
        emb.filter(F.col("vec_id") < 300).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        ),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=4,
    )

    def answer(index):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rnk"], r["dist"])
            for r in knn_hnsw_routed(index, queries, k=5).collect()
        )

    before = answer(idx)
    assert idx.kernel_out is not None and idx.kernel_out.is_cached
    idx.kernel_out.unpersist(blocking=True)
    assert not idx.kernel_out.is_cached
    assert answer(idx) == before
    rebuilt = idx.rebuild()
    assert rebuilt.routed and rebuilt.centroids is not None
    assert rebuilt.kernel_out is not None
    assert rebuilt.kernel_out.is_cached
    rebuilt.kernel_out.unpersist(blocking=True)


def test_append_offset_clears_routing_space(spark, emb):
    """Appended partition ids must never land inside [0, num_partitions)
    even when trailing build partitions ended up empty (max(partition)
    can be < P-1)."""
    tiny = emb.filter(F.col("vec_id") < 3)
    idx = hnsw_build_routed(
        tiny.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=DIM, metric="cosine"),
        num_partitions=16,  # 3 vectors over 16 partitions: most empty
    )
    appended = idx.append(
        emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6)),
        num_partitions=2,
        id_col="vec_id",
        vec_col="embedding",
    )
    assert min(appended.appended_partitions) >= 16


def test_append_routed_preserves_layout_and_probe_bound(spark, emb):
    """append_routed places the batch into the EXISTING centroid cells:
    no appended_partitions growth (the probe bound stays at n_probe
    cells forever), new vectors reachable through routing,
    untouched partitions bit-identical, tombstones in touched
    partitions compacted away."""
    from vectorsearch_with_hnsw_spark.index.routed import append_routed

    old = emb.filter(F.col("vec_id") < 400).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    idx = hnsw_build_routed(
        old, HnswParams(dim=DIM, metric="cosine"), num_partitions=8
    )
    new = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 440))
    out = append_routed(idx, new, id_col="vec_id", vec_col="embedding")
    assert out.appended_partitions == idx.appended_partitions == []
    assert out.routed and out.num_partitions == idx.num_partitions
    # every partition id stays a cell of the build
    parts = {r["partition"] for r in out.nodes.select("partition").distinct().collect()}
    assert parts <= set(range(8))
    # new vectors reachable by ROUTING (no appended probe-all involved)
    q = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 440)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = {
        r["neighbor_id"]
        for r in knn_hnsw_routed(out, q, k=1).filter(F.col("rnk") == 1).collect()
    }
    assert hits >= set(range(400, 440))
    # untouched partitions' edges unchanged
    touched = {
        r["partition"]
        for r in out.nodes.join(
            new.select(F.col("vec_id").alias("id")), "id"
        ).select("partition").distinct().collect()
    }
    untouched = parts - touched
    if untouched:
        p0 = sorted(untouched)[0]
        before = {(r["layer"], r["src"], r["dst"]) for r in idx.edges.filter(F.col("partition") == p0).collect()}
        after = {(r["layer"], r["src"], r["dst"]) for r in out.edges.filter(F.col("partition") == p0).collect()}
        assert before == after
    # refuses hash-placed indexes
    from vectorsearch_with_hnsw_spark.index.build import hnsw_build

    hashed = hnsw_build(old, HnswParams(dim=DIM, metric="cosine"), num_partitions=4)
    with pytest.raises(ValueError, match="routed-built"):
        append_routed(hashed, new, id_col="vec_id", vec_col="embedding")


def test_append_routed_compacts_tombstones_in_touched_partitions(spark, emb):
    from pyspark.sql import functions as SF

    from vectorsearch_with_hnsw_spark.index.routed import append_routed

    old = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    idx = hnsw_build_routed(old, HnswParams(dim=DIM, metric="cosine"), num_partitions=2)
    deleted = idx.delete(spark.createDataFrame([(5,)], "id long"))
    out = append_routed(
        deleted,
        emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 210)),
        id_col="vec_id",
        vec_col="embedding",
    )
    # with P=2 every partition is touched by a 10-vector batch w.h.p.;
    # if id 5's partitions were touched its rows are gone, else still
    # tombstoned — either way it must never surface in a probe
    q = emb.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {r["neighbor_id"] for r in knn_hnsw_routed(out, q, k=5).collect()}
    assert 5 not in got


def test_delete_and_append_preserve_centroid_routing(spark, emb, queries):
    """delete()/append() must carry assign_n/centroids through to the
    new handle: losing them would make the index read as hash-placed,
    so rebuild() would silently hash-build it. Pin recall through
    delete()+probe at P=64, the setting where misrouting is
    catastrophic."""
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact

    src = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    idx = hnsw_build_routed(
        src, HnswParams(dim=DIM, metric="cosine"), num_partitions=64
    )
    assert idx.routed
    # delete an id far from the query block so exact top-10 is unchanged
    after_del = idx.delete(spark.createDataFrame([(1900,)], "id long"))
    assert after_del.routed
    assert after_del.assign_n == idx.assign_n
    assert after_del.centroids is not None
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_hnsw_routed(after_del, queries, k=10).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_exact(
            emb.filter(F.col("vec_id") != 1900), queries, k=10, metric="cosine"
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.85, f"post-delete routed recall {recall}"
    assert not any(n == 1900 for _, n in got)
    # append: the routed layout survives too, and rebuild() re-trains
    # centroids
    after_app = after_del.append(
        emb.filter(F.col("vec_id") >= 1990).filter(F.col("vec_id") < 1995),
        num_partitions=1,
        id_col="vec_id",
        vec_col="embedding",
    )
    assert after_app.routed and after_app.centroids is not None
    rebuilt = after_app.rebuild()
    assert rebuilt.routed and rebuilt.centroids is not None


def test_centroid_train_empty_corpus(spark):
    """_train_centroids on an empty frame returns a (0, dim) array and
    the routed build keeps the empty-in/empty-out totality contract."""
    from vectorsearch_with_hnsw_spark.index.routed import _train_centroids

    empty = spark.createDataFrame([], "id long, vec array<float>")
    C = _train_centroids(empty, 8, "id", "vec", dim=DIM)
    assert C.shape == (0, DIM) and C.dtype == "float64"
    idx = hnsw_build_routed(empty, HnswParams(dim=DIM, metric="cosine"), num_partitions=8)
    assert idx.nodes.count() == 0 and idx.edges.count() == 0


def test_index_without_cells_refuses_append_routed_and_probes_empty(spark, emb, queries):
    """A routed index built over an empty frame has no trained cells:
    append_routed refuses the batch (it has no cell to land in) rather
    than drop it, and a probe of any handle of that index, including
    one that re-collects the empty centroid table, returns no rows."""
    from vectorsearch_with_hnsw_spark.index.routed import append_routed

    empty = spark.createDataFrame([], "id long, vec array<float>")
    idx = hnsw_build_routed(empty, HnswParams(dim=DIM, metric="cosine"), num_partitions=4)
    batch = emb.filter(F.col("vec_id") < 20)
    with pytest.raises(ValueError, match="no trained centroid cells"):
        append_routed(idx, batch, id_col="vec_id", vec_col="embedding")
    derived = idx.delete(spark.createDataFrame([], "id long"))
    assert derived._centroids_np is None
    assert knn_hnsw_routed(derived, queries, k=3).count() == 0
