"""Routed HNSW: partition the index by centroid cell and probe only the
partitions a query can plausibly live in.

The plain build partitions by hash(id): correct, but every probe must
visit every partition, so probe cost grows with P. Routing fixes that
(SPANN-style) and shares the build kernel, probe kernel and merge with
the plain build: partition = one of P k-means cells, each vector
multi-assigned to its ``assign_n`` closest cells (default 2 -> 2x
storage); a query probes its ``n_probe`` nearest cells (default
~4.5*sqrt(P), sublinear in P). Centroids are trained driver-side on a
bounded deterministic sample (<= 64 per cell, capped — the same
bounded-artifact class as the PQ codebooks) with plain Lloyd
iterations.

Centroid cells are the only routed placement. The LSH Hamming-ball
layout they replaced (partition = sign-bit bucket % P, boundary
vectors replicated into flip buckets, queries probing the Hamming<=2
ball) lost on every axis measured on the sf0.1 embeddings (2,000x64,
cosine, 100 queries, local[3]) at P = 16 / 64 / 128: recall@10 0.957 /
0.767 / 0.676 against 1.000 / 1.000 / 0.976, probe time 9.1 / 7.8 /
7.5 s against 3.6 / 2.0 / 2.5 s, stored rows 2.0x / 2.5x / 2.8x against
2.0x, at about the same build time. On near-uniform gaussians true
neighbors average Hamming distance 4-5 over 8 planes, out of reach of
any bounded ball. operators.retrieval._stitch_graph repairs the
kNN-graph use case further with NN-descent rounds.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .build import HnswIndex, HnswParams, build_graphs
from .query import probe_placed


def default_n_probe(num_partitions: int) -> int:
    """Probe budget for centroid routing: ~4.5*sqrt(P), floor 8, capped
    at P — sublinear growth keeps the probed FRACTION shrinking as the
    cluster grows (P=8 -> probe-all, P=128 -> 51, P=1024 -> 144 = 14%).

    The coefficient is measured, not guessed (128k gaussian vectors,
    dim 64, assign_n=2): 3.0*sqrt(P) gave recall@10 0.935 at P=128 and
    0.902 at P=256 — decaying with P; 4.5*sqrt(P) gives 0.981 / 0.964
    at IDENTICAL build cost and ~flat probe time (the per-cell search
    is the cheap half of a probe; candidate merge dominates). The
    alternative, assign_n=3, reached 0.974 at P=128 but at ~3x build
    time — outside the <=1.2x build budget, so the probe-side knob
    wins. SCALECHECK records the P=64/128/256 curve each round."""
    import math

    return min(num_partitions, max(8, math.ceil(4.5 * math.sqrt(num_partitions))))


def _train_centroids(
    vectors_df: DataFrame,
    num_partitions: int,
    id_col: str,
    vec_col: str,
    sample_per_cell: int = 64,
    iters: int = 8,
    dim: int | None = None,
) -> np.ndarray:
    """Driver-side Lloyd over a bounded deterministic sample: rows are
    ordered by xxhash64(id) (a seedless pseudo-random permutation that
    is identical on every run/engine) and the first
    ``min(P*sample_per_cell, 65536)`` taken. Init = first P sample rows;
    an emptied cell keeps its previous centroid. Sample size is
    independent of the table size, so this is O(1) driver memory at any
    scale — the standard IVF/SPANN training shape."""
    cap = max(num_partitions, min(num_partitions * sample_per_cell, 65536))
    rows = (
        vectors_df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(cap)
        .collect()
    )
    if not rows:
        # empty corpus: keep the empty-in/empty-out totality contract
        # (an empty-rows np.array is 1-D and (X*X).sum(axis=1) would
        # raise AxisError); downstream _nearest_cells yields zero cells
        # per row, so probes/builds over the empty index are empty too
        return np.zeros((0, int(dim or 0)), dtype=np.float64)
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    k = min(num_partitions, len(X))
    C = X[:k].copy()
    x2 = (X * X).sum(axis=1)
    for _ in range(iters):
        c2 = (C * C).sum(axis=1)
        d2 = x2[:, None] - 2.0 * (X @ C.T) + c2[None, :]
        a = d2.argmin(axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def _nearest_cells(X: np.ndarray, C: np.ndarray, n: int) -> np.ndarray:
    """(len(X), n) int32 ids of each row's ``n`` nearest centroids,
    distance-then-cell-id ordered (deterministic under ties)."""
    x2 = (X * X).sum(axis=1)
    c2 = (C * C).sum(axis=1)
    d2 = x2[:, None] - 2.0 * (X @ C.T) + c2[None, :]
    n = min(n, C.shape[0])
    if n < C.shape[0]:
        part = np.argpartition(d2, n - 1, axis=1)[:, :n]
        pd2 = np.take_along_axis(d2, part, axis=1)
        order = np.lexsort((part, pd2), axis=1)
        return np.take_along_axis(part, order, axis=1).astype(np.int32)
    order = np.lexsort((np.broadcast_to(np.arange(C.shape[0]), d2.shape), d2), axis=1)
    return order.astype(np.int32)


def _place(
    vectors_df: DataFrame,
    cells: tuple[np.ndarray, np.ndarray],
    n: int,
    extra: Sequence[int] = (),
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """The routed placement, as (id, vec, partition) rows: each vector
    exploded to the cell ids of its ``n`` nearest centroids, plus the
    ``extra`` partitions. Index rows (n = assign_n) and query rows
    (n = n_probe, extra = the appended partitions) are placed alike, and
    the build and append_routed both place here, so an appended vector
    lands exactly where a rebuild would put it (given the same
    centroids). One broadcast + one Arrow map pass; no shuffle here (the
    build's groupBy / the probe's cogroup supplies it)."""
    rows = vectors_df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).cast("array<float>").alias("vec")
    )
    C, cell_ids = cells
    bc = rows.sparkSession.sparkContext.broadcast((C, cell_ids, np.array(extra, dtype=np.int32)))

    def assign(it):
        Cv, cells_v, extra_v = bc.value
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "vec": [], "partition": []}).astype(
                    {"id": "int64", "partition": "int32"}
                )
                continue
            X = np.array(list(pdf["vec"]), dtype=np.float64)
            parts = cells_v[_nearest_cells(X, Cv, n)]  # map row index -> cell id
            if len(extra_v):
                parts = np.concatenate(
                    [parts, np.broadcast_to(extra_v, (len(parts), len(extra_v)))], axis=1
                )
            n_rep = parts.shape[1]
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(dtype=np.int64), n_rep),
                    "vec": np.repeat(pdf["vec"].to_numpy(), n_rep),
                    "partition": parts.reshape(-1),
                }
            )

    return rows.mapInPandas(assign, "id long, vec array<float>, partition int")


def hnsw_build_routed(
    vectors_df: DataFrame,
    params: HnswParams,
    num_partitions: int = 8,
    id_col: str = "id",
    vec_col: str = "vec",
    assign_n: int = 2,
) -> HnswIndex:
    """Same kernel build as hnsw_build (``build_graphs``), but the
    partitioner co-locates likely neighbors: partition = one of the
    vector's ``assign_n`` nearest k-means cells (SPANN
    multi-assignment, ``assign_n``x storage; see the module docstring).
    The probe merge deduplicates (query, neighbor) pairs, so results
    are replication-independent."""
    C = _train_centroids(vectors_df, num_partitions, id_col, vec_col, dim=params.dim)
    cells = (C, np.arange(len(C), dtype=np.int32))
    centroids_df = vectors_df.sparkSession.createDataFrame(
        [(int(i), [float(v) for v in C[i]]) for i in range(len(C))],
        "cell int, centroid array<double>",
    )
    src = _place(vectors_df, cells, assign_n, id_col=id_col, vec_col=vec_col)
    nodes, edges, kernel_out = build_graphs(src, params)
    idx = HnswIndex(
        nodes, edges, params, num_partitions=num_partitions,
        assign_n=assign_n, centroids=centroids_df,
    )
    idx.kernel_out = kernel_out
    # seed the probe-side cache — the build already holds the centroids
    idx._centroids_np = cells
    return idx


def _centroids_np(index: HnswIndex) -> tuple[np.ndarray, np.ndarray]:
    """(centroid matrix, cell ids) of a routed index, collected once per
    handle and cached — the table is bounded (P rows), but the collect
    is still a Spark job the probe shouldn't pay per call. The matrix
    keeps its (0, dim) shape when no cell was trained (empty corpus)."""
    if index._centroids_np is None:
        rows = index.centroids.orderBy("cell").collect()
        index._centroids_np = (
            np.array([r["centroid"] for r in rows], dtype=np.float64).reshape(
                len(rows), index.params.dim
            ),
            np.array([r["cell"] for r in rows], dtype=np.int32),
        )
    return index._centroids_np


def knn_hnsw_routed(
    index: HnswIndex,
    queries_df: DataFrame,
    k: int = 10,
    ef: int | None = None,
    n_probe: int | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Multi-probe routed query: each query is replicated only to its
    ``n_probe`` nearest centroid cells (default ~4.5*sqrt(P),
    sublinear in P) and probed by ``query.probe_placed`` (the kernel and
    merge every probe path shares).

    Partitions added by ``HnswIndex.append`` are hash-placed, outside
    the routing space — every query probes ALL of them in addition
    to its routed candidates (correctness over the appended tail;
    ``rebuild`` dispatches to hnsw_build_routed for routed-built
    indexes, re-mixing appended vectors into the routed layout).

    Refuses hash-placed indexes (``hnsw_build`` output): routing
    over hash placement silently probes partitions unrelated to the
    query's true neighbors — at large P recall collapses with no
    error. Use ``knn_hnsw`` (probe-all) for hash-placed indexes."""
    if not index.routed:
        raise ValueError(
            "knn_hnsw_routed requires an index built by hnsw_build_routed "
            "(routed placement); this index is hash-placed — use knn_hnsw "
            "(probe-all) or rebuild with hnsw_build_routed"
        )
    # the probe budget scales with the BUILD's P, not the trained cell
    # count (a tiny corpus trains fewer cells than P)
    R = int(n_probe) if n_probe is not None else default_n_probe(index._partition_count())
    placed = _place(queries_df, _centroids_np(index), R, index.appended_partitions,
                    query_id_col, query_vec_col)
    return probe_placed(index, placed, k, ef)


def append_routed(
    index: HnswIndex,
    vectors_df: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> HnswIndex:
    """Incremental insert that PRESERVES the routed layout: new vectors
    are placed by ``_place`` into the index's own centroid cells (no
    retraining — standard IVF behavior; rebuild() re-trains) with its
    ``assign_n``, and only the partitions that actually receive rows
    have their local graphs rebuilt (over old + new members together).
    Untouched partitions' node and edge rows pass through unchanged.

    Contrast ``HnswIndex.append`` (the hash-placed batch form): that
    keeps existing graphs immutable but every routed query must probe
    ALL appended partitions, so the probe bound grows with the number
    of append batches until a rebuild. This form keeps knn_hnsw_routed's
    probe bound fixed forever — the shape a continuously ingesting
    deployment needs — at the cost of re-running the build kernel for
    the touched partitions (cost ∝ vectors living in touched
    partitions, NOT index size; a batch that routes into b of P
    partitions rebuilds only those b).

    The whole update is declarative: one placement projection over the
    batch, one distinct on its partition ids (bounded by P), an
    anti-join split of the old tables, and ``build_graphs`` over the
    touched slice. Returns a new handle whose ``kernel_out`` is the
    touched slice's kernel output; tables are immutable as everywhere
    else.

    Raises ``ValueError`` on an index with no trained cells (built over
    an empty frame): the batch would have no cell to land in. An id
    that is already in a partition the batch touches makes that
    partition's rebuild raise too (``LocalHNSW`` refuses an id given
    twice): delete the old row first to replace a vector."""
    if not index.routed:
        raise ValueError(
            "append_routed requires a routed-built index; use "
            "HnswIndex.append for hash-placed indexes"
        )
    cells = _centroids_np(index)
    if len(cells[1]) == 0:
        raise ValueError(
            "append_routed: the routed index has no trained centroid cells "
            "(it was built over an empty frame), so the batch has no cell to "
            "land in; build the index with hnsw_build_routed over the vectors instead"
        )
    fresh = _place(vectors_df, cells, index.assign_n, id_col=id_col, vec_col=vec_col)
    touched = fresh.select("partition").distinct()
    old_members = index.nodes.join(F.broadcast(touched), "partition").select(
        "partition", "id", "vec", "deleted"
    )
    # tombstoned members stay out of the rebuilt graphs — the routed
    # incremental insert doubles as incremental compaction of the
    # touched partitions
    members = (
        old_members.filter(~F.col("deleted"))
        .select("partition", "id", "vec")
        .unionByName(fresh)
    )
    nodes, edges, kernel_out = build_graphs(members, index.params)
    keep = lambda df: df.join(F.broadcast(touched), "partition", "left_anti")  # noqa: E731
    out = HnswIndex(
        keep(index.nodes).unionByName(nodes),
        keep(index.edges).unionByName(edges),
        index.params,
        **index._layout(),
    )
    out.kernel_out = kernel_out
    return out
