"""Routed HNSW: partition the index by locality (centroid cell or LSH
bucket) and probe only the partitions a query can plausibly live in.

The plain build partitions by hash(id): correct, but every probe must
visit every partition, so probe cost grows with P. Routing fixes that.
Two routing families share the build kernel, probe kernel and merge:

- ``routing="centroid"`` (default, SPANN-style): partition = nearest
  of P k-means centroids, each vector multi-assigned to its
  ``assign_n`` closest cells (default 2 -> 2x storage); a query probes
  its ``n_probe`` nearest cells (default ~4.5*sqrt(P), sublinear in P).
  Centroids are trained driver-side on a bounded deterministic sample
  (<= 64 per cell, capped — the same bounded-artifact class as the PQ
  codebooks) with plain Lloyd iterations.
- ``routing="lsh"``: partition = lsh_bucket(vec) % P with boundary
  vectors replicated into their ``replicas`` lowest-margin flip
  buckets; queries probe their Hamming<=2 ball (37 buckets regardless
  of P).

Why centroid is the default: on the near-uniform gaussian testdata
(worst case for sign-bit LSH — true neighbors average Hamming distance
4-5 over 8 planes, unreachable by any bounded Hamming ball), measured
candidate coverage of the true top-10 at P=128 with equal probe budget
(37 partitions) is 0.63 for the LSH ball vs 0.93 for assign_n=2
centroid routing; recall@10 through the full index tracks coverage.
operators.retrieval._stitch_graph repairs the kNN-graph use case
further with NN-descent rounds.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ann import hyperplane_ints, lsh_bucket
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


def _cell_rows(
    rows: DataFrame,
    cells: tuple[np.ndarray, np.ndarray],
    n: int,
    extra: Sequence[int] = (),
) -> DataFrame:
    """(id, vec, partition) with each (id, vec) row exploded to the cell
    ids of its ``n`` nearest centroids, plus the ``extra`` partitions —
    the centroid twin of the LSH multi-assignment projection, for index
    rows (n = assign_n) and query rows (n = n_probe, extra = the
    appended partitions) alike. One broadcast + one Arrow map pass; no
    shuffle here (the build's groupBy / the probe's cogroup supplies
    it)."""
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


def _assignment_exprs(
    vec_sql: str, dim: int, n_planes: int, num_partitions: int, replicas: int
) -> tuple[str, str, str]:
    """SQL for the multi-assignment placement: (dots array, home bucket
    from ``_dots``, partition array from ``_bucket``/``_dots``).

    A vector lands in its home bucket PLUS the flip buckets of its
    ``replicas`` smallest-|margin| hyperplanes — the SPANN-style
    boundary replication: a vector close to a hyperplane is ambiguous
    between the two sides, so it is stored on both. Storage grows by at
    most (1+replicas)x; query-side probe cost is unchanged (same
    Hamming-ball routing), while boundary neighbors become reachable
    from both sides of the cut. Bit order matches lsh_band_bucket's
    fold (plane 0 = MSB), so home buckets are identical to the
    replica-free build."""
    planes = ", ".join(
        "array(" + ",".join(f"{float(v)!r}D" for v in hyperplane_ints(p, dim)) + ")"
        for p in range(n_planes)
    )
    dots = (
        f"transform(array({planes}), pl -> aggregate(zip_with({vec_sql}, pl, "
        "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v))"
    )
    bucket = (
        "aggregate(_dots, 0, (acc, d) -> acc * 2 + "
        "(CASE WHEN d >= 0.0D THEN 1 ELSE 0 END))"
    )
    flips = (
        f"transform(slice(array_sort(transform(sequence(0, {n_planes - 1}), "
        f"i -> struct(abs(element_at(_dots, i + 1)) AS m, i AS p))), 1, {replicas}), "
        f"s -> _bucket ^ shiftleft(1, {n_planes - 1} - s.p))"
    )
    parts = (
        f"array_distinct(transform(concat(array(_bucket), {flips}), "
        f"b -> CAST(pmod(b, {num_partitions}) AS INT)))"
    )
    return dots, bucket, parts


def _place(
    vectors_df: DataFrame,
    dim: int,
    routing: str,
    cells: tuple[np.ndarray, np.ndarray] | None,
    assign_n: int,
    num_partitions: int,
    n_planes: int,
    replicas: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The routed placement of a vector batch, as (id, vec, partition)
    rows: its ``assign_n`` nearest centroid ``cells`` (centroid routing)
    or its LSH home bucket + ``replicas`` flip buckets mod
    ``num_partitions`` (LSH routing). The build and append_routed both
    place through here, so an appended vector lands exactly where a
    rebuild would put it (given the same centroids)."""
    narrow = [F.col(id_col).cast("long").alias("id"), F.col(vec_col).cast("array<float>").alias("vec")]
    if routing == "centroid":
        return _cell_rows(vectors_df.select(*narrow), cells, assign_n)
    dots, bucket, parts = _assignment_exprs(
        f"cast(`{vec_col}` as array<double>)", dim, n_planes, num_partitions, replicas
    )
    return (
        vectors_df.select(*narrow, F.expr(dots).alias("_dots"))
        .withColumn("_bucket", F.expr(bucket))
        .select("id", "vec", F.explode(F.expr(parts)).alias("partition"))
    )


def hnsw_build_routed(
    vectors_df: DataFrame,
    params: HnswParams,
    num_partitions: int = 8,
    n_planes: int = 8,
    replicas: int = 2,
    id_col: str = "id",
    vec_col: str = "vec",
    routing: str = "centroid",
    assign_n: int = 2,
) -> HnswIndex:
    """Same kernel build as hnsw_build (``build_graphs``), but the
    partitioner co-locates likely neighbors (see module docstring for
    the two routing families and why centroid is the default).

    ``routing="centroid"``: partition = one of the vector's ``assign_n``
    nearest k-means cells (SPANN multi-assignment, ``assign_n``x
    storage). ``routing="lsh"``: partition = LSH bucket % P, with each
    vector additionally replicated into the flip buckets of its
    ``replicas`` lowest-margin hyperplanes (measured edge recall at
    P=64 on the gaussian sf0.1 testdata: 0.58 replica-free -> 0.79
    candidate coverage at replicas=2 for 3x storage; ``replicas=0``
    restores the single-home layout). Either way the probe merge
    deduplicates (query, neighbor) pairs, so results are
    replication-independent."""
    if routing not in ("centroid", "lsh"):
        raise ValueError(f"unknown routing {routing!r}; expected 'centroid' or 'lsh'")
    cells = centroids_df = None
    if routing == "centroid":
        C = _train_centroids(vectors_df, num_partitions, id_col, vec_col, dim=params.dim)
        cells = (C, np.arange(len(C), dtype=np.int32))
        centroids_df = vectors_df.sparkSession.createDataFrame(
            [(int(i), [float(v) for v in C[i]]) for i in range(len(C))],
            "cell int, centroid array<double>",
        )
    src = _place(vectors_df, params.dim, routing, cells, assign_n, num_partitions,
                 n_planes, replicas, id_col, vec_col)
    nodes, edges, meta, kernel_out = build_graphs(src, params)
    idx = HnswIndex(
        nodes, edges, meta, params, num_partitions=num_partitions,
        n_planes=n_planes, replicas=replicas,
        routing=routing, assign_n=assign_n, centroids=centroids_df,
    )
    idx.kernel_out = kernel_out
    # seed the probe-side cache — the build already holds the centroids
    idx._centroids_np = cells
    return idx


def route_partitions(
    qvec: F.Column | str, dim: int, num_partitions: int, n_planes: int = 8, radius: int = 2
) -> F.Column:
    """Array of candidate partitions for a query: its own bucket plus all
    Hamming<=radius flips (multi-probe LSH), deduplicated after mod P.

    radius=2 over 8 planes = 37 buckets — a constant independent of P.
    At small P the distinct partitions cover everything (probe-all, full
    recall); at P=1000 a query touches <= 37 of 1000 partitions."""
    b = lsh_bucket(qvec, dim, n_planes)
    flips = [b]
    for i in range(n_planes):
        flips.append(b.bitwiseXOR(F.lit(1 << i)))
    if radius >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                flips.append(b.bitwiseXOR(F.lit((1 << i) | (1 << j))))
    return F.array_distinct(
        F.transform(F.array(*flips), lambda x: F.pmod(x, F.lit(num_partitions)).cast("int"))
    )


def _centroids_np(index: HnswIndex) -> tuple[np.ndarray, np.ndarray]:
    """(centroid matrix, cell ids) for a centroid-routed index, collected
    once per handle and cached — the table is bounded (P rows), but the
    collect is still a Spark job the probe shouldn't pay per call."""
    if index._centroids_np is None:
        rows = index.centroids.orderBy("cell").collect()
        index._centroids_np = (
            np.array([r["centroid"] for r in rows], dtype=np.float64),
            np.array([r["cell"] for r in rows], dtype=np.int32),
        )
    return index._centroids_np


def knn_hnsw_routed(
    index: HnswIndex,
    queries_df: DataFrame,
    k: int = 10,
    ef: int | None = None,
    n_planes: int | None = None,
    n_probe: int | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Multi-probe routed query: each query is replicated only to its
    candidate partitions — ``n_probe`` nearest centroid cells
    (centroid routing; default ~4.5*sqrt(P), sublinear in P) or the
    Hamming<=2 bucket ball (LSH routing; <= 37 independent of P) — and
    probed by ``query.probe_placed`` (the kernel and merge every probe
    path shares).

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
    # route with the BUILD modulus: meta.count() undercounts when a
    # build partition carried 0/1 nodes (no edges -> no meta row), and a
    # wrong modulus silently routes queries away from their home bucket
    num_partitions = index.num_partitions
    if num_partitions is None:
        num_partitions = index.meta.count()
    appended = index.appended_partitions
    if index.routing == "centroid":
        R = int(n_probe) if n_probe is not None else default_n_probe(int(num_partitions))
        nq = queries_df.select(
            F.col(query_id_col).cast("long").alias("id"),
            F.col(query_vec_col).cast("array<float>").alias("vec"),
        )
        placed = _cell_rows(nq, _centroids_np(index), R, appended)
    else:
        # route with the BUILD's plane count: a query hashed with a
        # different hyperplane set than the build lands in an unrelated
        # bucket (explicit arg still wins for experiments)
        if n_planes is None:
            n_planes = int(index.n_planes or 8)
        route = route_partitions(
            f"cast(`{query_vec_col}` as array<double>)", index.params.dim, int(num_partitions), n_planes
        )
        if appended:
            route = F.array_distinct(
                F.concat(route, F.array(*[F.lit(int(p)).cast("int") for p in appended]))
            )
        placed = queries_df.select(
            F.col(query_id_col).alias("id"),
            F.col(query_vec_col).cast("array<float>").alias("vec"),
            F.explode(route).alias("partition"),
        )
    return probe_placed(index, placed, k, ef)


def append_routed(
    index: HnswIndex,
    vectors_df: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> HnswIndex:
    """Incremental insert that PRESERVES the routed layout: new vectors
    are placed by ``_place`` with the index's own routing family,
    centroids (no retraining — standard IVF behavior; rebuild()
    re-trains), modulus, planes and replication, and only the
    partitions that actually receive rows have their local graphs
    rebuilt (over old + new members together). Untouched partitions'
    node and edge rows pass through unchanged.

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
    else."""
    if not index.routed:
        raise ValueError(
            "append_routed requires a routed-built index; use "
            "HnswIndex.append for hash-placed indexes"
        )
    cells = _centroids_np(index) if index.routing == "centroid" else None
    fresh = _place(
        vectors_df, index.params.dim, index.routing, cells, index.assign_n,
        int(index.num_partitions or index.meta.count()), int(index.n_planes or 8),
        index.replicas, id_col, vec_col,
    )
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
    nodes, edges, meta, kernel_out = build_graphs(members, index.params)
    keep = lambda df: df.join(F.broadcast(touched), "partition", "left_anti")  # noqa: E731
    out = HnswIndex(
        keep(index.nodes).unionByName(nodes),
        keep(index.edges).unionByName(edges),
        keep(index.meta).unionByName(meta),
        index.params,
        **index._layout(),
    )
    out.kernel_out = kernel_out
    return out
