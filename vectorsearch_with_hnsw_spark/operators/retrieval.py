"""Retrieval surface beyond plain top-k: radius search, kNN graph,
keyword (BM25-style) ranking, hybrid rank fusion, and MMR
diversification.

The reference's only query is top-k nearest neighbors
(hsnw_trial.py:267-294). A user of a vector-search engine also expects
the surrounding retrieval toolkit; each op here is expressed as a
declarative Spark plan (no UDFs) so Catalyst/Tungsten own the physical
strategy and every float expression mirrors a DuckDB oracle
bit-for-bit.

Scale notes (100 TB):
- ``range_search`` is shuffle-free: broadcast query set, map-side cross
  join + filter. Output size is data-dependent (bounded by the radius),
  never materialized driver-side.
- ``knn_graph`` is the exact formulation (crossJoin + per-node window).
  At billions of rows use the ANN families (dedup.embedding_neardup_pairs,
  index.routed) for graph construction; this operator is the oracle.
- ``bm25_rank`` is one narrow agg (corpus stats, |terms|-wide) broadcast
  back over a map-side scoring pass — two stages total, no wide rows.
- ``rrf_fuse`` joins two already-tiny ranked lists (k rows per query).
- ``mmr_rerank`` runs k bounded rounds over <= n_candidates rows per
  query; every round is a (broadcast-size) join + window, so the whole
  plan shuffles O(k * Q * n_candidates) rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import release_checkpoint
from ..functions.vector import dot, fold_cosine, fold_dot, fold_sq_l2, l2_norm, metric_expr, to_vec
from .knn import topk_per_group

RRF_C = 60  # the standard reciprocal-rank-fusion constant


def range_search(
    index_df: DataFrame,
    queries_df: DataFrame,
    radius: float,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """All neighbors within ``radius`` of each query (inclusive) — the
    fixed-radius twin of top-k search. Unlike kNN there is no per-query
    ranking state, so the plan is a pure map-side broadcast-crossJoin +
    filter: zero shuffles, embarrassingly parallel at any scale."""
    dist = metric_expr(metric)
    q = F.broadcast(
        queries_df.select(
            F.col(query_id_col).alias("query_id"),
            to_vec(query_vec_col).alias("_qvec"),
        )
    )
    base = index_df.select(
        F.col(id_col).alias("neighbor_id"), to_vec(vec_col).alias("_vec")
    )
    return (
        base.crossJoin(q)
        .select(
            "query_id",
            "neighbor_id",
            dist(F.col("_vec"), F.col("_qvec")).alias("dist"),
        )
        .filter(F.col("dist") <= F.lit(float(radius)))
    )


def knn_graph(
    base: DataFrame,
    k: int = 5,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    num_partitions: int = 8,
    ef: int | None = None,
    dim: int | None = None,
    stitch_rounds: int = 1,
) -> DataFrame:
    """k-nearest-neighbor graph: for every vector, its k closest other
    vectors (self excluded) — the all-pairs generalization of the
    reference's single-probe search, and the standard precursor to
    graph-based dedup/clustering. Ties broken by neighbor id.

    ``method="exact"`` (the oracle) runs the BLAS partial-top-k kernel
    (knn_exact_fast) with every vector as a query — ~20x faster than the
    interpreted HOF fold over the |N|^2 pair set, and bit-identical
    because winners are rescored with the canonical fold. Asking for k+1
    then dropping the self pair is exact in every case: self is either
    inside the k+1 (removed) or displaced only by >= k+1
    strictly-preferred non-self rows (kept set already correct). Exact
    all-pairs is O(N^2) by definition — the sf-test oracle and the
    small-corpus path only.

    ``method="hnsw"`` is the scale path: one partitioned HNSW build
    (O(N log N) work, one shuffle) then the collect-free distributed
    probe with the WHOLE table as the query set
    (index.query.knn_hnsw_distributed) — no driver-side query
    materialization, merge shuffle O(P * N * k). Per-partition graphs
    are probe-all, so graph recall tracks the index recall (>= 0.97 at
    default ef on the testdata; parity-tested vs the exact graph).
    Same output schema; distances are the same canonical metric, so
    downstream consumers (pagerank, triangles, label vote) are
    backend-agnostic.

    ``method="hnsw_routed"`` bounds probe cost at cluster partition
    counts: the index is partitioned by nearest k-means cell with
    SPANN-style multi-assignment (hnsw_build_routed's centroid routing)
    and each node probes only its ~4.5*sqrt(P) nearest cells
    (``default_n_probe``) — sublinear in P, vs probe-all's O(P) per query. Residual misses are
    repaired by ``stitch_rounds`` NN-descent passes over the graph
    itself (_stitch_graph: reverse + 2-hop candidates, exact re-score).
    Probe-all ``"hnsw"`` stays >= 0.97 edge recall on the gaussian
    sf0.1 testdata; centroid-routed query recall@10 measured 0.93 at
    P=128 / 0.97 at P=64 on 32k gaussian vectors (the LSH-ball layout
    this replaced sat at 0.78 at P=128).

    ``method="cluster"`` is the whole-table graph-construction scale
    path: no per-query traversals at all — cluster-routed blocked-GEMM
    exact search inside ~3*sqrt(P) probed cells per node plus the
    NN-descent stitch (see _knn_graph_cluster). At 128k nodes it
    measures ~160 s with 0.993 sampled edge recall (broadcast-members
    kernel + fp32 selection + sampled stitch; was ~536 s as per-query
    HNSW traversals, ~305 s as the r8 shuffle kernel)."""
    if method not in ("exact", "hnsw", "hnsw_routed", "cluster"):
        raise ValueError(
            f"unknown knn_graph method {method!r}; expected 'exact', 'hnsw', "
            "'hnsw_routed' or 'cluster'"
        )
    if method == "cluster":
        return _knn_graph_cluster(
            base, k=k, metric=metric, id_col=id_col, vec_col=vec_col,
            num_partitions=num_partitions, dim=dim, stitch_rounds=stitch_rounds,
        )
    if method in ("hnsw", "hnsw_routed"):
        return _knn_graph_hnsw(
            base, k=k, metric=metric, id_col=id_col, vec_col=vec_col,
            num_partitions=num_partitions, ef=ef, dim=dim,
            routed=(method == "hnsw_routed"),
            stitch_rounds=stitch_rounds,
        )
    from .knn import knn_exact_fast

    q = base.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    res = knn_exact_fast(
        base, q, k=k + 1, metric=metric, id_col=id_col, vec_col=vec_col
    )
    pairs = res.filter(F.col("neighbor_id") != F.col("query_id")).select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("dst_id"),
        "dist",
    )
    return topk_per_group(pairs, ["src_id"], ["dist", "dst_id"], k).select(
        "src_id", "dst_id", "dist", "rnk"
    )


# budget for shipping the per-cell member matrices to executors in the
# cluster-graph fast path (same pattern as _STITCH_BCAST_BYTES): below
# it the query pass is map-only with an in-kernel per-query merge;
# above it the corpus shuffles by cell (the 100 TB shape)
_CLUSTER_BCAST_BYTES = 256 * 1024 * 1024

# cells with at least this many members run the SELECTION pass in
# float32: the (queries x members) distance matrix is memory-bandwidth
# bound (measured 1.8 GFLOPS/core on fp64 — 32 workers saturate DRAM,
# not FPUs), so halving the bytes nearly halves the phase. Selection
# only ever PRUNES: the kept s_w window is rescored with the exact
# float64 fold, so distances stay bit-exact; a 1e-7-relative fp32 tie
# at the window boundary can swap which near-equal candidate enters
# the window — a <1e-4 recall effect at scale, and impossible at the
# oracle-gate scales because cells there are far below this cutoff
# (their selection stays float64, provably identical to the fold).
_FP32_SELECT_MIN_M = 4096


def _select_window(Qb, Ms, m2s, mids, metric: str, s_w: int, mns=None):
    """(b, s_w) member indices per query row, ordered by
    (fast distance, member id) — the shared candidate-selection window
    of the cluster-graph kernels. ``Ms``/``m2s``/``mns`` may be float32
    (see _FP32_SELECT_MIN_M); ``Qb`` must match their dtype. L2
    selection orders by squared distance (sqrt is strictly monotone —
    same order, one less full pass over the matrix); equal d2 values
    tie-break by member id exactly like the fold path."""
    import numpy as np

    m = Ms.shape[0]
    b = len(Qb)
    G = Qb @ Ms.T
    if metric == "l2":
        fast = np.maximum(
            (Qb * Qb).sum(axis=1)[:, None] - 2.0 * G + m2s[None, :], 0.0
        )
    else:
        denom = np.sqrt((Qb * Qb).sum(axis=1))[:, None] * mns[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            fast = 1.0 - G / denom
        fast = np.where(denom == 0.0, 1.0, fast)
    if s_w < m:
        part = np.argpartition(fast, s_w - 1, axis=1)[:, :s_w]
    else:
        part = np.broadcast_to(np.arange(m), (b, m)).copy()
    pdist = np.take_along_axis(fast, part, axis=1)
    pids = mids[part]
    order = np.lexsort((pids, pdist), axis=1)
    return np.take_along_axis(part, order, axis=1)


def _cluster_graph_bcast(
    src: DataFrame,
    C,
    k: int,
    metric: str,
    assign_n: int,
    probe_n: int,
) -> DataFrame:
    """Broadcast-members kernel of the cluster-routed kNN graph: the
    (id, vec) table is collected (bounded by the caller's
    _CLUSTER_BCAST_BYTES check), grouped into per-cell matrices by
    assign_n-nearest-centroid multi-assignment, and broadcast; queries
    then stream through ONE mapInPandas pass — each query block GEMMs
    against its probe_n cells' matrices, selects the same
    s_w = k+1+assign_n fast-distance window per cell as the shuffle
    path, rescores the winners with the metric fold's numpy twin
    (bit-identical distances), and merges per query in
    the kernel. Emits each query's deduped top-(k+1 non-self) edges —
    the same rows the shuffle path's dropDuplicates + window would
    keep, with no replicated-vector exchange and no candidate
    shuffle."""
    import numpy as np
    import pandas as pd

    from ..index.routed import _nearest_cells
    from ..sources.tables import spread

    spark = src.sparkSession
    rows = src.collect()
    ids_all = np.array([r["id"] for r in rows], dtype=np.int64)
    X_all = np.array([r["vec"] for r in rows], dtype=np.float64)
    del rows
    cells_m = _nearest_cells(X_all, C, min(assign_n, len(C)))
    cellmap: dict = {}
    for j in range(len(C)):
        mask = (cells_m == j).any(axis=1)
        if mask.any():
            M = X_all[mask]
            if len(M) >= _FP32_SELECT_MIN_M:
                Ms = M.astype(np.float32)
            else:
                Ms = M
            cellmap[j] = (ids_all[mask], M, Ms, (Ms * Ms).sum(axis=1))
    bdata = spark.sparkContext.broadcast((C, cellmap))
    kk = k + 1
    s_cap = kk + assign_n

    def probe_kernel(batches):
        Cv, cmap = bdata.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["id"].to_numpy(dtype=np.int64)
            Q = np.array(list(pdf["vec"]), dtype=np.float64)
            qcells = _nearest_cells(Q, Cv, probe_n)
            nq = len(qids)
            cand_d: list = [[] for _ in range(nq)]
            cand_i: list = [[] for _ in range(nq)]
            Q32 = Q.astype(np.float32)
            q2 = fold_dot(Q, Q) if metric == "cosine" else None
            for cell in np.unique(qcells):
                ent = cmap.get(int(cell))
                if ent is None:
                    continue
                mids, M, Ms, m2s = ent
                qrows = np.nonzero((qcells == cell).any(axis=1))[0]
                m = len(mids)
                s_w = min(s_cap, m)
                mns = np.sqrt(m2s) if metric == "cosine" else None
                Qsel = Q32 if Ms.dtype == np.float32 else Q
                block = max(1, min(4096, (64 << 20) // (m * Ms.dtype.itemsize)))
                for lo in range(0, len(qrows), block):
                    sel = qrows[lo : lo + block]
                    Qb = Q[sel]
                    part = _select_window(
                        Qsel[sel], Ms, m2s, mids, metric, s_w, mns
                    )
                    b = len(sel)
                    # fold-exact rescore of the selected window, as the
                    # shuffle path and knn_exact_fast do
                    R = M[part]
                    if metric == "l2":
                        dex = np.sqrt(fold_sq_l2(R, Qb[:, None]))
                    else:
                        dex = fold_cosine(
                            fold_dot(R, Qb[:, None]), fold_dot(R, R), q2[sel][:, None]
                        )
                    sel_ids = mids[part]
                    keep = sel_ids != qids[sel][:, None]
                    rank_in_row = keep.cumsum(axis=1)
                    keep &= rank_in_row <= kk
                    for r0 in range(b):
                        km = keep[r0]
                        if km.any():
                            cand_i[sel[r0]].append(sel_ids[r0][km])
                            cand_d[sel[r0]].append(dex[r0][km])
            out_s, out_d, out_dist = [], [], []
            for qi in range(nq):
                if not cand_i[qi]:
                    continue
                di = np.concatenate(cand_i[qi])
                dd = np.concatenate(cand_d[qi])
                # merge = the shuffle path's dropDuplicates + top-k:
                # copies from multi-assignment carry identical
                # fold-exact dist, so first-by-(dist, id) per id is the
                # deduped row; then keep the k best by (dist, id)
                order = np.lexsort((di, dd))
                di, dd = di[order], dd[order]
                first = np.ones(len(di), dtype=bool)
                seen, fi = np.unique(di, return_index=True)
                first[:] = False
                first[fi] = True
                di, dd = di[first], dd[first]
                order = np.lexsort((di, dd))[:k]
                di, dd = di[order], dd[order]
                out_s.append(np.full(len(di), qids[qi], dtype=np.int64))
                out_d.append(di)
                out_dist.append(dd)
            if out_s:
                yield pd.DataFrame(
                    {
                        "src_id": np.concatenate(out_s),
                        "dst_id": np.concatenate(out_d),
                        "dist": np.concatenate(out_dist),
                    }
                )

    local = spread(src).mapInPandas(
        probe_kernel, "src_id long, dst_id long, dist double"
    )
    return topk_per_group(local, ["src_id"], ["dist", "dst_id"], k).select(
        "src_id", "dst_id", "dist", "rnk"
    )


def _knn_graph_cluster(
    base: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    num_partitions: int,
    dim: int | None,
    stitch_rounds: int = 1,
    assign_n: int = 2,
    probe_n: int | None = None,
) -> DataFrame:
    """Whole-table kNN graph via cluster-routed blocked-GEMM exact
    search + NN-descent stitch — the graph-construction scale path when
    EVERY row is a query.

    The HNSW-backed paths pay one sequential graph traversal per
    (query, probed partition): with the whole table as the query set
    that is N * P (probe-all) or N * ~4.5*sqrt(P) (routed) Python-side
    searches — at 128k nodes the probe alone measured ~365 s. Graph
    construction doesn't need per-query traversals: the routed layout's
    own k-means cells hold members at SPANN-style ``assign_n``
    multi-assignment, every node probes its ``probe_n`` (default
    ~3*sqrt(P), this path's own budget) nearest cells, and inside a
    cell the (queries x members) search is ONE blocked GEMM with a
    fold-exact rescore of the winners (the knn_exact_fast contract) —
    dense-matrix arithmetic instead of 128k beam traversals.
    ``stitch_rounds`` NN-descent passes then repair the cross-cell
    residue through the graph itself.

    Cost shape at fixed cell size c = N/P (the routed layout's own
    growth rule): per-cell GEMM is (probe_n*c) x (assign_n*c) x dim,
    so total work grows as N * sqrt(P) * c * dim — the same sublinear
    probe asymptotics as the routed HNSW query, with BLAS constants.
    Recall >= the routed probe at equal budget (in-cell search is
    exact, not a traversal). Distances on surviving edges are
    fold-exact: the local kernel rescores winners and every stitch
    round rescores its candidates with the canonical sequential fold."""
    import numpy as np
    import pandas as pd

    from ..index.routed import _nearest_cells, _train_centroids

    if metric not in ("l2", "cosine"):
        raise ValueError(f"Unknown metric '{metric}'")
    src = base.select(
        F.col(id_col).cast("long").alias("id"), to_vec(vec_col).alias("vec")
    )
    if dim is None:
        first = src.select("vec").first()
        if first is None:
            raise ValueError("knn_graph: empty input")
        dim = len(first[0])
    if probe_n is None:
        # graph-build probe budget stays at 3*sqrt(P) — DECOUPLED from
        # index.routed.default_n_probe (4.5*sqrt(P) since round 10):
        # the query-side kNN needs the wider budget to hold recall@10
        # >= 0.95 at P>=128, but the graph path already measures edge
        # recall 0.993 at 3*sqrt(P) (SCALECHECK) because the NN-descent
        # stitch repairs routing misses; 1.5x more GEMM here would buy
        # recall the stitch already provides
        import math

        probe_n = min(num_partitions, max(8, math.ceil(3.0 * math.sqrt(num_partitions))))
    C = _train_centroids(src, num_partitions, "id", "vec", dim=dim)
    spark = base.sparkSession

    # broadcast fast path (same budget pattern as the stitch): when the
    # member table fits _CLUSTER_BCAST_BYTES, ship the per-cell matrices
    # to every worker ONCE and run one map-only pass over the query side
    # — no (2 + probe_n)x vector replication through a shuffle, no
    # 13M-row candidate window (the kernel merges per query in place).
    # Measured at 128k x 64d / P=32: local phase 257 s -> see
    # SCALECHECK. Above the budget the general path below shuffles the
    # corpus by cell — the 100 TB shape, where members cannot broadcast.
    n_rows = src.count()
    # budget at 12 bytes/element, not 8: near the boundary every cell
    # exceeds _FP32_SELECT_MIN_M, so the broadcast holds BOTH the fp64
    # rescore matrix and its fp32 selection copy (plus ids/norms, and
    # the driver transiently holds X_all during construction) — the
    # 8-byte estimate understated the real footprint by ~1.5x
    if 0 < n_rows * assign_n * dim * 12 <= _CLUSTER_BCAST_BYTES and len(C):
        g = _cluster_graph_bcast(
            src, C, k=k, metric=metric,
            assign_n=assign_n, probe_n=min(probe_n, num_partitions),
        )
        if stitch_rounds > 0:
            g = _stitch_graph(g, base, k, metric, id_col, vec_col, stitch_rounds)
        return g

    bc = spark.sparkContext.broadcast(C)

    # float64 assignment projections (the index layout's float32 copy
    # would poison the fold-exact rescore downstream): members go to
    # their assign_n nearest cells, queries to their probe_n nearest
    def assign(n_cells: int, flag: bool):
        def gen(it):
            Cv = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                X = np.array(list(pdf["vec"]), dtype=np.float64)
                cells = _nearest_cells(X, Cv, n_cells)
                n_rep = cells.shape[1] if cells.size else 0
                if n_rep == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "id": np.repeat(pdf["id"].to_numpy(dtype=np.int64), n_rep),
                        "vec": np.repeat(pdf["vec"].to_numpy(), n_rep),
                        "partition": cells.reshape(-1),
                        "is_query": np.full(len(cells) * n_rep, flag),
                    }
                )

        return gen

    from ..sources.tables import spread

    schema = "id long, vec array<double>, partition int, is_query boolean"
    members = spread(src).mapInPandas(assign(assign_n, False), schema)
    queries = spread(src).mapInPandas(assign(min(probe_n, num_partitions), True), schema)
    tagged = members.unionByName(queries)

    kk = k + 1  # ask for one extra slot so dropping self keeps k

    def local_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"src_id": pd.Series(dtype="int64"),
             "dst_id": pd.Series(dtype="int64"),
             "dist": pd.Series(dtype="float64")}
        )
        is_q = pdf["is_query"].to_numpy(dtype=bool)
        mids = pdf["id"].to_numpy(dtype=np.int64)[~is_q]
        if len(mids) == 0 or is_q.sum() == 0:
            return empty
        M = np.array(list(pdf["vec"][~is_q]), dtype=np.float64)
        qids = pdf["id"].to_numpy(dtype=np.int64)[is_q]
        Q = np.array(list(pdf["vec"][is_q]), dtype=np.float64)
        m = len(mids)
        # float32 selection above the cutoff (see _FP32_SELECT_MIN_M):
        # the same rule as the broadcast path, so both paths pick the
        # same windows and stay bit-identical to each other
        Ms = M.astype(np.float32) if m >= _FP32_SELECT_MIN_M else M
        m2s = (Ms * Ms).sum(axis=1)
        mns = np.sqrt(m2s) if metric == "cosine" else None
        Qs = Q.astype(np.float32) if Ms.dtype == np.float32 else Q
        # widest sel: kk + assign_n covers self appearing once per copy
        s_w = min(kk + assign_n, m)
        out_s, out_d, out_dist = [], [], []
        block = max(1, min(4096, (64 << 20) // (m * Ms.dtype.itemsize)))
        for lo in range(0, len(qids), block):
            hi = min(lo + block, len(qids))
            Qb = Q[lo:hi]
            part = _select_window(Qs[lo:hi], Ms, m2s, mids, metric, s_w, mns)
            # fold-exact rescore of the selected candidates, batched,
            # as knn_exact_fast does
            R = M[part]  # (b, s, dim)
            if metric == "l2":
                dex = np.sqrt(fold_sq_l2(R, Qb[:, None]))
            else:
                dex = fold_cosine(
                    fold_dot(R, Qb[:, None]), fold_dot(R, R), fold_dot(Qb, Qb)[:, None]
                )
            sel_ids = mids[part]
            keep = sel_ids != qids[lo:hi][:, None]  # drop self (all copies)
            # cap at kk kept per row
            rank_in_row = keep.cumsum(axis=1)
            keep &= rank_in_row <= kk
            rows = np.repeat(qids[lo:hi], keep.sum(axis=1))
            out_s.append(rows)
            out_d.append(sel_ids[keep])
            out_dist.append(dex[keep])
        if not out_s:
            return empty
        return pd.DataFrame(
            {
                "src_id": np.concatenate(out_s),
                "dst_id": np.concatenate(out_d),
                "dist": np.concatenate(out_dist),
            }
        )

    local = tagged.groupBy("partition").applyInPandas(
        local_knn, "src_id long, dst_id long, dist double"
    )
    # multi-assignment surfaces the same pair from several cells with
    # identical fold-exact dist; keep one before ranking
    local = local.dropDuplicates(["src_id", "dst_id"])
    g = topk_per_group(local, ["src_id"], ["dist", "dst_id"], k).select(
        "src_id", "dst_id", "dist", "rnk"
    )
    if stitch_rounds > 0:
        g = _stitch_graph(g, base, k, metric, id_col, vec_col, stitch_rounds)
    return g


def _knn_graph_hnsw(
    base: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    num_partitions: int,
    ef: int | None,
    dim: int | None,
    routed: bool = False,
    stitch_rounds: int = 1,
) -> DataFrame:
    """ANN kNN graph over a partitioned HNSW index (see knn_graph).

    The k+1/drop-self trick is recall-preserving here too: self is its
    own exact nearest neighbor at distance 0, which HNSW finds with
    near-certainty, so the k+1 probe leaves k real-neighbor slots
    (routed mode always probes the query's nearest cell, where self
    lives by construction)."""
    from ..index.build import HnswParams, hnsw_build
    from ..index.query import knn_hnsw_distributed

    if dim is None:
        first = base.select(vec_col).first()
        if first is None:
            raise ValueError("knn_graph: empty input")
        dim = len(first[0])
    src = base.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"))
    q = base.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    params = HnswParams(dim=int(dim), metric=metric)
    if routed:
        from ..index.routed import hnsw_build_routed, knn_hnsw_routed

        idx = hnsw_build_routed(src, params, num_partitions=num_partitions)
        res = knn_hnsw_routed(idx, q, k=k + 1, ef=ef)
    else:
        idx = hnsw_build(src, params, num_partitions=num_partitions)
        res = knn_hnsw_distributed(idx, q, k=k + 1, ef=ef)
    pairs = res.filter(F.col("neighbor_id") != F.col("query_id")).select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("dst_id"),
        "dist",
    )
    g = topk_per_group(pairs, ["src_id"], ["dist", "dst_id"], k).select(
        "src_id", "dst_id", "dist", "rnk"
    )
    if routed and stitch_rounds > 0:
        g = _stitch_graph(g, base, k, metric, id_col, vec_col, stitch_rounds)
    return g


# budget for shipping the whole vector matrix to executors during the
# stitch: below this the scorer is a zero-join map-side kernel; above
# it, co-partitioned joins attach the vectors and the same kernel
# scores the assembled pairs
_STITCH_BCAST_BYTES = 256 * 1024 * 1024


def _stitch_graph(
    g: DataFrame,
    base: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    rounds: int,
) -> DataFrame:
    """NN-descent stitch over an approximate kNN graph: per round,
    candidates = current edges + their reverses + undirected 2-hops,
    exactly re-scored and re-top-k'd. Recovers cross-partition edges a
    routed probe missed through the neighbors it DID find (if u missed
    v but found w ~ v, the w->v edge bridges them) — the standard
    repair pass for partitioned ANN graphs (SURVEY §7 risk 1).

    Scoring is an Arrow kernel, BIT-IDENTICAL to the declarative fold
    it replaced (per-dimension-ascending accumulation = the sequential
    zip_with/aggregate fold; cosine keeps the three-rounding
    1 - dot/(na*nb) shape and the zero-norm -> 1.0 guard). The old
    shape evaluated an interpreted HOF fold per candidate — at 128k
    nodes / k=5 that is ~13M candidates x dim lambda steps, the
    dominant cost of the whole graph build (measured 536 s; the kernel
    does the same arithmetic in vectorized batches).

    Scale shape per round: two self-joins of the O(N*k) edge list
    (8-byte keys) generate candidates; when the vector matrix fits
    ``_STITCH_BCAST_BYTES`` it broadcasts ONCE and candidates never
    carry arrays through a shuffle (the kernel looks both endpoints up
    by sorted-id binary search); above the budget the fallback is the
    same two co-partitioned joins as before with the kernel scoring the
    assembled pairs. localCheckpoint truncates the per-round lineage,
    and each round's blocks are FREED once the next round's eager
    checkpoint materializes (the bpe_train pattern — VERDICT r13 #3:
    the stitch previously pinned one block set per round for the life
    of the session); only the final, returned checkpoint stays pinned,
    and callers fully done with the result can free that too via
    ``cache.release_plan_checkpoints``."""
    import numpy as np
    import pandas as pd

    from ..sources.tables import spread

    if metric not in ("l2", "cosine"):
        raise ValueError(f"Unknown metric '{metric}'")
    spark = base.sparkSession
    v = base.select(F.col(id_col).cast("long").alias("_vid"), to_vec(vec_col).alias("_v"))

    first = v.select("_v").first()
    dim = len(first[0]) if first is not None else 0
    n_vec = v.count()
    if n_vec * dim * 8 <= _STITCH_BCAST_BYTES:
        rows = v.collect()
        ids = np.array([r["_vid"] for r in rows], dtype=np.int64)
        X = np.array([r["_v"] for r in rows], dtype=np.float64)
        order = np.argsort(ids, kind="stable")
        bv = spark.sparkContext.broadcast((ids[order], X[order]))

        def score(cand: DataFrame) -> DataFrame:
            def kern(batches):
                ids_v, Xv = bv.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    s = pdf["src_id"].to_numpy(dtype=np.int64)
                    d = pdf["dst_id"].to_numpy(dtype=np.int64)
                    si = np.searchsorted(ids_v, s)
                    di = np.searchsorted(ids_v, d)
                    # clamp before the equality check: an id greater
                    # than every vector id makes searchsorted return
                    # len(ids_v), and the intended descriptive error
                    # would otherwise surface as an opaque IndexError
                    last = len(ids_v) - 1
                    miss = (
                        (si > last)
                        | (di > last)
                        | (ids_v[np.minimum(si, last)] != s)
                        | (ids_v[np.minimum(di, last)] != d)
                    )
                    if miss.any():
                        raise ValueError(
                            "stitch: candidate endpoint missing from the "
                            "vector table (graph/base id mismatch)"
                        )
                    S, D = Xv[si], Xv[di]
                    yield pd.DataFrame(
                        {
                            "src_id": s,
                            "dst_id": d,
                            "dist": np.sqrt(fold_sq_l2(S, D)) if metric == "l2"
                            else fold_cosine(fold_dot(S, D), fold_dot(S, S), fold_dot(D, D)),
                        }
                    )

            return spread(cand).mapInPandas(
                kern, "src_id long, dst_id long, dist double"
            )

    else:

        def score(cand: DataFrame) -> DataFrame:
            assembled = cand.join(
                v.select(F.col("_vid").alias("src_id"), F.col("_v").alias("_sv")),
                "src_id",
            ).join(
                v.select(F.col("_vid").alias("dst_id"), F.col("_v").alias("_dv")),
                "dst_id",
            )

            def kern(batches):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    S = np.array(list(pdf["_sv"]), dtype=np.float64)
                    D = np.array(list(pdf["_dv"]), dtype=np.float64)
                    yield pd.DataFrame(
                        {
                            "src_id": pdf["src_id"].to_numpy(dtype=np.int64),
                            "dst_id": pdf["dst_id"].to_numpy(dtype=np.int64),
                            "dist": np.sqrt(fold_sq_l2(S, D)) if metric == "l2"
                            else fold_cosine(fold_dot(S, D), fold_dot(S, S), fold_dot(D, D)),
                        }
                    )

            return assembled.mapInPandas(
                kern, "src_id long, dst_id long, dist double"
            )

    g = g.select("src_id", "dst_id", "dist").localCheckpoint(eager=True)
    # NN-descent partner sampling: both 2-hop sides use each node's
    # top-j undirected neighbors ONLY. Unrestricted und x und joins on
    # the reverse-degree distribution, which is skewed (a hub with h
    # in-edges contributes h^2 join rows — measured 30.2M candidates
    # from a 1.28M-edge list at 128k nodes, and the candidate
    # generation + distinct was 61 s of a ~75 s stitch round); capping
    # at j bounds candidates at N*j^2 with the bridges that matter
    # (the CLOSEST neighbors) kept — the standard NN-descent sampling.
    j = max(4, k + 1)
    for _ in range(rounds):
        e = g.select("src_id", "dst_id", "dist")
        rev = e.select(
            F.col("dst_id").alias("src_id"),
            F.col("src_id").alias("dst_id"),
            "dist",
        )
        und = e.unionByName(rev)
        undj = (
            topk_per_group(und, ["src_id"], ["dist", "dst_id"], j)
            .select("src_id", "dst_id")
        )
        hop2 = (
            undj.alias("a")
            .join(undj.alias("b"), F.col("a.dst_id") == F.col("b.src_id"))
            .select(F.col("a.src_id").alias("src_id"), F.col("b.dst_id").alias("dst_id"))
        )
        cand = (
            e.select("src_id", "dst_id")
            .unionByName(rev.select("src_id", "dst_id"))
            .unionByName(hop2)
            .filter(F.col("src_id") != F.col("dst_id"))
            .distinct()
        )
        new_g = (
            topk_per_group(score(cand), ["src_id"], ["dist", "dst_id"], k)
            .select("src_id", "dst_id", "dist", "rnk")
            .localCheckpoint(eager=True)
        )
        # the eager checkpoint above has materialized, so the previous
        # round's blocks (and, on round 1, the entry checkpoint) are
        # dead weight — free them now instead of pinning one block set
        # per round for the life of the session
        release_checkpoint(g)
        g = new_g
    return g


def bm25_rank(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25-style keyword relevance ranking of documents against a bag
    of query terms, with Robertson's idf taken log-free:
    ``idf(t) = (N - df + 0.5) / (df + 0.5)`` (the exponential of the
    usual log form — per-term monotone, so per-term ordering is
    unchanged; chosen because ln() is the one float op engines round
    differently, and this engine's oracle contract is bit-exact).

    Plan: map-side tf/dl extraction -> one |terms|-wide corpus-stats agg
    (N, sum dl, per-term df) broadcast back -> map-side scoring ->
    global top-k. Two narrow shuffles regardless of corpus size."""
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != F.lit(""))

    def _tf(term: str):
        # closure via call, not lambda-default: a 2-arg lambda would be
        # interpreted by F.filter as (element, index)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)]
    base = docs.select(F.col(id_col).alias("doc_id"), F.size(toks).alias("_dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sumdl").cast("double") / F.col("_n").cast("double")
    score = None
    n_hit = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        df = F.col(f"_df{i}").cast("double")
        idf = (F.col("_n").cast("double") - df + F.lit(0.5)) / (df + F.lit(0.5))
        part = (idf * (tf * F.lit(k1 + 1.0))) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("_dl").cast("double") / avgdl))
        )
        hit = (F.col(f"_tf{i}") > 0).cast("int")
        score = part if score is None else score + part
        n_hit = hit if n_hit is None else n_hit + hit
    hits = scored.select(
        "doc_id", score.alias("score"), n_hit.alias("n_terms_hit")
    ).filter(F.col("n_terms_hit") > 0)
    # global top-k via orderBy().limit() -> TakeOrderedAndProject (bounded
    # per-partition heaps, no single-reducer window over the corpus); the
    # ranking window then runs over <= k rows only
    top = hits.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "score", "n_terms_hit", "rnk"
    )


def rrf_fuse(
    vector_hits: DataFrame,
    keyword_hits: DataFrame,
    k: int = 10,
    c: int = RRF_C,
) -> DataFrame:
    """Hybrid search: reciprocal-rank fusion of a per-query vector
    ranking (query_id, doc_id, rnk) with a per-query keyword ranking of
    the same shape. ``rrf = 1/(c+r_vec) + 1/(c+r_kw)`` with a missing
    side contributing 0 (full outer join). Pure rational arithmetic on
    integer ranks — exactly reproducible on any engine."""
    v = vector_hits.select("query_id", "doc_id", F.col("rnk").alias("_rv"))
    kw = keyword_hits.select("query_id", "doc_id", F.col("rnk").alias("_rk"))
    score = F.coalesce(
        F.lit(1.0) / (F.lit(float(c)) + F.col("_rv").cast("double")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(c)) + F.col("_rk").cast("double")), F.lit(0.0)
    )
    fused = v.join(kw, ["query_id", "doc_id"], "full_outer").select(
        "query_id", "doc_id", score.alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "rrf_score", "rnk")
    )


def maxsim_search(
    base: DataFrame,
    queries: DataFrame,
    dim: int,
    n_tokens: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Late-interaction (ColBERT-style) retrieval: vectors are treated
    as ``n_tokens`` stacked sub-vectors of ``dim / n_tokens`` dims, and
    ``score(q, d) = sum_i max_j cos_sim(q_i, d_j)`` — each query token
    matches its best document token.

    Scoring is an Arrow-batched numpy kernel against the broadcast
    query batch, BIT-IDENTICAL to the nested higher-order expression
    (transform -> array_max -> fold) it replaced in round 12: token
    dot/norm folds accumulate one dimension at a time in ascending
    order (``fold_dot``, the ``dot``/``l2_norm`` folds' numpy twin), the
    division happens after the ``|a|*|b|`` product exactly as
    ``_cos_sim`` writes it, the per-query-token max is a plain double
    max (``array_max`` over finite values), and the final sum folds
    token-ascending from 0.0. The HOF form evaluated n_tokens^2
    interpreted cosine folds per (doc, query) pair — the dominant cost
    of the operator at sf0.1 (2.2-4 s; the kernel scores the same
    pairs in bulk). The scan stays map-only; the only shuffle is the
    final per-query top-k window. Queries are a bounded batch,
    materialized at CALL time (they were already broadcast in the HOF
    form; the collect makes that boundedness explicit); id columns
    keep their source types, and executor temp memory is bounded by
    doc- and query-chunking sized against n_tokens^2 inside the
    kernel."""
    import numpy as np
    import pandas as pd

    if dim % n_tokens != 0:
        raise ValueError(f"dim {dim} not divisible by n_tokens {n_tokens}")
    d = dim // n_tokens
    qrows = queries.select(
        F.col(query_id_col).alias("query_id"), to_vec(query_vec_col).alias("_qv")
    ).collect()
    spark = base.sparkSession
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    did_type = base.schema[id_col].dataType.simpleString()
    if qrows:
        # ids as a plain list — long, string, any source type
        qids_v = [r["query_id"] for r in qrows]
        Qm = np.array([r["_qv"] for r in qrows], dtype=np.float64).reshape(
            len(qrows), n_tokens, d
        )
    else:
        qids_v = []
        Qm = np.zeros((0, n_tokens, d), dtype=np.float64)
    bq = spark.sparkContext.broadcast((qids_v, Qm))
    # chunk budget: the (nb, nq, T, T) float64 accumulator is the big
    # temp — cap it near 32 MB whatever the token count
    qchunk = 64
    bchunk = max(32, 4_000_000 // max(1, qchunk * n_tokens * n_tokens))

    def kern(batches):
        qids, Q = bq.value
        nq = len(qids)
        qarr = np.array(qids, dtype=object)
        qn = np.sqrt(fold_dot(Q, Q))  # (nq, T)
        for pdf in batches:
            if len(pdf) == 0 or nq == 0:
                continue
            X = np.array(list(pdf["_v"]), dtype=np.float64).reshape(
                len(pdf), n_tokens, d
            )
            ids = pdf["_id"].to_numpy()  # source dtype preserved
            xn = np.sqrt(fold_dot(X, X))  # (nb, T)
            # chunk both axes so the (nb, nq, T, T) accumulator stays
            # bounded regardless of batch/query-set/token size
            for b0 in range(0, len(X), bchunk):
                Xc, xnc = X[b0 : b0 + bchunk], xn[b0 : b0 + bchunk]
                idc = ids[b0 : b0 + bchunk]
                for q0 in range(0, nq, qchunk):
                    Qc, qnc = Q[q0 : q0 + qchunk], qn[q0 : q0 + qchunk]
                    qidc = qarr[q0 : q0 + qchunk]
                    acc = fold_dot(Qc[None, :, :, None], Xc[:, None, None])
                    sim = acc / (qnc[None, :, :, None] * xnc[:, None, None, :])
                    best = sim.max(axis=3)  # (nb, nqc, T): max over doc tokens
                    score = np.zeros(best.shape[:2], dtype=np.float64)
                    for t0 in range(n_tokens):  # token-ascending 0.0+ fold
                        score += best[:, :, t0]
                    yield pd.DataFrame(
                        {
                            "query_id": list(np.repeat(qidc[None, :], len(Xc), 0).ravel()),
                            "doc_id": list(np.repeat(idc, len(Qc))),
                            "maxsim": score.ravel(),
                        }
                    )

    from ..sources.tables import spread

    b = spread(base).select(F.col(id_col).alias("_id"), to_vec(vec_col).alias("_v"))
    scored = b.mapInPandas(
        kern, f"query_id {qid_type}, doc_id {did_type}, maxsim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("maxsim").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "maxsim", "rnk")
    )


def _cos_sim(a, b):
    """Cosine similarity as the canonical fold shape (dot / (|a|*|b|));
    candidates here are non-degenerate so no zero-norm guard — the
    guarded distance form lives in functions.vector.cosine_distance."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance diversification over per-query
    candidate lists, fully declarative (k bounded rounds of join +
    window — no UDF, no driver-side collect).

    ``candidates`` must have (query_id, doc_id, rel, vec) where ``rel``
    is the relevance score (higher = better, e.g. cosine similarity to
    the query). Round 1 picks argmax rel; round t picks
    ``argmax lam*rel - (1-lam)*max_sim_to_selected`` with doc_id
    tiebreak. Returns (query_id, pos, doc_id, rel).

    Greedy MMR is inherently sequential in k (each pick conditions the
    next), so the plan unrolls k rounds; per-query work is bounded by
    the candidate-list length, which keeps every round's join
    broadcast-small per key no matter the corpus size.
    """
    cand = candidates.select(
        "query_id", "doc_id", "rel", to_vec("vec").alias("_v")
    ).localCheckpoint(eager=False)
    # pairwise candidate similarity, computed once (bounded:
    # |cands|^2 rows per query)
    a = cand.select("query_id", F.col("doc_id").alias("_ida"), F.col("_v").alias("_va"))
    b = cand.select("query_id", F.col("doc_id").alias("_idb"), F.col("_v").alias("_vb"))
    pairsim = (
        a.join(b, "query_id")
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            "query_id",
            "_ida",
            "_idb",
            _cos_sim(F.col("_va"), F.col("_vb")).alias("_sim"),
        )
        .localCheckpoint(eager=False)
    )
    w_rel = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("doc_id"))
    selected = (
        cand.withColumn("_rn", F.row_number().over(w_rel))
        .filter(F.col("_rn") == 1)
        .select("query_id", F.lit(1).alias("pos"), "doc_id", "rel")
    )
    for t in range(2, k + 1):
        sel_ids = selected.select("query_id", F.col("doc_id").alias("_idb"))
        rem = cand.join(
            selected.select("query_id", "doc_id"), ["query_id", "doc_id"], "left_anti"
        )
        maxsim = (
            rem.select("query_id", F.col("doc_id").alias("_ida"))
            .join(pairsim, ["query_id", "_ida"])
            .join(sel_ids, ["query_id", "_idb"])
            .groupBy("query_id", "_ida")
            .agg(F.max("_sim").alias("_maxsim"))
            .withColumnRenamed("_ida", "doc_id")
        )
        scored = rem.join(maxsim, ["query_id", "doc_id"]).select(
            "query_id",
            "doc_id",
            "rel",
            (F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("_maxsim")).alias(
                "_mmr"
            ),
        )
        w_mmr = Window.partitionBy("query_id").orderBy(
            F.col("_mmr").desc(), F.col("doc_id")
        )
        pick = (
            scored.withColumn("_rn", F.row_number().over(w_mmr))
            .filter(F.col("_rn") == 1)
            .select("query_id", F.lit(t).alias("pos"), "doc_id", "rel")
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected


def hard_negatives(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    margin: float = 0.15,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard/semi-hard negative mining for contrastive training — the
    data-side half of triplet / InfoNCE pipelines (FaceNet's online
    semi-hard selection, Schroff et al. 2015, re-expressed as a batch
    relation over the corpus).

    For each anchor row in ``anchors`` (same schema as ``emb``:
    id/vector/label):

    - its POSITIVE is the nearest same-label row (self excluded,
      distance then id tiebreak) at distance ``pos_dist``;
    - candidate NEGATIVES are different-label rows with
      ``dist <= pos_dist + margin`` — the ones close enough to produce
      a training signal (anything farther already satisfies the margin
      and contributes zero triplet loss);
    - the top-``k`` by ascending distance are returned, tagged
      ``tier = 'hard'`` (closer than the positive — the violations) or
      ``'semi_hard'`` (inside the margin band beyond it).

    Anchors whose label has no second member drop out (no positive →
    no triplet), and an anchor whose band is under-populated yields
    fewer than k rows — both deterministic, both reproduced by the SQL
    oracle. Returns (query_id, pos_id, pos_dist, neighbor_id, dist,
    tier, rnk).

    Plan shape at 100 TB: the anchor batch is broadcast once; the
    corpus makes ONE map-side pass producing the |corpus| x |anchors|
    distance stream, which splits into the positive argmin (one
    window) and the banded negative top-k (one window) — two bounded
    shuffles of O(|anchors| * rows-in-band), never a corpus self-join.
    For anchor sets that rival the corpus, mine from an ANN shortlist
    instead (similarity_search -> band filter): the banded top-k is a
    pure post-filter over any shortlist relation."""
    dist_expr = metric_expr(metric)
    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias("query_id"),
            to_vec(vec_col).alias("_qv"),
            F.col(label_col).alias("_qlabel"),
        )
    )
    pairs = (
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            to_vec(vec_col).alias("_v"),
            F.col(label_col).alias("_nlabel"),
        )
        .crossJoin(a)
        .select(
            "query_id",
            "_qlabel",
            "neighbor_id",
            "_nlabel",
            dist_expr(F.col("_v"), F.col("_qv")).alias("dist"),
        )
    )
    pos = topk_per_group(
        pairs.filter(
            (F.col("_nlabel") == F.col("_qlabel"))
            & (F.col("neighbor_id") != F.col("query_id"))
        ),
        ["query_id"],
        ["dist", "neighbor_id"],
        1,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("pos_id"),
        F.col("dist").alias("pos_dist"),
    )
    neg = pairs.filter(F.col("_nlabel") != F.col("_qlabel")).select(
        "query_id", "neighbor_id", "dist"
    )
    banded = neg.join(F.broadcast(pos), "query_id").filter(
        F.col("dist") <= F.col("pos_dist") + F.lit(float(margin))
    )
    tier = F.when(F.col("dist") <= F.col("pos_dist"), F.lit("hard")).otherwise(
        F.lit("semi_hard")
    )
    return topk_per_group(banded, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "pos_id", "pos_dist", "neighbor_id", "dist", tier.alias("tier"),
        "rnk",
    )


def recall_report(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Index-quality evaluation AS A RELATION: per-query overlap of an
    approximate search result against the exact one — the recall@k
    check every ANN deployment runs in CI, here composable over any two
    (query_id, neighbor_id, ...) relations this package emits (both
    sides already truncated to their k by construction). Returns
    (query_id, n_exact, n_hits, recall) with
    ``recall = n_hits / n_exact`` (exact-side denominator, so a small
    corpus returning fewer than k true neighbors scores correctly).
    The division is one int/int -> double op, bit-identical across
    engines, so the whole report is oracle-hashable.

    Plan shape: two distinct-projections and ONE left equi-join on
    (query_id, neighbor_id), then a single per-query aggregation —
    shuffle bounded by |queries| x k rows on both sides regardless of
    corpus size; the report never touches the vectors. The exact side
    is referenced exactly once: the old shape read it twice (denominator
    aggregation + hit join), and Spark does not CSE across join sides,
    so an expensive ``exact`` subtree (a full exact kNN) executed twice
    per action (guide §1.2: don't compute things you throw away)."""
    a = approx.select("query_id", "neighbor_id").distinct().withColumn(
        "_hit", F.lit(1)
    )
    e = exact.select("query_id", "neighbor_id").distinct()
    grouped = (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_hits"),
        )
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return grouped.select(
        "query_id",
        F.col("n_exact").cast("long").alias("n_exact"),
        n_hits.alias("n_hits"),
        (n_hits / F.col("n_exact")).alias("recall"),
    )


def mrr_report(approx: DataFrame, relevant: DataFrame) -> DataFrame:
    """Mean-reciprocal-rank evaluation AS A RELATION — the companion
    to :func:`recall_report` for rank-sensitive retrieval QA: per
    query, the rank of the FIRST relevant hit in the approximate
    result and its reciprocal. ``approx`` is any ranked
    (query_id, neighbor_id, rnk) relation this package emits;
    ``relevant`` is any (query_id, neighbor_id, ...) relation naming
    the relevant items (an exact top-k, a labeled qrels table, ...).
    Returns (query_id, first_rank, rr): first_rank = min rnk whose
    neighbor is relevant (NULL when no relevant item appears — the
    query scores 0 by convention, rr = 0.0), rr = 1/first_rank.

    Engine-exactness: rr is ONE int/int -> double division (correctly
    rounded identically in every IEEE engine). The corpus-wide MEAN is
    deliberately NOT emitted: a float sum over queries is
    partial-order-dependent, so the mean is left to the consumer over
    this per-query relation (same contract as the integer moments in
    doc_len_outliers).

    Plan shape: ONE left equi-join on (query_id, neighbor_id) + one
    min aggregation — shuffle bounded by |queries| x k, never the
    corpus. The approximate side is referenced exactly once: the old
    shape read it twice (hit join + the query-universe distinct), and
    Spark does not CSE across join sides, so an expensive ``approx``
    subtree (a whole ANN query) executed twice per action (guide §1.2;
    on the lsh_mrr_report registry row the plan drops 22 -> 16
    Exchanges and 4 -> 2 MapInPandas nodes — the LSH kernel pass now
    runs once; sf0.1 wall-clock is join-latency-bound either way, the
    win is the removed ANN pass at scale). Every
    approx query survives the left join, so the per-query group set is
    exactly the old query-universe distinct; min() ignores the NULL
    rnk-of-unmatched rows, so first_rank is unchanged row for row."""
    a = approx.select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"))
    r = relevant.select("query_id", "neighbor_id").distinct().withColumn(
        "_rel", F.lit(1)
    )
    grouped = (
        a.join(r, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.min(F.when(F.col("_rel").isNotNull(), F.col("rnk"))).alias(
                "first_rank"
            )
        )
    )
    return grouped.select(
        "query_id",
        "first_rank",
        F.when(
            F.col("first_rank").isNotNull(),
            F.lit(1.0) / F.col("first_rank"),
        )
        .otherwise(F.lit(0.0))
        .alias("rr"),
    )


def hard_negatives_from(
    shortlist: DataFrame,
    labels: DataFrame,
    k: int = 5,
    margin: float = 0.15,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard/semi-hard negative mining as a PURE POST-FILTER over an ANN
    shortlist — the scale path :func:`hard_negatives`' docstring
    prescribes for anchor sets that rival the corpus (VERDICT r12 #4).

    ``shortlist`` is any (query_id, neighbor_id, dist) relation — the
    output shape of every similarity-search operator in this package
    (knn_exact_fast, ivf_pq_knn, knn_hnsw, matryoshka_knn, ...); extra
    columns (rnk, scores) are ignored. ``labels`` is the thin
    (``id_col``, ``label_col``) relation. Semantics are
    :func:`hard_negatives` restricted to the shortlist: the positive is
    the nearest SAME-LABEL shortlist row (self excluded, distance then
    id tiebreak), negatives are different-label shortlist rows within
    ``margin`` of it, top-``k`` ascending, tiered hard/semi_hard.
    Anchors whose shortlist has no same-label member drop out — with a
    deep enough shortlist this equals full mining exactly (pinned in
    tests against :func:`hard_negatives` on an exhaustive shortlist).

    Plan shape at 100 TB: NO corpus pass at all — two hash joins
    against the thin label relation (shuffle sized by the shortlist,
    |anchors| x shortlist_k, never |corpus| x |anchors|) and the same
    two bounded windows. Mining a million anchors costs whatever the
    ANN shortlist cost, plus this bounded tail."""
    sl = shortlist.select("query_id", "neighbor_id", "dist")
    qlab = labels.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("_qlabel")
    )
    nlab = labels.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nlabel")
    )
    pairs = sl.join(qlab, "query_id").join(nlab, "neighbor_id")
    pos = topk_per_group(
        pairs.filter(
            (F.col("_nlabel") == F.col("_qlabel"))
            & (F.col("neighbor_id") != F.col("query_id"))
        ),
        ["query_id"],
        ["dist", "neighbor_id"],
        1,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("pos_id"),
        F.col("dist").alias("pos_dist"),
    )
    banded = (
        pairs.filter(F.col("_nlabel") != F.col("_qlabel"))
        .select("query_id", "neighbor_id", "dist")
        # NOT broadcast: pos is anchor-sized, and this path exists
        # precisely for anchor sets too large to broadcast — both join
        # sides shuffle on query_id, each bounded by the shortlist
        .join(pos, "query_id")
        .filter(F.col("dist") <= F.col("pos_dist") + F.lit(float(margin)))
    )
    tier = F.when(F.col("dist") <= F.col("pos_dist"), F.lit("hard")).otherwise(
        F.lit("semi_hard")
    )
    return topk_per_group(banded, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "pos_id", "pos_dist", "neighbor_id", "dist", tier.alias("tier"),
        "rnk",
    )
