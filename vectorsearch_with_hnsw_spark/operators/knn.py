"""Exact kNN as a declarative Spark plan, plus a vectorized scale path.

The reference's query surface is top-k nearest neighbors under L2 or
cosine (``search``, hsnw_trial.py:267-294: ef-search then rescore, sort
ascending, truncate to k). Exact kNN is its ground-truth oracle (the
reference itself names brute-force recall as the missing rigorous test,
FashionMNIST notebook cell 17).

Two implementations with identical results:

- ``knn_exact``: broadcast the (small) query set, map-side cross join,
  native distance expression, per-query Window top-k. Fully declarative;
  used as the correctness oracle.
- ``knn_exact_fast``: same broadcast, but the per-partition running
  top-k is computed inside an Arrow-batched ``mapInPandas`` kernel with
  BLAS matrix distances, so only ``partitions x queries x k`` rows ever
  reach the final (tiny) global top-k shuffle. This is the 100 TB path:
  the full |index| x |queries| pair set never materializes or shuffles.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import fold_cosine, fold_dot, fold_sq_l2, metric_expr, to_vec


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Rank-within-group, keep <= k — the reference's result truncation
    (sort asc + [:k], hsnw_trial.py:293-294) and degree-cap pruning
    (hsnw_trial.py:250-254) are both this shape."""
    w = Window.partitionBy(*group_cols).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def _exact_rerank(
    shortlist: DataFrame,
    emb: DataFrame | None,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    base: DataFrame | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact re-rank of a (query_id, neighbor_id) shortlist against the
    full vectors — the one refine tail of every sketch family (the
    one-shot ``*_refine_knn`` operators and the index artifacts'
    ``refine_search``), so a loaded index's deployed probe matches its
    one-shot operator bit-for-bit and one tie-break/metric rule serves
    every path. ``base`` overrides the vector source with a pre-shaped
    (neighbor_id, _v array<double>) relation — the vector-bearing index
    layouts (``save(path, emb)``) pass their own stored vectors so the
    corpus table is never scanned at probe time."""
    dist_fn = metric_expr(metric)
    if base is None:
        if emb is None:
            raise ValueError(
                "refine needs raw vectors: pass emb, or save the index "
                "with store-vectors (save(path, emb))"
            )
        base = emb.select(F.col(id_col).alias("neighbor_id"), to_vec(vec_col).alias("_v"))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), to_vec(query_vec_col).alias("_q")
        )
    )
    rescored = (
        shortlist.join(base, "neighbor_id")
        .join(q, "query_id")
        .select("query_id", "neighbor_id", dist_fn(F.col("_v"), F.col("_q")).alias("dist"))
    )
    return topk_per_group(rescored, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "dist", F.col("rnk").cast("int").alias("rnk")
    )


def knn_exact(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Brute-force top-k: broadcast queries, cross join, distance expr,
    per-query window. Ties broken by neighbor id for determinism.

    Returns (query_id, neighbor_id, dist, rnk) sorted semantics identical
    to the reference search contract (ascending distance, rank 1 = self
    for an indexed query vector).
    """
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
    pairs = base.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        dist(F.col("_vec"), F.col("_qvec")).alias("dist"),
    )
    return topk_per_group(pairs, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "dist", "rnk"
    )


def knn_exact_fast(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Vectorized exact kNN: per-partition BLAS candidate selection with
    an IN-KERNEL fold-exact rescore, then ONE global top-k window.

    Query-batch bound: the query side is COLLECTED and broadcast
    (|queries| x dim doubles on the driver and per executor) — right
    for bounded probe batches (the reference's interactive use), wrong
    for query tables that rival the corpus; for those use the
    collect-free ``knn_hnsw_distributed`` (index/query.py) or the
    declarative ``knn_exact``, whose join shuffles instead of
    broadcasting.

    Candidates are picked per Arrow batch with the fast algebraic form
    (|x-q|^2 = |x|^2 - 2 x.q + |q|^2, one GEMM), then the kept k-per-
    query rows are rescored inside the kernel by the numpy twins of the
    metric folds (``functions.vector.fold_sq_l2`` / ``fold_cosine``) —
    bit-identical to the zip_with/aggregate Column expression and the
    SQL oracle. Emitting exact distances from the kernel
    removes the rescore join and one of the two ranking windows the
    previous shape needed (measured ~0.5s off the sf0.1 exact kNN
    graph); shuffle volume stays O(P * Q * k), independent of index
    size."""
    if metric not in ("l2", "cosine"):
        raise ValueError(f"Unknown metric '{metric}'")
    qrows = queries_df.select(query_id_col, query_vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    spark = index_df.sparkSession
    sc = spark.sparkContext
    bq = sc.broadcast((qids, qmat))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, qm = bq.value
        nq = len(ids_b)
        qn2 = fold_dot(qm, qm)
        best_d = [np.empty(0, dtype=np.float64) for _ in range(nq)]
        best_i = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        for pdf in batches:
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["_vec"]), dtype=np.float64)
            if mat.size == 0:
                continue
            if metric == "l2":
                x2 = (mat * mat).sum(axis=1)
                d2 = x2[None, :] - 2.0 * (qm @ mat.T) + (qm * qm).sum(axis=1)[:, None]
                dmat = np.sqrt(np.maximum(d2, 0.0))
            else:
                xn = np.linalg.norm(mat, axis=1)
                denom = np.sqrt(qn2)[:, None] * xn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = (qm @ mat.T) / denom
                dmat = np.where(denom == 0.0, 1.0, 1.0 - sim)
            # batch-local candidate pick by (fast dist, id) ...
            kk = min(k, dmat.shape[1])
            sel = np.empty((nq, kk), dtype=np.int64)
            for qi in range(nq):
                sel[qi] = np.lexsort((ids, dmat[qi]))[:kk]
            # ... then fold-exact rescore of the kept rows only and a
            # merge with the running best BY EXACT DISTANCE
            R = mat[sel]  # (nq, kk, dim)
            if metric == "l2":
                dex = np.sqrt(fold_sq_l2(R, qm[:, None]))
            else:
                dex = fold_cosine(fold_dot(R, qm[:, None]), fold_dot(R, R), qn2[:, None])
            cand_ids = ids[sel]
            for qi in range(nq):
                d = np.concatenate([best_d[qi], dex[qi]])
                i = np.concatenate([best_i[qi], cand_ids[qi]])
                keep = np.lexsort((i, d))[:k]
                best_d[qi] = d[keep]
                best_i[qi] = i[keep]
        out = {
            "query_id": np.repeat(ids_b, [len(b) for b in best_i]),
            "neighbor_id": np.concatenate(best_i) if best_i else np.empty(0, np.int64),
            "dist": np.concatenate(best_d) if best_d else np.empty(0, np.float64),
        }
        yield pd.DataFrame(out)

    from ..sources.tables import spread

    # spread: a 1-split parquet would serialize the whole BLAS pass on
    # a single core (measured 3.1s -> ~0.7s at sf0.1 on local[32]); the
    # merge is bit-exact under ANY partitioning, and at real scan
    # widths spread is a no-op.
    narrow = spread(index_df).select(
        F.col(id_col).alias("_id"), to_vec(vec_col).alias("_vec")
    )
    partial = narrow.mapInPandas(
        partial_topk, "query_id long, neighbor_id long, dist double"
    )
    return topk_per_group(partial, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "dist", "rnk"
    )


def prefilter_rows(
    df: DataFrame,
    id_col: str = "vec_id",
    predicate=None,
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """The shared pre-filter contract of attribute-filtered vector
    search — used by the one-shot :func:`filtered_knn` AND by the
    persisted index artifacts' probes (``IvfPqIndex.search``,
    ``PqIndex.search``, ``IvfIndex.search``, ``Sq8Index.search``), so
    "filter a 100 TB at-rest index" is the same API as "filter a
    one-shot scan" (the reference's tombstone skip, hsnw_trial.py:
    178-179, is this mechanism with deleted-ness as the predicate).

    - ``predicate``: Column or SQL string over the relation's own
      columns, applied before any distance math — Catalyst pushes it
      into the parquet scan of a saved codes table (PushedFilters).
    - ``allowed_ids``: one-column relation of permitted ids, semi-joined
      on ``id_col`` (broadcast when small, AQE-planned otherwise)."""
    if predicate is not None:
        df = df.filter(F.expr(predicate) if isinstance(predicate, str) else predicate)
    if allowed_ids is not None:
        key = allowed_ids.columns[0]
        df = df.join(
            allowed_ids.select(F.col(key).alias(id_col)).distinct(), id_col, "semi"
        )
    return df


def merge_tombstones(
    tombstones: DataFrame | None, ids_df: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Fold a batch of deleted ids into a tombstone log — the shared
    delete-log primitive of the persisted index artifacts' ``delete()``
    (the reference's lazy tombstone delete, hsnw_trial.py:296-305,
    applied to an at-rest codes table: the data stays put, only the
    skip set grows). The log is a one-column (``id_col``) relation;
    ``ids_df``'s first column is taken as the id whatever its name."""
    key = ids_df.columns[0]
    batch = ids_df.select(F.col(key).alias(id_col))
    if tombstones is None:
        return batch.distinct()
    return tombstones.select(id_col).unionByName(batch).distinct()


def live_rows(
    df: DataFrame, tombstones: DataFrame | None, id_col: str = "vec_id"
) -> DataFrame:
    """Skip tombstoned rows — the probe-time half of the delete-log
    contract (the reference's ``if not in deleted`` skip,
    hsnw_trial.py:178-179, as an anti-join against the log). ``None``
    (no deletes yet) is a no-op so an undeleted index keeps its exact
    plan: no spurious join ever enters the probe."""
    if tombstones is None:
        return df
    return df.join(tombstones.select(id_col), id_col, "left_anti")


def filtered_knn(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    metric: str = "l2",
    predicate=None,
    allowed_ids: DataFrame | None = None,
    method: str = "exact_fast",
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attribute-filtered vector search — the vector-DB "metadata WHERE
    + top-k" pattern (Qdrant/Milvus/pgvector filtered search), absent
    from the reference (hsnw_trial.py's search takes only a vector,
    hsnw_trial.py:267-294) but the first thing a production corpus
    needs ("nearest English documents", "nearest rows in this tenant").

    Strategy = PRE-FILTER, then search the survivors:

    - ``predicate``: a Column or SQL string over the vector table's own
      columns. Applied before any distance math, so Catalyst pushes it
      into the parquet scan (PushedFilters — row-group/partition
      pruning at rest; pinned by plan test).
    - ``allowed_ids``: a one-column relation of ids whose metadata
      lives in ANOTHER table (e.g. documents.lang): semi-joined on
      ``id_col`` — broadcast when small, AQE-planned otherwise.

    Pre-filtering is correct at ANY selectivity: cost scales with the
    selected subset and exactly k results come back whenever the subset
    has k rows. (Post-filtering a fixed-size ANN result — search first,
    filter after — silently under-fills k on selective predicates, the
    classic filtered-HNSW failure mode; a graph index also cannot skip
    filtered-out nodes without breaking its routing.) For repeated
    probes over one hot predicate at 100 TB, build a dedicated index
    over the filtered subset instead (HnswIndex/IvfPqIndex over
    ``base.filter(...)``) — this operator is the one-shot form.

    ``method`` picks the search family over the filtered base: the
    default exact BLAS top-k, or any ``similarity_search`` method name
    (the sketch/IVF families train on the SURVIVORS, so their cells and
    codebooks reflect the filtered distribution, not the full corpus)."""
    filtered = prefilter_rows(index_df, id_col, predicate, allowed_ids)
    if method == "exact_fast":
        return knn_exact_fast(
            filtered, queries_df, k=k, metric=metric, id_col=id_col, vec_col=vec_col
        )
    if method == "exact":
        return knn_exact(
            filtered, queries_df, k=k, metric=metric, id_col=id_col, vec_col=vec_col
        )
    from .search import similarity_search

    return similarity_search(
        filtered.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        queries_df,
        method=method,
        k=k,
        metric=metric,
        dim=dim,
    )


def format_results(knn_df: DataFrame, decimals: int = 4) -> DataFrame:
    """Presentation projection: distance formatted to fixed decimals —
    the reference's report formatting (4-decimal prints, FashionMNIST
    notebook cell 16 / CIFAR cell 4)."""
    return knn_df.withColumn("dist_fmt", F.format_number(F.col("dist"), decimals))


def knn_with_labels(
    knn_df: DataFrame,
    labels_df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Label-lookup join of kNN results — the reference's only
    join-shaped operation (CIFAR notebook cell 4: per-hit (image, label)
    lookup + '<- QUERY' self marker). Dimension side is broadcast."""
    lab = F.broadcast(
        labels_df.select(F.col(id_col).alias("neighbor_id"), F.col(label_col))
    )
    return knn_df.join(lab, "neighbor_id", "left").withColumn(
        "marker",
        F.when(F.col("neighbor_id") == F.col("query_id"), F.lit("<- QUERY")).otherwise(
            F.lit("")
        ),
    )
