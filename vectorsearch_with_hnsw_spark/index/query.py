"""Distributed ANN probe over a partitioned HNSW index.

Query path (SURVEY.md §7 P4): every index partition is probed by a local
kernel reconstructed from the nodes+edges tables (cogrouped
``applyInPandas`` — one Arrow exchange per partition), each emitting its
per-partition top-k per query; a final tiny Window re-merge produces the
global top-k. Shuffle volume of the merge is O(P * Q * k) — independent
of index size, so the plan survives a 100x scale-up (P grows, per-task
work stays constant).

Three probe modes differ only in how queries reach the partitions:
broadcast to every partition (``knn_hnsw`` — bounded artifact, same rule
as the label join), replicated to every partition of the layout by a
narrow explode (``knn_hnsw_distributed``) or routed to candidate
partitions (``index.routed.knn_hnsw_routed``); the latter two go through
``probe_placed``. All three run one kernel (``_probe_kernel``) and one
merge (``_merge_topk``, a single Exchange). Per-index search state is
taken once: meta is read once per index handle
(``HnswIndex._entry_points``), and the partition list comes from the
handle's layout fields, so a repeat probe runs no meta job, broadcast
or join.
Semantics match the reference search (hsnw_trial.py:267-294): greedy
descent, ef-search at layer 0 with ef = max(ef, k), tombstones skipped,
results ascending, k-truncated.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.knn import topk_per_group
from .build import HnswIndex
from .local_hnsw import LocalHNSW

PROBE_SCHEMA = "query_id long, neighbor_id long, dist double"


def _probe_kernel(index: HnswIndex, k: int, ef: int | None):
    """The partition probe kernel every probe path runs. Returns
    ``probe(nodes_pdf, edges_pdf, qids, qvecs)``: it rebuilds the
    partition's local graph from its nodes/edges rows and emits each
    query's per-partition top-k as (query_id, neighbor_id, dist). The
    entry points come from the handle's record (one meta collect per
    handle) and travel in the closure: no job, no broadcast."""
    params = index.params
    entries = index._entry_points()

    def probe(nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame, qids, qvecs) -> pd.DataFrame:
        out_q, out_n, out_d = [], [], []
        if len(nodes_pdf) and len(qids):
            part = int(nodes_pdf["partition"].iloc[0])
            entry_point, max_layer = entries.get(part, (None, -1))
            idx = LocalHNSW.from_tables(
                params,
                nodes_pdf["id"].to_numpy(dtype=np.int64),
                np.array(list(nodes_pdf["vec"]), dtype=np.float32),
                nodes_pdf["level"].to_numpy(dtype=np.int32),
                nodes_pdf["deleted"].to_numpy(dtype=bool),
                edges_pdf["layer"].to_numpy(dtype=np.int32),
                edges_pdf["src"].to_numpy(dtype=np.int64),
                edges_pdf["dst"].to_numpy(dtype=np.int64),
                entry_point,
                max_layer,
            )
            for qid, qv in zip(qids, qvecs):
                for nid, d in idx.search(qv, k=k, ef=ef):
                    out_q.append(qid)
                    out_n.append(nid)
                    out_d.append(d)
        return pd.DataFrame(
            {
                "query_id": np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "dist": np.array(out_d, dtype=np.float64),
            }
        )

    return probe


def _ranked(df: DataFrame, k: int) -> DataFrame:
    return topk_per_group(df, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "dist", "rnk"
    )


def _merge_topk(partial: DataFrame, k: int) -> DataFrame:
    """Global top-k from the per-partition partial results.
    dropDuplicates: a replicated routed layout (or probe-all over it)
    surfaces the same (query, neighbor) hit from several partitions
    with identical dist; keep one before ranking so replicas never
    crowd distinct neighbors out of the top-k. The partial frame is
    O(P*Q*k); hashing it by query_id first lets the dedup and the
    ranking window share that one Exchange."""
    return _ranked(partial.repartition("query_id").dropDuplicates(["query_id", "neighbor_id"]), k)


def probe_placed(index: HnswIndex, placed: DataFrame, k: int, ef: int | None) -> DataFrame:
    """Probe queries already placed as (id, vec, partition) rows: they
    ride the same cogroup as the index nodes, tagged by a marker
    column, so each partition's kernel sees exactly the queries placed
    on it. Returns (query_id, neighbor_id, dist, rnk)."""
    tagged = index.nodes.select(
        "partition", "id", "vec", "level", "deleted", F.lit(False).alias("is_query")
    ).unionByName(
        placed.select(
            "partition",
            "id",
            "vec",
            F.lit(0).alias("level"),
            F.lit(False).alias("deleted"),
            F.lit(True).alias("is_query"),
        )
    )
    kernel = _probe_kernel(index, k, ef)

    def probe(mixed_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        is_q = mixed_pdf["is_query"].to_numpy(dtype=bool)
        queries_pdf = mixed_pdf[is_q]
        return kernel(
            mixed_pdf[~is_q], edges_pdf, queries_pdf["id"].to_numpy(dtype=np.int64), queries_pdf["vec"]
        )

    partial = (
        tagged.groupBy("partition")
        .cogroup(index.edges.groupBy("partition"))
        .applyInPandas(probe, PROBE_SCHEMA)
    )
    return _merge_topk(partial, k)


def knn_hnsw_distributed(
    index: HnswIndex,
    queries_df: DataFrame,
    k: int = 10,
    ef: int | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Probe with NO driver-side query collection — the path for query
    batches too large to broadcast (millions of rows at 100 TB scale).

    Each query is replicated to every partition of the index layout —
    ``range(num_partitions)`` plus ``appended_partitions``, read off
    the handle — by one narrow explode (no meta scan, no join; exactly
    the probe-all contract, including partitions too small to have a
    meta row) and probed by ``probe_placed``. Shuffle volume: |Q| * P
    query rows + one pass of the index tables; the merge stays
    O(P * Q * k).
    """
    q_rep = queries_df.select(
        F.col(query_id_col).alias("id"),
        F.col(query_vec_col).cast("array<float>").alias("vec"),
        F.explode(_every_partition(index)).alias("partition"),
    )
    return probe_placed(index, q_rep, k, ef)


def _every_partition(index: HnswIndex) -> Column:
    """The index's partition ids as one array expression: a ``sequence``
    over the build modulus (the same size at any P) concatenated with
    the appended partitions. A handle without a recorded modulus lists
    the partitions of its entry-point record instead."""
    ints = lambda ps: F.array(*[F.lit(int(p)) for p in ps]).cast("array<int>")  # noqa: E731
    if index.num_partitions is None:
        return ints(sorted(set(index._entry_points()) | set(index.appended_partitions)))
    return F.concat(
        F.sequence(F.lit(0), F.lit(int(index.num_partitions) - 1)), ints(index.appended_partitions)
    )


def knn_hnsw(
    index: HnswIndex,
    queries_df: DataFrame,
    k: int = 10,
    ef: int | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    allowed_ids: DataFrame | None = None,
    filter_boost: int = 4,
) -> DataFrame:
    """Probe all partitions, merge per-query top-k. Queries are collected
    + broadcast (bounded artifact — right for interactive batches; use
    ``knn_hnsw_distributed`` for huge query tables).

    ``allowed_ids`` is the graph-index member of the filtered-probe
    family (IvfPqIndex/PqIndex/IvfIndex/Sq8Index.search take the same
    contract): a POST-filter — the graph is probed with ef and k
    boosted ``filter_boost``x, then neighbors outside the permitted set
    are dropped and the survivors re-ranked. Post-filtering is the only
    strategy a graph index supports without breaking its routing (the
    reference's tombstone skip, hsnw_trial.py:178-179, is the same
    mechanism with deleted-ness as the predicate) and it UNDER-FILLS at
    low selectivity — below ~1/filter_boost of the corpus permitted,
    use ``filtered_knn`` (pre-filter, exact at any selectivity) or
    build the index over the filtered subset. Column predicates belong
    on the source-table pre-filter path; the index stores only
    (id, vec).

    Returns (query_id, neighbor_id, dist, rnk)."""
    if allowed_ids is not None:
        from ..operators.knn import prefilter_rows

        boosted_k = k * filter_boost
        raw = knn_hnsw(
            index,
            queries_df,
            k=boosted_k,
            ef=max(ef or index.params.ef_search, boosted_k),
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        ).select("query_id", "neighbor_id", "dist")
        return _ranked(prefilter_rows(raw, "neighbor_id", None, allowed_ids), k)
    qrows = queries_df.select(query_id_col, query_vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    bq = index.nodes.sparkSession.sparkContext.broadcast((qids, qmat))
    kernel = _probe_kernel(index, k, ef)

    def probe(nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(nodes_pdf, edges_pdf, *bq.value)

    partial = (
        index.nodes.groupBy("partition")
        .cogroup(index.edges.groupBy("partition"))
        .applyInPandas(probe, PROBE_SCHEMA)
    )
    return _merge_topk(partial, k)


def knn_hnsw_rescored(
    index: HnswIndex,
    base_df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    shortlist_k: int = 40,
    ef: int | None = 200,
    metric: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    routed: bool = False,
) -> DataFrame:
    """HNSW shortlist -> exact re-score -> top-k: the verified form of
    the reference's flagship search (hsnw_trial.py:267-294).
    ``routed=True`` draws the shortlist through the bounded-probe
    routed path (index.routed.knn_hnsw_routed — requires a routed-built
    index) instead of the broadcast probe-all; the re-score contract is
    unchanged, so the result stays exact whenever the routed shortlist
    covers the true top-k.

    The graph probe produces an over-fetched shortlist (``shortlist_k``
    candidates per query at high ``ef``); distances are then recomputed
    EXACTLY against the ORIGINAL vectors in ``base_df`` with the same
    Catalyst fold knn_exact uses (not the index's float32 copies — the
    cast would perturb ulps), and the final window keeps the true top
    ``k`` of the shortlist. Whenever the shortlist covers the true
    top-k (recall@{shortlist} = 1, the measured regime at ef=200 —
    BENCH extras track it), the output is BIT-IDENTICAL to exact kNN:
    the result an exact-kNN SQL oracle can verify, at graph-probe cost.

    Scale shape: probe merge is O(P*Q*k) like knn_hnsw; the re-score
    joins the (Q * shortlist_k)-row shortlist — broadcast-bounded by
    the query batch, never the corpus — against base_df on the 8-byte
    id, computes Q*shortlist_k distance folds, and windows over
    Q*shortlist_k rows. No cross join, no corpus-sized shuffle."""
    from ..functions.vector import metric_expr, to_vec

    dist = metric_expr(metric or index.params.metric)
    if routed:
        from .routed import knn_hnsw_routed

        shortlist = knn_hnsw_routed(
            index, queries_df, k=shortlist_k, ef=ef,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        ).select("query_id", "neighbor_id")
    else:
        shortlist = knn_hnsw(
            index, queries_df, k=shortlist_k, ef=ef,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        ).select("query_id", "neighbor_id")
    q = queries_df.select(
        F.col(query_id_col).alias("query_id"), to_vec(query_vec_col).alias("_qvec")
    )
    base = base_df.select(
        F.col(id_col).alias("neighbor_id"), to_vec(vec_col).alias("_vec")
    )
    pairs = (
        F.broadcast(shortlist.join(q, "query_id"))
        .join(base, "neighbor_id")
        .select("query_id", "neighbor_id", dist(F.col("_vec"), F.col("_qvec")).alias("dist"))
    )
    return _ranked(pairs, k)
