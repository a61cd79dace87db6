"""Distributed batch HNSW construction, persistence, deletes, rebuild.

Architecture (SURVEY.md §7 P3): the reference's insert loop is inherently
sequential (each insert reads the whole prior graph, hsnw_trial.py:
197-265), so a faithful distributed build partitions the vectors,
builds an independent local HNSW graph per partition inside
``applyInPandas`` (Arrow-batched, numpy kernel), and probes every
partition at query time with a global top-k re-merge. Per-partition
graphs lose no recall as long as every partition is probed — the merge
of per-partition exact top-k IS the global top-k, and per-partition ANN
recall composes the same way.

Index artifact = three Parquet-backed tables (the columnar analog of the
reference's vectors.npy / graph.json / meta.json, hsnw_trial.py:310-342):

  nodes(partition, id, vec, level, deleted)
  edges(partition, layer, src, dst)
  meta (partition, entry_point, max_layer) + params as a JSON column

Scale notes: partition count P scales with data (vectors per partition
bounded by executor memory); the build is one shuffle (repartition by
hash(id)) followed by embarrassingly-parallel kernels; no driver-side
state at any point.
"""

from __future__ import annotations

import json
from dataclasses import asdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .local_hnsw import HnswParams, LocalHNSW
from ..cache import persist_tracked

NODES_SCHEMA = "partition int, id long, vec array<float>, level int, deleted boolean"
EDGES_SCHEMA = "partition int, layer int, src long, dst long"
META_SCHEMA = "partition int, entry_point long, max_layer int, n_nodes long"
# the placement record of an index (HnswIndex constructor arguments);
# all but centroids travel in the saved params JSON
_LAYOUT = (
    "num_partitions", "appended_partitions", "n_planes", "replicas", "routing", "assign_n",
    "centroids",
)


class HnswIndex:
    """Handle to the three index tables + params + the placement layout.

    ``num_partitions`` records the BUILD modulus. The routed probe must
    route with exactly this value — deriving it from meta.count() is
    wrong when a partition ends up with 0/1 nodes (no edge rows -> no
    meta row), which would silently shift every query's pmod routing.
    ``append`` therefore NEVER bumps it: appended partitions are
    hash-placed (not LSH-placed), so they live outside the routing
    space and are tracked in ``appended_partitions`` — the routed probe
    adds them to every query's candidate set (probe-all for the
    appended tail, routed for the original build)."""

    def __init__(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        meta: DataFrame,
        params: HnswParams,
        num_partitions: int | None = None,
        appended_partitions: list[int] | None = None,
        n_planes: int | None = None,
        replicas: int = 0,
        routing: str | None = None,
        assign_n: int = 2,
        centroids: DataFrame | None = None,
    ):
        self.nodes = nodes
        self.edges = edges
        self.meta = meta
        self.params = params
        self.num_partitions = num_partitions
        self.appended_partitions = list(appended_partitions or [])
        # placement of the build partitions: None = hash (hnsw_build),
        # "centroid" | "lsh" = routed (hnsw_build_routed). rebuild()
        # dispatches on this so a routed index stays routed across
        # compactions; knn_hnsw_routed refuses hash-placed indexes
        # (routing over hash placement silently collapses recall — most
        # true neighbors live in un-probed partitions).
        self.routing = routing
        self.n_planes = n_planes
        # routed boundary-replication factor (0 = single home bucket);
        # recorded so rebuild() reproduces the same layout and so
        # consumers know nodes may hold (1+replicas) rows per id
        self.replicas = int(replicas)
        # centroid-routing artifacts: the trained cell centroids
        # (bounded P-row table) and the multi-assignment factor (nodes
        # hold assign_n rows per id under centroid routing)
        self.assign_n = int(assign_n)
        self.centroids = centroids
        # the persisted build-kernel output (set by hnsw_build,
        # hnsw_build_routed and append_routed), exposed so callers
        # (bench, repeated rebuilds) can release exactly this cache
        # entry — edges/meta are projections of it and unpersisting
        # those is a no-op
        self.kernel_out: DataFrame | None = None
        # (centroid matrix, cell ids) probe-side cache of a
        # centroid-routed handle, filled by index.routed
        self._centroids_np = None
        # {partition: (entry_point, max_layer)}, read from meta by the
        # first probe (see _entry_points)
        self._entries: dict[int, tuple[int, int]] | None = None

    @property
    def routed(self) -> bool:
        return self.routing is not None

    def _layout(self) -> dict:
        """The placement state every derived handle carries over. Losing
        one field is silent: a centroid-placed layout probed with LSH
        routing, or a wrong routing modulus, collapses recall with no
        error — so delete/append/append_routed pass all of it."""
        return {key: getattr(self, key) for key in _LAYOUT}

    def _entry_points(self) -> dict[int, tuple[int, int]]:
        """Each graph's search entry, ``{partition: (entry_point,
        max_layer)}``: one collect of meta on the handle's first probe,
        reused by every later probe (meta never changes under a handle).
        Taken at the first probe, not at build or load, so a build stays
        lazy. A partition with 0/1 nodes has no meta row and no entry
        here; its kernel falls back to its own entry point."""
        if self._entries is None:
            self._entries = {
                int(r["partition"]): (int(r["entry_point"]), int(r["max_layer"]))
                for r in self.meta.select("partition", "entry_point", "max_layer").collect()
            }
        return self._entries

    def save(self, path: str) -> None:
        """Persist as Parquet tables + params sidecar (logical equivalent
        of the reference save(), hsnw_trial.py:310-342). nodes/edges are
        laid out partitionBy(partition): a probe of one index partition
        reads exactly one directory (partition pruning), and the probe
        job's cogroup starts from co-partitioned files."""
        self.nodes.write.mode("overwrite").partitionBy("partition").parquet(f"{path}/nodes")
        self.edges.write.mode("overwrite").partitionBy("partition").parquet(f"{path}/edges")
        self.meta.write.mode("overwrite").parquet(f"{path}/meta")
        spark = self.nodes.sparkSession
        payload = dict(asdict(self.params))
        if self.num_partitions is not None:
            payload["num_partitions"] = self.num_partitions
        if self.appended_partitions:
            payload["appended_partitions"] = self.appended_partitions
        if self.routed:
            payload["routed"] = True
            if self.n_planes is not None:
                payload["n_planes"] = self.n_planes
            if self.replicas:
                payload["replicas"] = self.replicas
            payload["routing"] = self.routing
            payload["assign_n"] = self.assign_n
            if self.centroids is not None:
                self.centroids.coalesce(1).write.mode("overwrite").parquet(
                    f"{path}/centroids"
                )
        params_df = spark.createDataFrame([(json.dumps(payload),)], "params_json string")
        params_df.coalesce(1).write.mode("overwrite").json(f"{path}/params")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "HnswIndex":
        """Re-open a persisted index (reference load(), hsnw_trial.py:
        344-376, including params defaulting via HnswParams defaults).
        An index saved before the routing family was recorded
        (``routed: true``, no ``routing`` key) is LSH-routed."""
        raw = json.loads(spark.read.json(f"{path}/params").first()["params_json"])
        layout = {key: raw.pop(key) for key in _LAYOUT if key in raw}
        if raw.pop("routed", False):
            layout.setdefault("routing", "lsh")
        params = HnswParams(**raw)
        if layout.get("routing") == "centroid":
            layout["centroids"] = spark.read.parquet(f"{path}/centroids")
        return cls(
            spark.read.parquet(f"{path}/nodes"),
            spark.read.parquet(f"{path}/edges"),
            spark.read.parquet(f"{path}/meta"),
            params,
            **layout,
        )

    def delete(self, ids_df: DataFrame) -> "HnswIndex":
        """Tombstone the given ids (delete-log semantics; edges untouched
        — the lazy delete of hsnw_trial.py:296-305). Returns a new handle;
        tables are immutable."""
        dl = ids_df.select(F.col("id").alias("_del_id")).distinct()
        nodes = (
            self.nodes.join(F.broadcast(dl), self.nodes.id == F.col("_del_id"), "left")
            .withColumn("deleted", F.col("deleted") | F.col("_del_id").isNotNull())
            .drop("_del_id")
        )
        out = HnswIndex(nodes, self.edges, self.meta, self.params, **self._layout())
        # same meta, same entry points
        out._entries = self._entries
        return out

    def rebuild(self, num_partitions: int | None = None) -> "HnswIndex":
        """Compaction: rebuild from the alive subset only (reference
        rebuild(), hsnw_trial.py:381-389). Dispatches on placement: a
        routed-built index rebuilds through hnsw_build_routed (same
        routing family, n_planes, replicas and assign_n; centroids are
        re-trained), so appended hash-placed partitions are re-mixed into
        the routed layout and knn_hnsw_routed keeps its recall contract;
        a hash-built index rebuilds through hnsw_build."""
        # dropDuplicates on id: a replicated routed layout stores each
        # vector in several partitions; rebuilding from raw nodes rows
        # would compound the replication factor every rebuild
        alive = (
            self.nodes.filter(~F.col("deleted"))
            .select("id", "vec")
            .dropDuplicates(["id"])
        )
        nparts = int(num_partitions or self.num_partitions or self.meta.count())
        if self.routed:
            from .routed import hnsw_build_routed

            return hnsw_build_routed(
                alive, self.params, num_partitions=nparts,
                n_planes=int(self.n_planes or 8),
                replicas=self.replicas,
                routing=self.routing,
                assign_n=self.assign_n,
            )
        return hnsw_build(alive, self.params, num_partitions=nparts)

    def append(self, vectors_df: DataFrame, num_partitions: int = 1,
               id_col: str = "id", vec_col: str = "vec") -> "HnswIndex":
        """Incremental insert as append-batch: build fresh partitions for
        the new vectors only and union the tables. Existing graph is
        untouched; probe-all keeps results correct. This is the batch
        form of the reference's lock-guarded real-time insert
        (hsnw_trial.py:197-203; SURVEY.md §2 row 18) — run ``rebuild``
        periodically to re-mix partitions.

        ``num_partitions`` (the routing modulus) is deliberately NOT
        bumped: the fresh partitions are hash-placed by hnsw_build, not
        routed, so folding them into the modulus would misroute every
        routed probe (wrong pmod) AND leave the appended vectors
        unreachable by routing. They are recorded in
        ``appended_partitions`` instead; knn_hnsw_routed probes them
        unconditionally (probe-all for the appended tail), while the
        ORIGINAL build partitions keep being routed by the family that
        placed them. For a ROUTED index under continuous ingestion
        prefer ``index.routed.append_routed``: it places the batch into
        the existing layout and rebuilds only the touched partitions,
        so the routed probe bound never grows with append count."""
        # offset from the NODES table: meta lacks rows for 0/1-node
        # partitions, and a colliding partition id would merge two
        # unrelated local graphs into one probe group. Floor at the
        # routing modulus so appended ids NEVER land inside
        # [0, num_partitions) even when trailing build partitions ended
        # up empty, and tolerate an all-deleted/empty nodes table
        # (max -> NULL).
        max_part = self.nodes.agg(F.max("partition")).first()[0]
        offset = max(int(self.num_partitions or 0), (int(max_part) if max_part is not None else -1) + 1)
        fresh = hnsw_build(vectors_df, self.params, num_partitions=num_partitions,
                           id_col=id_col, vec_col=vec_col)
        shift = lambda df: df.withColumn("partition", (F.col("partition") + F.lit(offset)).cast("int"))  # noqa: E731
        layout = dict(
            self._layout(),
            appended_partitions=self.appended_partitions + [offset + i for i in range(num_partitions)],
        )
        return HnswIndex(
            self.nodes.unionByName(shift(fresh.nodes)),
            self.edges.unionByName(shift(fresh.edges)),
            self.meta.unionByName(shift(fresh.meta)),
            self.params,
            **layout,
        )


def load_or_build(
    spark: SparkSession,
    path: str,
    vectors_df: DataFrame,
    params: HnswParams,
    num_partitions: int = 8,
) -> HnswIndex:
    """Reuse a persisted index if present, else build and save — the
    reference's try-load / except-build caching pattern (CIFAR notebook
    cell 5). Builds only when ``path`` does not exist: a saved index that
    fails to load raises, and is never overwritten by a fresh build."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(jpath):
        hnsw_build(vectors_df, params, num_partitions=num_partitions).save(path)
    return HnswIndex.load(spark, path)


def hnsw_build(
    vectors_df: DataFrame,
    params: HnswParams,
    num_partitions: int = 8,
    id_col: str = "id",
    vec_col: str = "vec",
) -> HnswIndex:
    """Batch-build a partitioned HNSW index: one hash shuffle assigns
    rows to partitions, then ``build_graphs`` builds each partition's
    graph."""
    src = vectors_df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<float>").alias("vec"),
        # hash the caller's raw id column, not the cast long: hash(int)
        # differs from hash(long), and partitions must not move
        (F.pmod(F.hash(F.col(id_col)), F.lit(num_partitions))).alias("partition"),
    )
    nodes, edges, meta, kernel_out = build_graphs(src, params)
    idx = HnswIndex(nodes, edges, meta, params, num_partitions=num_partitions)
    idx.kernel_out = kernel_out
    return idx


def build_graphs(
    src: DataFrame, params: HnswParams
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The partition build kernel, shared by every build path: ``src``
    holds the placed rows (id, vec, partition), and each partition's
    local graph is built by a single Arrow exchange + numpy build
    inside ``applyInPandas``. Levels derive from global ids
    (order-independent), so the result is deterministic under any
    cluster layout.

    Returns (nodes, edges, meta, kernel_out). The kernel output is
    persisted — edges and meta both derive from it, and at scale you'd
    rather not run the build twice — and returned so the caller can
    release exactly that cache entry."""

    def build_partition(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["partition"].iloc[0])
        idx = LocalHNSW(params)
        idx.add_batch(pdf["id"].to_numpy(dtype=np.int64), np.array(list(pdf["vec"]), dtype=np.float32))
        layer, s, t = idx.edges()
        return pd.DataFrame(
            {
                "partition": np.full(len(layer), part, dtype=np.int32),
                "layer": layer,
                "src": s,
                "dst": t,
                "entry_point": np.full(len(layer), idx.ids[idx.entry_point], dtype=np.int64),
                "max_layer": np.full(len(layer), idx.max_layer, dtype=np.int32),
            }
        )

    kernel_out = src.groupBy("partition").applyInPandas(
        build_partition, EDGES_SCHEMA + ", entry_point long, max_layer int"
    ).transform(persist_tracked)
    edges = kernel_out.select("partition", "layer", "src", "dst")
    meta = kernel_out.groupBy("partition").agg(
        F.first("entry_point").alias("entry_point"),
        F.first("max_layer").alias("max_layer"),
        F.countDistinct("src").alias("n_nodes"),
    )
    nodes = src.select(
        "partition",
        "id",
        "vec",
        _level_expr(F.col("id"), params).alias("level"),
        F.lit(False).alias("deleted"),
    )
    return nodes, edges, meta, kernel_out


def _level_expr(id_col, params: HnswParams):
    """Level as a pandas UDF batch (exact same splitmix64 draw as the
    kernel)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def lvl(ids: pd.Series) -> pd.Series:
        from .local_hnsw import level_for_id

        return ids.map(lambda i: level_for_id(int(i), params.mL, params.seed)).astype("int32")

    return lvl(id_col)


def hnsw_stats(index: "HnswIndex") -> DataFrame:
    """Index observability: per-layer structure metrics across all
    partitions — node count, edge count, mean/max out-degree, and the
    degree-cap ceiling in force (max_m0 on layer 0, M above). One
    narrow agg over the edges table joined with a per-layer node count;
    this is the health check an operator runs after build/append/rebuild
    (degree-cap violations or empty layers indicate a broken kernel,
    and a shrinking top layer after appends signals rebuild time —
    observability the reference lacks entirely, its graph being opaque
    in-process lists, hsnw_trial.py:105)."""
    p = index.params
    deg = (
        index.edges.groupBy("layer", "src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
    )
    per_layer = deg.groupBy("layer").agg(
        F.count(F.lit(1)).alias("n_nodes_linked"),
        F.sum("out_deg").alias("n_edges"),
        F.max("out_deg").alias("max_out_degree"),
        (F.sum("out_deg").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_out_degree"
        ),
    )
    alive = index.nodes.filter(~F.col("deleted"))
    layer_nodes = (
        alive.select(F.explode(F.sequence(F.lit(0), F.col("level"))).alias("layer"))
        .groupBy("layer")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    cap = F.when(F.col("layer") == 0, F.lit(p.max_m0)).otherwise(F.lit(p.M))
    return (
        layer_nodes.join(per_layer, "layer", "left")
        .fillna(0, subset=["n_nodes_linked", "n_edges", "max_out_degree"])
        .withColumn("degree_cap", cap)
        .orderBy("layer")
    )


def hnsw_invariants(index: "HnswIndex") -> DataFrame:
    """Structural invariants of a built index as ONE hash-checkable row:
    the graph internals are not SQL-derivable, but their REQUIRED
    properties are constants an exact oracle can pin — a broken build
    kernel flips a zero and fails the hash. Columns:

    - ``n_nodes``: alive node count (equals the input corpus size for a
      fresh build — the only data-derived column);
    - ``degree_cap_violations``: (layer, src) groups whose out-degree
      exceeds max_m0 (layer 0) / M (above) — the reference's degree-cap
      prune contract (hsnw_trial.py:289-307);
    - ``dangling_edges``: edges whose dst is not a node id (tombstoned
      nodes keep their edges BY DESIGN, so deleted dsts are not
      dangling — only ids absent from the nodes table entirely);
    - ``self_loops``: src == dst edges (never emitted by the kernel);
    - ``edges_above_top_level``: edges on a layer above every node's
      level (layer assignment must respect the level draw).
    """
    p = index.params
    cap = F.when(F.col("layer") == 0, F.lit(p.max_m0)).otherwise(F.lit(p.M))
    viol = (
        index.edges.groupBy("layer", "src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .filter(F.col("out_deg") > cap)
        .agg(F.count(F.lit(1)).alias("degree_cap_violations"))
    )
    node_ids = index.nodes.select(F.col("id").alias("dst"))
    dangling = (
        index.edges.select("dst")
        .join(node_ids, "dst", "left_anti")
        .agg(F.count(F.lit(1)).alias("dangling_edges"))
    )
    loops = index.edges.filter(F.col("src") == F.col("dst")).agg(
        F.count(F.lit(1)).alias("self_loops")
    )
    max_level = index.nodes.agg(F.max("level").alias("_ml"))
    above = (
        index.edges.crossJoin(F.broadcast(max_level))
        .filter(F.col("layer") > F.col("_ml"))
        .agg(F.count(F.lit(1)).alias("edges_above_top_level"))
    )
    alive = index.nodes.filter(~F.col("deleted")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    return (
        alive.crossJoin(F.broadcast(viol))
        .crossJoin(F.broadcast(dangling))
        .crossJoin(F.broadcast(loops))
        .crossJoin(F.broadcast(above))
    )
