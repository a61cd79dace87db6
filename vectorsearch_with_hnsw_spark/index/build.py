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

Index artifact = two Parquet-backed tables + a params JSON sidecar (the
columnar analog of the reference's vectors.npy / graph.json / meta.json,
hsnw_trial.py:310-342):

  nodes(partition, id, vec, level, deleted)
  edges(partition, layer, src, dst)

The reference stores entry_point / max_level because it inserts one point
at a time. Here each partition graph is one ``add_batch`` over id-sorted
rows, so its entry point is always the lowest id of its highest level
(``LocalHNSW.from_tables`` takes it from the node rows a probe already
reads), and ``HnswIndex.meta`` is a view derived from nodes and edges,
not stored.

A built handle holds nodes and edges as filter + projection views of ONE
persisted build-kernel output (``build_graphs``: node and edge rows of
each partition, written by the kernel that built its graph) — the
in-memory index object of the reference (vectors, levels and graph
together, hsnw_trial.py:197-265). Levels are drawn once, by the kernel,
and a probe reads the index from that output, never from the build's
source. A loaded handle reads the same views from Parquet.

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

# the build kernel's output: node and edge rows in one frame, each kind
# filling only its own columns (level / layer non-NULL)
KERNEL_SCHEMA = "partition int, id long, vec array<float>, level int, layer int, src long, dst long"
# the placement record of an index (HnswIndex constructor arguments);
# all but centroids travel in the saved params JSON
_LAYOUT = ("num_partitions", "appended_partitions", "assign_n", "centroids")


class HnswIndex:
    """Handle to the nodes and edges tables + params + the placement
    layout; ``meta`` is a view derived from the two tables.

    ``num_partitions`` records the BUILD's partition count: the hash
    modulus of a hash-placed index, the P that sets a routed index's
    default probe budget. A handle without one (``None``) takes
    ``max(partition) + 1`` of its nodes table (``_partition_count``).
    ``append`` NEVER bumps it: appended partitions are hash-placed, not
    centroid cells, so they live outside the routing space and are
    tracked in ``appended_partitions`` — the routed probe adds them to
    every query's candidate set (probe-all for the appended tail,
    routed for the original build)."""

    def __init__(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        params: HnswParams,
        num_partitions: int | None = None,
        appended_partitions: list[int] | None = None,
        assign_n: int = 2,
        centroids: DataFrame | None = None,
    ):
        self.nodes = nodes
        self.edges = edges
        self.params = params
        self.num_partitions = num_partitions
        self.appended_partitions = list(appended_partitions or [])
        # placement of the build partitions: the trained cell centroids
        # (bounded P-row table) of a routed index (hnsw_build_routed),
        # None for hash placement (hnsw_build). rebuild() dispatches on
        # this so a routed index stays routed across compactions;
        # knn_hnsw_routed refuses hash-placed indexes (routing over hash
        # placement silently collapses recall — most true neighbors live
        # in un-probed partitions). assign_n is the multi-assignment
        # factor: a routed index's nodes hold assign_n rows per id.
        self.assign_n = int(assign_n)
        self.centroids = centroids
        # the persisted build-kernel output, the storage of a built
        # handle: nodes/edges are filter + projection views of it
        # (unpersisting those is a no-op). Set by every build path and
        # handed on by delete/append; exposed so callers (bench,
        # repeated rebuilds) can release exactly this cache entry. After
        # its unpersist a probe recomputes the kernel once per side of
        # its cogroup, from the build's source. None on a loaded handle.
        self.kernel_out: DataFrame | None = None
        # (centroid matrix, cell ids) probe-side cache of a routed
        # handle, filled by index.routed
        self._centroids_np = None

    @property
    def routed(self) -> bool:
        return self.centroids is not None

    @property
    def meta(self) -> DataFrame:
        """``(partition, entry_point, max_layer, n_nodes)`` of each
        partition with edges, derived from nodes and edges when read:
        the entry point is the lowest id of the highest level (the
        build's entry, and the probe's), ``n_nodes`` the distinct edge
        sources. A read-only view for callers; no build, probe, save or
        load path reads it."""
        top = self.nodes.groupBy("partition").agg(
            F.min(F.struct((-F.col("level")).alias("neg_level"), "id")).alias("_top")
        )
        linked = self.edges.groupBy("partition").agg(F.countDistinct("src").alias("n_nodes"))
        return top.join(linked, "partition").select(
            "partition",
            F.col("_top.id").alias("entry_point"),
            (-F.col("_top.neg_level")).alias("max_layer"),
            "n_nodes",
        )

    def _partition_count(self) -> int:
        """The build's partition count: the recorded modulus, else the
        nodes table's ``max(partition) + 1`` (one job, on a handle
        without a recorded modulus only)."""
        if self.num_partitions is not None:
            return int(self.num_partitions)
        return self.nodes.agg(F.coalesce(F.max("partition"), F.lit(-1))).first()[0] + 1

    def _layout(self) -> dict:
        """The placement state every derived handle carries over. Losing
        one field is silent: without its centroids a routed layout
        rebuilds hash-placed, and without appended_partitions a routed
        probe never visits the appended tail — so delete/append/
        append_routed pass all of it."""
        return {key: getattr(self, key) for key in _LAYOUT}

    def save(self, path: str) -> None:
        """Persist as Parquet tables + params sidecar (logical equivalent
        of the reference save(), hsnw_trial.py:310-342). nodes/edges are
        laid out partitionBy(partition): a probe of one index partition
        reads exactly one directory (partition pruning)."""
        self.nodes.write.mode("overwrite").partitionBy("partition").parquet(f"{path}/nodes")
        self.edges.write.mode("overwrite").partitionBy("partition").parquet(f"{path}/edges")
        spark = self.nodes.sparkSession
        payload = dict(asdict(self.params))
        if self.num_partitions is not None:
            payload["num_partitions"] = self.num_partitions
        if self.appended_partitions:
            payload["appended_partitions"] = self.appended_partitions
        if self.routed:
            # "routing" stays in the record: earlier readers take
            # routed: true without it for the removed LSH routing
            payload.update(routed=True, routing="centroid", assign_n=self.assign_n)
            self.centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        params_df = spark.createDataFrame([(json.dumps(payload),)], "params_json string")
        params_df.coalesce(1).write.mode("overwrite").json(f"{path}/params")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "HnswIndex":
        """Re-open a persisted index (reference load(), hsnw_trial.py:
        344-376, including params defaulting via HnswParams defaults).
        Refuses an LSH-routed index (``routing: "lsh"``, or ``routed:
        true`` with no ``routing`` key, the form saved before the
        routing family was recorded): LSH routing is gone. A ``meta/``
        table that earlier versions saved is not read."""
        raw = json.loads(spark.read.json(f"{path}/params").first()["params_json"])
        layout = {key: raw.pop(key) for key in _LAYOUT if key in raw}
        # keys of the removed LSH routing, which earlier versions wrote for
        # every routed index, centroid-routed ones included
        for key in ("n_planes", "replicas"):
            raw.pop(key, None)
        if raw.pop("routed", False):
            routing = raw.pop("routing", "lsh")
            if routing != "centroid":
                raise ValueError(
                    f"index at {path} is {routing!r}-routed, a routing that no longer "
                    "exists; rebuild the index with hnsw_build_routed"
                )
            layout["centroids"] = spark.read.parquet(f"{path}/centroids")
        params = HnswParams(**raw)
        return cls(
            spark.read.parquet(f"{path}/nodes"),
            spark.read.parquet(f"{path}/edges"),
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
        out = HnswIndex(nodes, self.edges, self.params, **self._layout())
        # same storage
        out.kernel_out = self.kernel_out
        return out

    def rebuild(self, num_partitions: int | None = None) -> "HnswIndex":
        """Compaction: rebuild from the alive subset only (reference
        rebuild(), hsnw_trial.py:381-389). Dispatches on placement: a
        routed-built index rebuilds through hnsw_build_routed (same
        assign_n; centroids are re-trained), so appended hash-placed
        partitions are re-mixed into the routed layout and
        knn_hnsw_routed keeps its recall contract; a hash-built index
        rebuilds through hnsw_build."""
        # dropDuplicates on id: a replicated routed layout stores each
        # vector in several partitions; rebuilding from raw nodes rows
        # would compound the replication factor every rebuild
        alive = (
            self.nodes.filter(~F.col("deleted"))
            .select("id", "vec")
            .dropDuplicates(["id"])
        )
        nparts = int(num_partitions or self._partition_count())
        if self.routed:
            from .routed import hnsw_build_routed

            return hnsw_build_routed(alive, self.params, num_partitions=nparts, assign_n=self.assign_n)
        return hnsw_build(alive, self.params, num_partitions=nparts)

    def append(self, vectors_df: DataFrame, num_partitions: int = 1,
               id_col: str = "id", vec_col: str = "vec") -> "HnswIndex":
        """Incremental insert as append-batch: build fresh partitions for
        the new vectors only and union the tables. Existing graph is
        untouched; probe-all keeps results correct. This is the batch
        form of the reference's lock-guarded real-time insert
        (hsnw_trial.py:197-203; SURVEY.md §2 row 18) — run ``rebuild``
        periodically to re-mix partitions.

        ``num_partitions`` (the build's partition count) is deliberately
        NOT bumped: the fresh partitions are hash-placed by hnsw_build,
        not centroid cells, so routing cannot reach them. They are
        recorded in ``appended_partitions`` instead; knn_hnsw_routed
        probes them unconditionally (probe-all for the appended tail),
        while the ORIGINAL build partitions keep being routed by their
        centroids. For a ROUTED index under continuous ingestion
        prefer ``index.routed.append_routed``: it places the batch into
        the existing layout and rebuilds only the touched partitions,
        so the routed probe bound never grows with append count."""
        # the offset comes from the layout record, not from the nodes
        # table: an appended partition that holds no rows has no nodes
        # row, and a colliding partition id would merge two unrelated
        # local graphs into one probe group. Floor at the routing
        # modulus so appended ids NEVER land inside [0, num_partitions)
        # even when trailing build partitions ended up empty. Only a
        # handle with no recorded modulus reads the nodes table.
        offset = max([self._partition_count()] + [p + 1 for p in self.appended_partitions])
        fresh = hnsw_build(vectors_df, self.params, num_partitions=num_partitions,
                           id_col=id_col, vec_col=vec_col)
        shift = lambda df: df.withColumn("partition", (F.col("partition") + F.lit(offset)).cast("int"))  # noqa: E731
        layout = dict(
            self._layout(),
            appended_partitions=self.appended_partitions + [offset + i for i in range(num_partitions)],
        )
        out = HnswIndex(
            self.nodes.unionByName(shift(fresh.nodes)),
            self.edges.unionByName(shift(fresh.edges)),
            self.params,
            **layout,
        )
        # the appended vectors' storage; the base partitions keep theirs
        out.kernel_out = fresh.kernel_out
        return out


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
    graph. Ids must be unique: hash placement puts every copy of an id
    in one partition, whose kernel then raises."""
    src = vectors_df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<float>").alias("vec"),
        # hash the caller's raw id column, not the cast long: hash(int)
        # differs from hash(long), and partitions must not move
        (F.pmod(F.hash(F.col(id_col)), F.lit(num_partitions))).alias("partition"),
    )
    nodes, edges, kernel_out = build_graphs(src, params)
    idx = HnswIndex(nodes, edges, params, num_partitions=num_partitions)
    idx.kernel_out = kernel_out
    return idx


def build_graphs(src: DataFrame, params: HnswParams) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The partition build kernel, shared by every build path: ``src``
    holds the placed rows (id, vec, partition), and each partition's
    local graph is built by a single Arrow exchange + numpy build
    inside ``applyInPandas``. Neither the levels nor the edges depend
    on the cluster layout: levels derive from global ids, and
    ``LocalHNSW.add_batch`` numbers a partition's rows in id order
    itself, so insert order and distance ties follow ids, not the order
    the grouped shuffle delivers rows in.

    The kernel writes the whole index once, as one frame of two row
    kinds (``KERNEL_SCHEMA``): a node row (id, vec, level) per input
    row, in the kernel's (id) order, with the vectors it was given and
    the levels it drew, and an
    edge row (layer, src, dst) per graph edge. That output is persisted
    and is the index's storage: nodes and edges are filter + projection
    views of it, so a probe of a fresh handle neither re-scans ``src``
    nor recomputes levels. The graph's entry point is not written: it is
    the lowest id of the highest level, which a probe reads off the
    node rows.

    Returns (nodes, edges, kernel_out); ``kernel_out`` is returned
    so the caller can release exactly that cache entry. After its
    ``unpersist`` every view recomputes the kernel from ``src`` — a
    probe then runs it once per side of its cogroup."""

    def build_partition(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = LocalHNSW(params)
        idx.add_batch(pdf["id"].to_numpy(dtype=np.int64), np.array(list(pdf["vec"]), dtype=np.float32))
        layer, s, t = idx.edges()
        # row kinds in order: nodes [0, e0), edges [e0, end)
        e0, end = len(idx.ids), len(idx.ids) + len(layer)

        def rows(start: int, values, dtype="Int64") -> pd.Series:
            # one row kind's column; NULL on the other kinds' rows
            return pd.Series(values, index=np.arange(start, start + len(values)), dtype=dtype)

        return pd.DataFrame({
            "partition": np.full(end, pdf["partition"].iloc[0], dtype=np.int32),
            "id": rows(0, idx.ids), "level": rows(0, idx.levels, "Int32"),
            # Python float lists: pyspark's Arrow converter runs list()
            # over each cell, which on a numpy array yields numpy scalars
            "vec": idx.vectors.tolist() + [None] * (end - e0),
            "layer": rows(e0, layer, "Int32"), "src": rows(e0, s), "dst": rows(e0, t),
        })

    kernel_out = src.groupBy("partition").applyInPandas(
        build_partition, KERNEL_SCHEMA
    ).transform(persist_tracked)

    def view(kind: str, *cols) -> DataFrame:
        # each view's own partition attribute: two views of one kernel
        # output meet in probe cogroups and append_routed's anti-joins,
        # where a shared attribute fails Spark's self-join check
        return kernel_out.filter(F.col(kind).isNotNull()).select(F.col("partition").alias("partition"), *cols)

    nodes = view("level", "id", "vec", "level", F.lit(False).alias("deleted"))
    edges = view("layer", "layer", "src", "dst")
    return nodes, edges, kernel_out


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
