"""Streaming vector ingest into the HNSW index.

The reference advertises "real-time inserts", implemented as a
lock-guarded in-memory append (hsnw_trial.py:109,197-203). The Spark
analog is micro-batch append: a vector stream drains through
``foreachBatch``; each micro-batch builds fresh index partitions
(``HnswIndex.append`` — same kernel as the batch build) and the running
handle stays probeable between batches. Periodic ``rebuild`` compaction
(the reference's rebuild, hsnw_trial.py:381-389) re-mixes partitions
when the append count passes a threshold.

Scale shape: each micro-batch is one hash shuffle + embarrassingly
parallel build kernels; the existing graph is never touched, so ingest
cost is O(batch), not O(index). Probe-all keeps results correct across
the appended partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..index.build import HnswIndex, HnswParams, hnsw_build

EMBEDDINGS_SCHEMA = "vec_id long, embedding array<float>, label int"


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file-source stream over the embeddings parquet (on a
    cluster: kafka/kinesis with the same downstream plan)."""
    return (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .format("parquet")
        .load(f"{sf_dir}/embeddings.parqu*")
    )


class StreamingIndexIngest:
    """foreachBatch sink that appends each micro-batch into a running
    HnswIndex, with rebuild compaction every ``rebuild_every`` appended
    partitions.

    ``routed=True`` switches to the layout-preserving ingest: the first
    micro-batch builds a routed index (``hnsw_build_routed`` — centroid
    routing by default, centroids trained on that first batch) and
    every later batch merges through ``append_routed`` — only touched
    partitions rebuild, the routed probe bound never grows with batch
    count, and no rebuild threshold is needed (the layout does not
    degrade). Hash mode keeps the original append+rebuild cycle."""

    def __init__(
        self,
        params: HnswParams,
        partitions_per_batch: int = 4,
        rebuild_every: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        routed: bool = False,
        num_partitions: int | None = None,
    ):
        self.params = params
        self.partitions_per_batch = partitions_per_batch
        self.rebuild_every = rebuild_every
        self.id_col = id_col
        self.vec_col = vec_col
        self.routed = routed
        self.num_partitions = num_partitions or 8
        self.index: HnswIndex | None = None
        self.batches_seen = 0

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen += 1
        if self.routed:
            from ..index.routed import append_routed, hnsw_build_routed

            if self.index is None:
                self.index = hnsw_build_routed(
                    batch_df,
                    self.params,
                    num_partitions=self.num_partitions,
                    id_col=self.id_col,
                    vec_col=self.vec_col,
                )
            else:
                self.index = append_routed(
                    self.index, batch_df, id_col=self.id_col, vec_col=self.vec_col
                )
            return
        if self.index is None:
            self.index = hnsw_build(
                batch_df,
                self.params,
                num_partitions=self.partitions_per_batch,
                id_col=self.id_col,
                vec_col=self.vec_col,
            )
        else:
            self.index = self.index.append(
                batch_df,
                num_partitions=self.partitions_per_batch,
                id_col=self.id_col,
                vec_col=self.vec_col,
            )
        # from the layout, not meta.count(): that runs a job per batch
        # and misses partitions too small to have edges
        n_parts = self.index.num_partitions + len(self.index.appended_partitions)
        if n_parts >= self.rebuild_every:
            self.index = self.index.rebuild(num_partitions=self.partitions_per_batch)

    def run(self, stream_df: DataFrame, await_sec: int = 120) -> HnswIndex:
        """Drain a bounded stream (availableNow) and return the built
        index handle."""
        q = (
            stream_df.writeStream.foreachBatch(self)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(await_sec)
        if self.index is None:
            raise ValueError("stream produced no micro-batches")
        return self.index


class StreamingQuantizedIngest:
    """foreachBatch sink that grows a QUANTIZED index artifact
    (Sq8Index / PqIndex / IvfPqIndex / IvfIndex) from a vector stream:
    the FIRST micro-batch trains the quantizer (``build_fn``), every
    later batch encodes under that frozen trained state (``add``) — so
    per-batch ingest cost is O(batch), never O(index): the streaming
    cadence of the artifacts' train-once/add-many lifecycle, and the
    quantized sibling of ``StreamingIndexIngest`` (the reference's
    real-time insert, hsnw_trial.py:197-203, compressed at rest).

    Each micro-batch is eagerly ``localCheckpoint``ed before it enters
    the index lineage: a micro-batch frame is only re-computable within
    its own batch, and the running handle must outlive it. The
    checkpointed blocks hold the RAW batch (O(corpus) across a long
    run) — a long-running ingest should periodically ``save()`` the
    handle to parquet and ``load()`` it back (the at-rest re-root,
    analogous to ``rebuild_every`` above); deletes compose by calling
    ``index.delete(ids)`` between batches (a metadata-only log append).

    ``build_fn``: DataFrame -> index handle, e.g.
    ``lambda b: Sq8Index.build(b, dim=64)``. The trained state is
    whatever the first batch yields — the standard streaming-quantizer
    pattern (train on an initial sample); pass a closure over a
    preloaded artifact's ``add`` to warm-start instead."""

    def __init__(self, build_fn):
        self.build_fn = build_fn
        self.index = None
        self.batches_seen = 0

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen += 1
        if batch_df.isEmpty():
            return
        b = batch_df.localCheckpoint(eager=True)
        if self.index is None:
            self.index = self.build_fn(b)
        else:
            self.index = self.index.add(b)

    def run(self, stream_df: DataFrame, await_sec: int = 120):
        """Drain a bounded stream (availableNow) and return the grown
        index handle."""
        q = (
            stream_df.writeStream.foreachBatch(self)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(await_sec)
        if self.index is None:
            raise ValueError("stream produced no micro-batches")
        return self.index
