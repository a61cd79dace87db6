"""One lifecycle for the persisted quantized index artifacts.

``PqIndex``, ``IvfPqIndex``, ``Sq8Index`` and ``IvfIndex`` share the
reference's index lifecycle — insert, tombstone delete, rebuild and
save/load (hsnw_trial.py:197-265, 296-305, 310-389) — applied to an
at-rest rows relation: ``add`` encodes a new batch under the FROZEN
trained state and unions it (train once, add many; existing rows are
untouched), ``delete`` grows a tombstone log that probes skip,
``compact`` physically drops dead rows (a pure filter — the trained
state is frozen, so searches are bit-identical before and after), and
``save``/``load`` write the rows, the trained state and the log as
parquet tables. Every call returns a new handle; tables are immutable.

A family keeps only what differs: its trained state, its encoder
(``_encode``) and its ``search`` scoring. The class attributes below
name its at-rest layout."""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import release
from ..functions.vector import to_vec
from .knn import _exact_rerank, live_rows, merge_tombstones, prefilter_rows


class QuantizedIndex:
    ROWS = "codes"       # rows attribute (vec_id, *CODE[, v][, cell]) and its directory
    CODE = ("code",)     # code columns stored after vec_id
    META = "codebooks"   # trained-state attribute that carries dim/m/tombs at rest
    SIDECARS: dict = {}  # other trained-state attributes -> directory
    PARTITION = ()       # rows are written partitioned by these columns

    def __init__(self, rows, dim, tombstones=None, cached=None):
        setattr(self, self.ROWS, rows)
        self.dim = dim
        self.tombstones = tombstones
        # persisted build intermediates kept alive for repeated probes;
        # the owner releases them via unpersist() (or
        # cache.release_caches())
        self._cached = list(cached or [])

    @property
    def _rows(self) -> DataFrame:
        return getattr(self, self.ROWS)

    def _with(self, rows: DataFrame, tombstones: DataFrame | None):
        new = copy.copy(self)
        setattr(new, self.ROWS, rows)
        new.tombstones = tombstones
        return new

    def _encode(self, pts: DataFrame) -> DataFrame:
        """(vec_id, *CODE[, cell]) of the (vec_id, v) batch under the
        frozen trained state."""
        raise NotImplementedError

    def add(self, emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"):
        """Incremental insert: encode the new vectors with the FROZEN
        trained state and union them — bit-identical to what a build
        over the same rows with this state would store. Ids must be
        fresh: re-adding a tombstoned id does NOT clear its tombstone
        (``compact`` first to resurrect an id). A vector-bearing index
        carries the new batch's vectors into the union, so the
        corpus-free probe contract survives incremental insert."""
        pts = emb.select(F.col(id_col).alias("vec_id"), to_vec(vec_col).alias("v"))
        fresh = self._encode(pts)
        if "v" in self._rows.columns:
            fresh = fresh.join(pts, "vec_id")
        return self._with(self._rows.unionByName(fresh), self.tombstones)

    def delete(self, ids_df: DataFrame):
        """Tombstone the given ids (delete-log semantics: rows stay at
        rest, probes skip the log — hsnw_trial.py:296-305)."""
        return self._with(self._rows, merge_tombstones(self.tombstones, ids_df))

    def compact(self):
        """Physically drop tombstoned rows and clear the log — the
        reference's rebuild compaction (hsnw_trial.py:381-389) without
        retraining."""
        return self._with(live_rows(self._rows, self.tombstones), None)

    def save(self, path: str, emb: DataFrame | None = None) -> None:
        """Write the rows, the trained state and the tombstone log.

        Pass ``emb`` (vec_id, embedding) to store the raw vectors NEXT
        TO the codes (a ``v`` column in the rows files): a probe of the
        loaded index then re-ranks from its own files and never scans
        the corpus table. Parquet is columnar, so the coarse scan still
        reads only the code columns. ``emb`` must hold exactly one
        vector per stored id (tombstoned ids included — ``compact``
        first to drop them); a missing or duplicated id raises
        ``ValueError`` before anything is written. A vector-bearing
        index re-saves with its vectors."""
        rows = self._rows
        if emb is not None:
            rows = _join_vectors(rows.select("vec_id", *self.CODE, *self.PARTITION), emb)
        cols = ["vec_id", *self.CODE] + (["v"] if "v" in rows.columns else [])
        w = rows.select(*cols, *self.PARTITION).write.mode("overwrite")
        if self.PARTITION:
            w = w.partitionBy(*self.PARTITION)
        w.parquet(f"{path}/{self.ROWS}")
        for attr, sub in self.SIDECARS.items():
            getattr(self, attr).write.mode("overwrite").parquet(f"{path}/{sub}")
        meta = getattr(self, self.META).withColumn("dim", F.lit(self.dim))
        if hasattr(self, "m"):
            meta = meta.withColumn("m", F.lit(self.m))
        meta.withColumn("tombs", F.lit(self.tombstones is not None)).write.mode(
            "overwrite"
        ).parquet(f"{path}/{self.META}")
        if self.tombstones is not None:
            self.tombstones.write.mode("overwrite").parquet(f"{path}/tombstones")

    @classmethod
    def load(cls, spark, path: str):
        raw = spark.read.parquet(f"{path}/{cls.META}")
        meta = raw.first()
        tombs = (
            spark.read.parquet(f"{path}/tombstones")
            if "tombs" in raw.columns and meta["tombs"]
            else None
        )
        parts = {
            cls.ROWS: spark.read.parquet(f"{path}/{cls.ROWS}"),
            cls.META: raw.drop("dim", "m", "tombs"),
            **{a: spark.read.parquet(f"{path}/{d}") for a, d in cls.SIDECARS.items()},
        }
        return cls._restore(parts, meta, tombs)

    @classmethod
    def _restore(cls, parts: dict, meta, tombs):
        """The loaded handle from its saved frames (keyed by attribute)
        and its meta row."""
        raise NotImplementedError

    def unpersist(self) -> None:
        """Release the build-time caches this index pinned. The index
        stays usable — probes recompute from lineage; a saved-then-loaded
        index holds no caches at all."""
        for df in self._cached:
            release(df)
        self._cached = []

    def _live(self, predicate=None, allowed_ids: DataFrame | None = None) -> DataFrame:
        """The probe's rows: tombstoned ids skipped first (the
        reference's deleted-check, hsnw_trial.py:178-179), then
        ``filtered_knn``'s pre-filter contract — applied before any
        decode, so a filtered probe of the at-rest index reads only the
        permitted rows (Catalyst pushes ``predicate`` into the parquet
        scan)."""
        return prefilter_rows(
            live_rows(self._rows, self.tombstones), "vec_id", predicate, allowed_ids
        )

    def _rerank(self, shortlist, emb, queries, k, id_col, vec_col, metric="l2"):
        """The deployed refine tail: exact re-rank of the shortlist,
        from the index's own stored vectors when it is vector-bearing
        (``emb`` is then ignored and may be None)."""
        base = None
        if "v" in self._rows.columns:
            base = self._rows.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("_v"))
        return _exact_rerank(
            shortlist.select("query_id", "neighbor_id"), emb, queries, k,
            id_col, vec_col, metric, base=base,
        )


def _join_vectors(rows: DataFrame, emb: DataFrame) -> DataFrame:
    """``rows`` with a ``v`` column from ``emb`` (vec_id, embedding).
    One aggregate checks coverage before the write: every stored id
    must find exactly one vector, else ValueError — an inner join
    would silently drop ids missing from ``emb`` (e.g. rows from
    ``add()``) and duplicate rows for duplicated ids."""
    pts = emb.select("vec_id", to_vec("embedding").alias("v"))
    hits = pts.groupBy("vec_id").agg(F.count(F.lit(1)).alias("_n"))
    bad = rows.select("vec_id").join(hits, "vec_id", "left").agg(
        F.count(F.when(F.col("_n").isNull(), 1)).alias("missing"),
        F.count(F.when(F.col("_n") > 1, 1)).alias("dup"),
    ).first()
    if bad["missing"] or bad["dup"]:
        raise ValueError(
            f"save(path, emb): {bad['missing']} stored ids missing from emb, "
            f"{bad['dup']} stored ids duplicated in emb; pass exactly one "
            "vector per stored id"
        )
    return rows.join(pts, "vec_id", "left")
