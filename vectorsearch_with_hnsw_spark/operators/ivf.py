"""IVF (inverted-file) ANN: coarse quantization -> probe nearest cells.

The scale path for similarity search when a graph index is overkill:
assign every vector to its nearest centroid (one narrow shuffle-free
projection), store bucketed by cell, and at query time scan only the
``n_probe`` nearest cells. Complements LSH (operators/ann.py) and HNSW
(index/): three ANN strategies with one result contract.

Centroids here are class means (the embeddings table has labels — the
deterministic, SQL-checkable choice); at deploy time the same operator
takes k-means centroids without any other change. Everything is exact
double-fold arithmetic, so the DuckDB oracle verifies the whole ANN
pipeline bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist_tracked, release
from ..functions.vector import cosine_distance, to_vec
from .artifact import QuantizedIndex
from .knn import topk_per_group


def label_centroids(emb: DataFrame, dim: int) -> DataFrame:
    """Per-label mean vectors via posexplode + groupBy — partial (map-side)
    aggregation; never collects vectors to the driver."""
    per_dim = emb.select(
        F.col("label").alias("cell"),
        F.posexplode(to_vec("embedding")).alias("pos", "x"),
    )
    return (
        per_dim.groupBy("cell", "pos")
        # decimal-exact sum: result independent of aggregation order
        # (double sums are not), then one double division
        .agg(
            F.sum(F.col("x").cast("decimal(28,10)")).cast("double").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("c", F.col("s") / F.col("n"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cell", F.transform("pc", lambda s: s["c"]).alias("centroid"))
    )


def assign_cells(vectors: DataFrame, centroids: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid set,
    rank by cosine distance, keep rank 1. Ties break by cell id.

    This is the declarative REFERENCE shape. The hot paths
    (ivf_knn_cosine, ivf_sq8_knn) use :func:`assign_frozen_cosine`,
    which computes the identical assignment in one map-only Arrow pass
    with no corpus-wide window shuffle; their bit-equality is pinned by
    tests/test_retrieval.py::test_assign_frozen_cosine_matches_declarative."""
    cand = vectors.crossJoin(F.broadcast(centroids)).select(
        "*", cosine_distance(to_vec(vec_col), F.col("centroid")).alias("cdist")
    )
    w = Window.partitionBy("vec_id").orderBy("cdist", "cell")
    return (
        cand.withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") == 1)
        .drop("crnk", "cdist", "centroid")
    )


def _l2sq(a, b):
    """Squared L2 as the canonical sequential fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _d2_matrix(X, Cv):
    """(N, k) squared distances accumulated one dimension at a time in
    ascending order — the sequential fold (:func:`_l2sq`), elementwise.
    Shared by the kmeans assign/step kernels and the fused IVF-PQ
    assign+encode kernel (pq.py), so every consumer of a trained
    centroid table assigns cells BIT-IDENTICALLY."""
    import numpy as np

    acc = np.zeros((len(X), len(Cv)), dtype=np.float64)
    for d0 in range(Cv.shape[1]):
        diff = X[:, d0][:, None] - Cv[:, d0][None, :]
        acc += diff * diff
    return acc


def _cos_matrix(Q, X, qn2):
    """(nq, nc) cosine distances by the canonical sequential folds —
    bit-identical to the ``cosine_distance`` HOF (dot and both squared
    norms accumulate one dimension at a time in ascending order;
    multiplication is IEEE-commutative so operand orientation is
    irrelevant; ``denom == 0`` maps to 1.0, the same convention
    ``knn_exact_fast`` uses for the expression's zero-norm guard)."""
    import numpy as np

    nq = len(Q)
    nc = len(X)
    dot = np.zeros((nq, nc), dtype=np.float64)
    x2 = np.zeros(nc, dtype=np.float64)
    for d0 in range(X.shape[1] if nc else 0):
        xd = X[:, d0]
        dot += Q[:, d0][:, None] * xd[None, :]
        x2 += xd * xd
    denom = np.sqrt(x2)[None, :] * np.sqrt(qn2)[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        out = 1.0 - dot / denom
    return np.where(denom == 0.0, 1.0, out)


def _seq_norm2(Q):
    """Per-row |q|^2 by the ascending sequential fold (l2_norm's
    order)."""
    import numpy as np

    qn2 = np.zeros(len(Q), dtype=np.float64)
    for d0 in range(Q.shape[1] if len(Q) else 0):
        qn2 += Q[:, d0] * Q[:, d0]
    return qn2


def _collect_cents(cents_df: DataFrame):
    """The (cell, centroid) table as cell-ascending driver arrays — the
    exact bounded collection :func:`_kernel_probe` performs, shared so a
    one-shot operator aggregates its centroids ONCE per action. Before
    round 15, ivf_knn_cosine/ivf_sq8_knn collected the centroids eagerly
    for probe selection AND re-embedded the same corpus-wide aggregation
    lazily under a broadcast in the assignment side, so every action
    paid the aggregation twice (the r14 ivf_ann_cosine regression)."""
    import numpy as np

    crows = cents_df.orderBy("cell").collect()
    cells_np = np.array([r["cell"] for r in crows], dtype=np.int64)
    C = np.array([r["centroid"] for r in crows], dtype=np.float64)
    return cells_np, C


def assign_frozen_cosine(
    vectors: DataFrame,
    cells_np,
    C,
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-cell COSINE assignment under a frozen, pre-collected
    centroid table, as an Arrow kernel — BIT-IDENTICAL to the
    crossJoin + ``cosine_distance`` + ``row_number().over(cdist, cell)``
    shape (:func:`assign_cells`) it replaces on the hot paths:
    :func:`_cos_matrix` mirrors the ``cosine_distance`` fold (per-dim
    ascending accumulation, zero-norm -> 1.0), and argmin over
    cell-ascending columns returns the FIRST minimum — exactly the
    (cdist, cell) window tie order. The old shape evaluated an
    interpreted HOF n_cells times per corpus row and then paid a
    corpus-wide ``Window.partitionBy(vec_id)`` shuffle; this is one
    map-only pass, and all input columns pass through (so the caller's
    downstream — probe join elimination, SQ8 encode — keeps working on
    the same relation). ``cell`` (int) is appended."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas batch type)
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..sources.tables import spread

    out_schema = StructType(
        list(vectors.schema.fields) + [StructField("cell", IntegerType())]
    )
    cells32 = np.asarray(cells_np, dtype=np.int32)
    bc = vectors.sparkSession.sparkContext.broadcast((cells32, C))

    def kern(batches):
        cells_v, Cv = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            D = _cos_matrix(X, Cv, _seq_norm2(X))
            pdf = pdf.copy()
            pdf["cell"] = cells_v[D.argmin(axis=1)]
            yield pdf

    return spread(vectors).mapInPandas(kern, out_schema)


def _kernel_probe(
    pts: DataFrame | None,
    cand_assigned: DataFrame,
    queries_df: DataFrame,
    cents_df: DataFrame,
    k: int,
    n_probe: int,
    metric: str = "l2",
    probe_metric: str = "l2sq",
) -> DataFrame:
    """The shared IVF probe: driver-side probe selection over the
    bounded |queries| x n_cells grid (``probe_metric`` = 'l2sq' mirrors
    the ``_l2sq`` fold; 'cosine' mirrors ``cosine_distance``; stable
    argsort over cell-ascending columns = the (d, cell) window
    tie-break), a STATIC ``cell IN (...)`` filter pruning
    ``cand_assigned`` (vec_id, cell), ONE join to the raw vectors, and
    per-cell fold-exact scoring of every candidate inside an Arrow
    kernel — no candidate x query pair rows ever materialize, no
    interpreted per-row HOF. Distances are bit-identical to the
    ``l2_distance`` / ``cosine_distance`` expressions they replace
    (per-dim ascending accumulation; correctly-rounded sqrt/div).

    Query-batch bound: queries and centroids are COLLECTED and
    broadcast (the ``knn_exact_fast`` contract — right for bounded
    probe batches, wrong for query tables that rival the corpus; those
    use the declarative ``knn_exact`` family)."""
    import numpy as np
    import pandas as pd

    if metric not in ("l2", "cosine"):
        raise ValueError(f"Unknown metric '{metric}'")
    spark = queries_df.sparkSession
    out_schema = "query_id long, neighbor_id long, dist double"
    qrows = queries_df.select(
        "query_id", to_vec("query_vec").alias("_q")
    ).collect()
    if not qrows:
        return spark.createDataFrame([], out_schema + ", rnk int")
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["_q"] for r in qrows], dtype=np.float64)
    if isinstance(cents_df, tuple):
        # pre-collected (cells_np, C) from _collect_cents: the caller
        # already paid the (bounded) centroid collection once — don't
        # run the aggregation a second time
        cells_np, C = cents_df
    else:
        cells_np, C = _collect_cents(cents_df)
    qn2 = _seq_norm2(Q)
    if probe_metric == "l2sq":
        D = _d2_matrix(Q, C)
    else:
        D = _cos_matrix(Q, C, qn2)
    npb = min(n_probe, len(cells_np))
    cell_queries: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        for j in np.argsort(D[qi], kind="stable")[:npb]:
            cell_queries.setdefault(int(cells_np[j]), []).append(qi)
    probed = sorted(cell_queries)
    bc = spark.sparkContext.broadcast(
        (qids, Q, qn2, {c: np.array(v, dtype=np.int64) for c, v in cell_queries.items()})
    )

    # a vector-bearing assignment (save(..., emb) wrote 'v' next to the
    # routing) probes with ZERO joins: the pruned-cell files carry the
    # vectors, so a probe of a 100 TB at-rest index never scans the
    # corpus table at all; otherwise one vec_id join supplies them
    pruned = cand_assigned.filter(F.col("cell").isin(probed))
    if "v" in cand_assigned.columns:
        cand = pruned.select("vec_id", "cell", "v")
    else:
        if pts is None:
            raise ValueError(
                "probe needs raw vectors: pass emb, or save the index "
                "with store-vectors (save(path, emb))"
            )
        cand = pruned.join(pts, "vec_id").select("vec_id", "cell", "v")

    def kern(batches):
        qids_b, Qb, qn2_b, cellmap = bc.value
        empty_f8 = np.empty(0, dtype=np.float64)
        empty_i8 = np.empty(0, dtype=np.int64)
        best_d: dict = {}
        best_i: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells_arr = pdf["cell"].to_numpy(dtype=np.int64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["v"]), dtype=np.float64)
            for cell in np.unique(cells_arr):
                qsel = cellmap.get(int(cell))
                if qsel is None:
                    continue
                mask = cells_arr == cell
                sub = mat[mask]
                sids = ids[mask]
                if metric == "l2":
                    Dm = np.sqrt(_d2_matrix(Qb[qsel], sub))
                else:
                    Dm = _cos_matrix(Qb[qsel], sub, qn2_b[qsel])
                for row, qi in enumerate(qsel):
                    d = np.concatenate([best_d.get(qi, empty_f8), Dm[row]])
                    i = np.concatenate([best_i.get(qi, empty_i8), sids])
                    keep = np.lexsort((i, d))[:k]
                    best_d[qi] = d[keep]
                    best_i[qi] = i[keep]
        order = sorted(best_i)
        yield pd.DataFrame(
            {
                "query_id": np.repeat(
                    qids_b[order] if order else empty_i8,
                    [len(best_i[qi]) for qi in order],
                ),
                "neighbor_id": (
                    np.concatenate([best_i[qi] for qi in order])
                    if order
                    else empty_i8
                ),
                "dist": (
                    np.concatenate([best_d[qi] for qi in order])
                    if order
                    else empty_f8
                ),
            }
        )

    partial = cand.mapInPandas(kern, out_schema)
    return topk_per_group(partial, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "dist", "rnk"
    )


def assign_frozen(pts: DataFrame, cent_df: DataFrame) -> DataFrame:
    """Nearest-cell assignment of (vec_id, v) rows under a FROZEN
    centroid table, as an Arrow kernel — BIT-IDENTICAL to the
    crossJoin + _l2sq + row_number form it replaced: d2 accumulates
    (x_d - c_d)^2 one dimension at a time in ascending order (the
    sequential fold), and argmin over cell-ascending columns returns
    the first minimum — exactly the (d2, cell) window order. The old
    shape evaluated an interpreted HOF fold N*k times per pass (the
    dominant cost of every kmeans consumer at sf0.1); centroids are a
    bounded k-row collect + broadcast. Serves both the Lloyd loop
    (via ``_kmeans_impl``'s bound closure) and ``IvfIndex.add``
    (incremental insert: assign new vectors without retraining)."""
    import numpy as np
    import pandas as pd

    from ..sources.tables import spread

    rows = cent_df.orderBy("cell").collect()
    cells_np = np.array([r["cell"] for r in rows], dtype=np.int32)
    C = np.array([r["centroid"] for r in rows], dtype=np.float64)
    bc = pts.sparkSession.sparkContext.broadcast((cells_np, C))

    def kern(batches):
        cells_v, Cv = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["v"]), dtype=np.float64)
            acc = _d2_matrix(X, Cv)
            j = acc.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": cells_v[j],
                    "d2": acc[np.arange(len(X)), j],
                }
            )

    return spread(pts).mapInPandas(kern, "vec_id long, cell int, d2 double")


def _kmeans_impl(
    emb: DataFrame,
    dim: int,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
):
    """Shared Lloyd machinery: returns (pts, trained_centroids, assign)."""
    import numpy as np
    import pandas as pd

    from ..sources.tables import spread

    # cache the training input across Lloyd passes (the MLlib KMeans
    # idiom — it warns when its input is uncached): each iteration
    # re-reads pts, so persist makes iters passes one scan + cache
    # hits. The cache is RELEASED once training finishes (below):
    # post-training consumers read pts at most twice per action, and a
    # 100 TB corpus should be re-scanned from columnar parquet, not
    # pinned in executor memory — so the persist's scope is exactly the
    # Lloyd loop, and a long-lived session accumulates nothing.
    pts = emb.select(F.col(id_col).alias("vec_id"), to_vec(vec_col).alias("v")).transform(persist_tracked)
    w_init = Window.orderBy("vec_id")
    cents = (
        pts.orderBy("vec_id")
        .limit(k)
        .withColumn("cell", (F.row_number().over(w_init) - F.lit(1)).cast("int"))
        .select("cell", F.col("v").alias("centroid"))
    )

    def assign(cent_df: DataFrame) -> DataFrame:
        return assign_frozen(pts, cent_df)

    def step(cells_np: "np.ndarray", C: "np.ndarray"):
        """One Lloyd iteration, assign + update FUSED into a single
        single-stage Arrow pass: the kernel assigns each batch row to
        its nearest cell and emits per-(cell, dim) PARTIAL fixed-point
        sums — k*dim rows per task, a bounded artifact the driver
        reduces (the same contract as collecting centroids/codebooks;
        at 10k tasks and k=256/dim=1k it is still < a few hundred MB,
        and iterations drop from 4-stage shuffle jobs to one map +
        bounded collect). Bit-identical to the old (assigned JOIN pts)
        + posexplode + two-level groupBy form (and to the DuckDB
        oracle's _kmeans_ctes): per-dim sums are fixed-point longs
        (floor(x * 1e7), exactly the old fx expression), integer
        addition is order-independent, and the mean is the same
        long->double cast followed by the same two double divisions."""
        bc = pts.sparkSession.sparkContext.broadcast((cells_np, C))

        def kern(batches):
            cells_v, Cv = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(list(pdf["v"]), dtype=np.float64)
                # fixed-point floor(x*1e7)->int64 is undefined for
                # NaN/inf and would corrupt centroid sums SILENTLY —
                # fail loudly instead (generated testdata is finite;
                # user-supplied vectors may not be)
                if not np.isfinite(X).all():
                    raise ValueError(
                        "kmeans: non-finite vector element (NaN/inf) in "
                        "training input; fixed-point centroid sums require "
                        "finite values"
                    )
                cells = cells_v[_d2_matrix(X, Cv).argmin(axis=1)]
                FX = np.floor(X * 10000000.0).astype(np.int64)
                out_c, out_s, out_n = [], [], []
                for cell in np.unique(cells):
                    mask = cells == cell
                    out_c.append(int(cell))
                    out_s.append(FX[mask].sum(axis=0))
                    out_n.append(int(mask.sum()))
                yield pd.DataFrame({"cell": out_c, "s": out_s, "n": out_n})

        parts = spread(pts).mapInPandas(kern, "cell int, s array<long>, n long").collect()
        sums: dict[int, "np.ndarray"] = {}
        counts: dict[int, int] = {}
        for r in parts:
            c = r["cell"]
            s = np.array(r["s"], dtype=np.int64)
            if c in sums:
                sums[c] += s
                counts[c] += r["n"]
            else:
                sums[c] = s
                counts[c] = r["n"]
        if not sums:  # empty corpus: empty-in/empty-out totality
            return np.array([], dtype=np.int32), np.zeros((0, C.shape[-1] if C.ndim == 2 else 0))
        new_cells = np.array(sorted(sums), dtype=np.int32)
        new_C = np.stack(
            [
                sums[c].astype(np.float64) / np.float64(counts[c]) / np.float64(1e7)
                for c in new_cells
            ]
        )
        return new_cells, new_C

    if iters > 0:
        # init = the k lowest-id vectors (exactly the old limit(k) frame)
        init = pts.orderBy("vec_id").limit(k).collect()
        cells_np = np.arange(len(init), dtype=np.int32)
        C = np.array([r["v"] for r in init], dtype=np.float64)
        for _ in range(iters):
            cells_np, C = step(cells_np, C)
        cents = pts.sparkSession.createDataFrame(
            [(int(c), [float(x) for x in C[i]]) for i, c in enumerate(cells_np)],
            "cell int, centroid array<double>",
        )
    # training is the only multi-pass consumer — drop the cache now so
    # one-shot callers leak nothing into Spark's CacheManager; the
    # returned pts/assign plans recompute from the source scan
    release(pts)
    return pts, cents, assign


def kmeans_train(
    emb: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained centroids (cell, centroid) after ``iters`` Lloyd rounds —
    the artifact IVF routing and PQ codebooks consume."""
    _, cents, _ = _kmeans_impl(emb, dim, k, iters, id_col, vec_col)
    return cents


def kmeans_fit(
    emb: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the vector column, fully declarative and
    deterministic: init = the k lowest-id vectors (cell = rank in that
    order), then ``iters`` rounds of (exact-double argmin assignment ->
    decimal-exact mean update), then a final assignment against the
    trained centroids. Returns (vec_id, cell, d2).

    This is the trainer the IVF/PQ operators take centroids from at
    deploy time (label_centroids is the zero-training stand-in). Every
    round is one broadcast-centroid map pass + one posexplode mean agg —
    no driver-side vectors, so it scales to any row count; cost is
    linear in iters and the unrolled plan stays small because k and
    iters are small constants. A cell that loses all members drops out
    (standard Lloyd behavior), identically in the SQL oracle.

    Means are FIXED-POINT at 1e-7 resolution (floor(v*1e7) integer
    sums, same rationale as q_embedding_dim_stats): exact-integer
    accumulation is order-independent AND engine-identical, where a
    double->DECIMAL cast diverges from DuckDB by 1 unit on rounding
    ties (observed at sf0.01: one of 512 per-dim sums, half-up vs
    half-even)."""
    _, cents, assign = _kmeans_impl(emb, dim, k, iters, id_col, vec_col)
    return assign(cents)


def ivf_kmeans_knn(
    emb: DataFrame,
    queries_df: DataFrame,
    dim: int,
    k: int = 10,
    n_probe: int = 5,
    n_cells: int = 8,
    iters: int = 2,
) -> DataFrame:
    """IVF probe routed by TRAINED centroids — the closed loop of
    kmeans_train -> cell assignment -> bucket-pruned L2 search that
    label_centroids only stands in for. Probe selection and candidate
    scoring run through the shared :func:`_kernel_probe` (driver-side
    centroid ranking by the trainer's squared-L2 fold, static cell
    pruning, per-cell Arrow GEMM scoring — distances bit-identical to
    the ``l2_distance`` fold); same plan as ``IvfIndex.search``, which
    is this operator's at-rest twin (their bit-equality is pinned by
    the save/load round-trip test)."""
    pts, cents, assign = _kmeans_impl(emb, dim, n_cells, iters, "vec_id", "embedding")
    assigned = assign(cents).select("vec_id", "cell")
    return _kernel_probe(
        pts, assigned, queries_df, cents, k, n_probe,
        metric="l2", probe_metric="l2sq",
    )


def ivf_knn_cosine(
    emb: DataFrame,
    queries_df: DataFrame,
    dim: int,
    k: int = 10,
    n_probe: int = 5,
) -> DataFrame:
    """IVF probe: queries pick their n_probe nearest cells, candidates are
    the vectors assigned to those cells, ranked by exact cosine distance
    — probe selection and scoring via the shared :func:`_kernel_probe`
    (cosine mode: the driver-side centroid ranking and the per-cell
    Arrow scoring both mirror ``cosine_distance``'s fold sequence
    bit-for-bit, zero-norm guard included).

    Plan shape at 100 TB: the index side is bucketed by cell (written
    once), the probed-cell set prunes the scan statically, and only
    partitions x queries x k partial rows reach the final window — no
    all-pairs anything, no candidate x query pair rows.

    One-shot shape (round 15): the centroid aggregation is collected
    ONCE (a bounded n_cells x dim artifact) and shared by the
    assignment kernel and the probe — the pre-r15 form embedded the
    same aggregation lazily under the assignment's broadcast AND
    collected it eagerly for probe selection, so every action ran the
    corpus-wide aggregation twice. Assignment is the map-only
    :func:`assign_frozen_cosine` kernel (no crossJoin x n_cells HOF, no
    corpus-wide vec_id window shuffle), and because the kernel passes
    the vectors through, the probe takes the zero-join path: one corpus
    scan for the aggregation, one for assign+score, and the only
    shuffle left is the final bounded top-k."""
    cells_np, C = _collect_cents(label_centroids(emb, dim))
    pts = emb.select("vec_id", to_vec("embedding").alias("v"))
    assigned = assign_frozen_cosine(pts, cells_np, C, vec_col="v")
    return _kernel_probe(
        None, assigned, queries_df, (cells_np, C), k, n_probe,
        metric="cosine", probe_metric="cosine",
    )


class IvfIndex(QuantizedIndex):
    """Persisted IVF artifact: trained centroids + cell assignments as
    parquet tables (``centroids/`` (cell, centroid, dim, tombs) and
    ``assigned/`` (vec_id[, v]) PARTITIONED BY CELL) — the index
    artifact next to HnswIndex and PqIndex (all mirroring the
    reference's save/load contract, hsnw_trial.py:310-376). Training
    (Lloyd rounds) is the expensive step; a loaded index probes with
    zero retraining, and a probe reads only n_probe/n_cells of the
    assignment files (tests/test_plans.py pins the static partition
    filter on the scan). The lifecycle is the shared
    :class:`~.artifact.QuantizedIndex` one; ``add`` routes new vectors
    to the FROZEN centroids through the build's ``assign_frozen``
    kernel.

    ``save(path, emb)`` stores the raw vectors NEXT TO the routing
    (``v`` inside each cell partition): a probe of the loaded index
    then runs with ZERO joins — the pruned-cell files carry
    everything, and the corpus table is never scanned at probe time.
    That is the right at-rest layout at 100 TB (the routing-only form
    must re-join the corpus on vec_id per probe batch); the
    routing-only form remains for callers who co-locate vectors
    elsewhere."""

    ROWS = "assigned"
    CODE = ()
    META = "centroids"
    PARTITION = ("cell",)

    def __init__(
        self,
        centroids: DataFrame,
        assigned: DataFrame,
        dim: int,
        tombstones: DataFrame | None = None,
    ):
        super().__init__(assigned, dim, tombstones)  # assigned: (vec_id, cell)
        self.centroids = centroids  # (cell, centroid)

    @classmethod
    def build(
        cls,
        emb: DataFrame,
        dim: int,
        n_cells: int = 8,
        iters: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        _, cents, assign = _kmeans_impl(emb, dim, n_cells, iters, id_col, vec_col)
        return cls(cents, assign(cents).select("vec_id", "cell"), dim)

    def _encode(self, pts: DataFrame) -> DataFrame:
        return assign_frozen(pts, self.centroids).select("vec_id", "cell")

    @classmethod
    def _restore(cls, parts, meta, tombs):
        return cls(parts["centroids"], parts["assigned"], int(meta["dim"]), tombstones=tombs)

    def search(
        self,
        emb: DataFrame | None,
        queries_df: DataFrame,
        k: int = 10,
        n_probe: int = 5,
        predicate=None,
        allowed_ids: DataFrame | None = None,
    ) -> DataFrame:
        """Bucket-pruned exact-L2 probe over the stored assignment.
        ``emb`` supplies the raw vectors for a routing-only index; a
        vector-bearing index (``save(path, emb)``) ignores it and
        probes with zero joins (``emb=None`` is then valid).

        Probe selection runs DRIVER-SIDE over the bounded
        |queries| x n_cells grid using the shared :func:`_d2_matrix`
        sequential fold — bit-identical to the ``_l2sq`` +
        ``row_number().over(d2, cell)`` window it replaces (per-dim
        ascending accumulation; stable argsort over cell-ascending
        columns = the (d2, cell) tie order). The probed-cell set then
        prunes the at-rest assignment with a STATIC ``IN`` filter on
        the partition column (plain partition pruning — stronger than
        the dynamic-pruning subquery the old probe-join shape relied
        on), and candidates flow through ONE join (vec_id -> vector)
        into an Arrow kernel that scores each candidate against the
        queries probing its cell via ``sqrt(_d2_matrix(...))`` — the
        same blocked per-dim kernel kmeans assignment uses, and
        bit-identical to the ``l2_distance`` HOF fold it replaces
        ((x-y)^2 == (y-x)^2 bitwise; same ascending accumulation;
        sqrt correctly rounded). The old shape materialized
        |candidates| x |queries-probing-cell| pair ROWS, each paying an
        interpreted per-row fold plus a second shuffle join — measured
        24x slower than brute-force GEMM kNN at 128k vectors; this
        shape keeps candidates as single rows and only
        partitions x queries x k partial-top-k rows reach the final
        window.

        ``predicate`` / ``allowed_ids``: the pre-filter contract,
        applied after the tombstone skip and before the probe (see
        ``QuantizedIndex._live``). Exact-k whenever the permitted rows
        inside the probed cells have >= k members."""
        pts = (
            emb.select("vec_id", to_vec("embedding").alias("v"))
            if emb is not None
            else None
        )
        return _kernel_probe(
            pts, self._live(predicate, allowed_ids), queries_df, self.centroids,
            k, n_probe, metric="l2", probe_metric="l2sq",
        )


def embedding_outliers(
    emb: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 2,
    top_n: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Off-distribution embedding detection: the ``top_n`` vectors
    farthest from their assigned k-means centroid, per cell — the
    curation signal that surfaces corrupt embeddings, mislabeled rows,
    and genuinely novel content in one pass (training-data pipelines
    route these to review or re-embedding rather than silently training
    on them).

    Rank-based rather than z-scored on purpose: the per-row squared
    distance is one deterministic fold, but a corpus-wide float moment
    sum would be partial-order-dependent — ranking keeps the whole op
    engine-exact (same rationale as the integer moments in
    doc_len_outliers). Cost on top of kmeans_fit is one per-cell top-N
    window over the assignment relation."""
    from pyspark.sql.window import Window

    fit = kmeans_fit(emb, dim=dim, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("cell").orderBy(F.col("d2").desc(), F.col(id_col))
    return (
        fit.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= top_n)
        .select("cell", "rnk", id_col, "d2")
    )
