"""Approximate nearest neighbor via random-hyperplane LSH — the fully
declarative ANN path (the HNSW index in ``index/`` is the graph path).

Hyperplanes are generated by exact integer arithmetic (LCG on the
(plane, dim) index), so the whole operator — bucketing included — is
deterministic and SQL-expressible: the DuckDB oracle can verify the ANN
result bit-for-bit, not just its shape.

Scale shape: bucketing is a narrow projection; the candidate join is an
equi-join on (bucket), so the index side shuffles once by bucket and can
be written bucketed-by-bucket for reuse. No cross join anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_distance, dot, fold_dot, to_vec
from .knn import _exact_rerank, topk_per_group

_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Full-avalanche 64-bit mixer (splitmix64 finalizer, public domain
    constants). Python ints, driver-side only — planes are tiny constant
    arrays embedded as literals in the plan."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def hyperplane_ints(plane: int, dim: int) -> list[int]:
    """Integer components of a deterministic pseudo-random hyperplane in
    [-1000, 1000]. splitmix64 of the flat (plane, j) index — a previous
    LCG-as-hash variant produced lattice-correlated planes whose sign
    bits disagreed in clusters, silently destroying banded-LSH recall
    (a 0.89-cosine pair missed 8/8 two-plane bands). Integer-valued
    doubles keep every engine bit-identical."""
    return [(_splitmix64(plane * dim + j) % 2001) - 1000 for j in range(dim)]


def hyperplane(plane: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane as a literal array<double>
    (constant-folded by Catalyst; no per-row recomputation). Built as
    ONE list literal — the element-wise F.array(*[F.lit(v), ...]) form
    costs dim py4j round-trips per plane, which at 6 bands x 8 planes
    x 2 relation sides dominated wall-clock (~9 s of pure driver-side
    plan construction for a 100-row result)."""
    return F.lit([float(v) for v in hyperplane_ints(plane, dim)])


def band_bucket_sql(vec_sql: str, dim: int, band: int, planes_per_band: int) -> str:
    """Spark-SQL text of one band's bucket over a SQL vector expression —
    the same fold shape as the Column form (and as the DuckDB oracle's
    _band_bucket_sql), assembled as ONE driver-side string. The Column
    form costs O(dim * planes) py4j round-trips to construct (a 6x8-band
    plan measured ~9 s of pure driver-side plan building before any task
    ran); this form costs one round-trip per band."""
    acc = "0"
    for p in range(band * planes_per_band, (band + 1) * planes_per_band):
        plane = ",".join(f"{float(v)!r}D" for v in hyperplane_ints(p, dim))
        dotp = (
            f"aggregate(zip_with({vec_sql}, array({plane}), (x, y) -> x * y), "
            "0.0D, (acc, v) -> acc + v)"
        )
        bit = f"(CASE WHEN {dotp} >= 0.0D THEN 1 ELSE 0 END)"
        acc = f"({acc} * 2 + {bit})"
    return acc


def sign_signature_sql(vec_sql: str, n_planes_total: int, dim: int) -> str:
    """SQL for the array of sign bits of <vec, plane_p> over planes
    0..n_planes_total-1 — ONE expression with one lambda, so the
    analyzer resolves one HOF instead of one per plane (the per-plane
    form left ~2.4 s of JVM analysis in a 48-plane plan). Banded
    buckets then fold slices of this signature (bands_from_signature_sql);
    bit values and fold order are identical to lsh_band_bucket."""
    planes = ", ".join(
        "array(" + ",".join(f"{float(v)!r}D" for v in hyperplane_ints(p, dim)) + ")"
        for p in range(n_planes_total)
    )
    return (
        f"transform(array({planes}), pl -> CASE WHEN aggregate(zip_with({vec_sql}, pl, "
        "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v) >= 0.0D THEN 1 ELSE 0 END)"
    )


def bands_from_signature_sql(sig_sql: str, n_bands: int, planes_per_band: int) -> str:
    """SQL for array<struct<band int, bucket int>> from a sign signature:
    band b's bucket = the same left-to-right acc*2+bit fold as
    lsh_band_bucket over signature slice [b*ppb, (b+1)*ppb)."""
    return (
        f"transform(sequence(0, {n_bands - 1}), b -> struct(CAST(b AS INT) AS band, "
        f"aggregate(slice({sig_sql}, b * {planes_per_band} + 1, {planes_per_band}), "
        "0, (acc, bit) -> acc * 2 + bit) AS bucket))"
    )


def banded_bucket_frame(
    df: DataFrame, vec_sql: str, dim: int, n_bands: int, planes_per_band: int
):
    """Attach exploded (band, bucket) columns to ``df`` — the shared
    banded-LSH projection (lsh_knn_cosine, the near-dup blockers). Two
    driver-side expressions total; the signature is materialized as a
    column so each band folds the already-computed bits instead of
    re-scoring its planes."""
    sig = sign_signature_sql(vec_sql, n_bands * planes_per_band, dim)
    bands = bands_from_signature_sql("_sig", n_bands, planes_per_band)
    return (
        df.withColumn("_sig", F.expr(sig))
        .withColumn("_bb", F.explode(F.expr(bands)))
        .select(*df.columns, F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))
    )


def hyperplane_matrix(n_planes: int, dim: int):
    """The first ``n_planes`` hyperplanes as an (n_planes, dim) float64
    matrix — the numpy twin of ``hyperplane_ints`` for Arrow-side
    bucketing. Integer-valued doubles, identical to the SQL literals."""
    import numpy as np

    return np.array(
        [hyperplane_ints(p, dim) for p in range(n_planes)], dtype=np.float64
    )


def numpy_band_buckets(mat, n_bands: int, planes_per_band: int):
    """(n, n_bands) int32 band buckets for unit vectors ``mat``
    ((n, dim) float64) — BIT-IDENTICAL to the SQL path
    (sign_signature_sql + bands_from_signature_sql): the plane dot is
    ``functions.vector.fold_dot``, the numpy twin of the sequential
    ``aggregate(zip_with(...))`` fold, so sign bits agree even for dots
    within one ulp of zero; the bucket fold is integer ``acc*2+bit``.
    Parity is pinned by test_lsh_numpy_parity."""
    import numpy as np

    n, dim = mat.shape
    planes = hyperplane_matrix(n_bands * planes_per_band, dim)
    acc = fold_dot(mat[:, None], planes)  # (n, planes)
    bits = (acc >= 0.0).astype(np.int64)
    buckets = np.zeros((n, n_bands), dtype=np.int64)
    for b in range(n_bands):
        v = np.zeros(n, dtype=np.int64)
        for i in range(planes_per_band):
            v = v * 2 + bits[:, b * planes_per_band + i]
        buckets[:, b] = v
    return buckets.astype(np.int32)


def banded_bucket_frame_fast(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_bands: int,
    planes_per_band: int,
    bands_col: str = "bands",
):
    """Arrow-vectorized twin of ``banded_bucket_frame``: same exploded
    (band, bucket) rows (bit-identical buckets — see numpy_band_buckets)
    plus a ``bands_col`` array carrying EVERY band's bucket on each row,
    which lets a downstream pair kernel emit each candidate pair in its
    FIRST shared band only (no cross-band duplicate work, no
    dropDuplicates shuffle).

    Why it exists: the SQL signature is a higher-order fold that Spark
    interprets per element — O(rows * planes * dim) interpreted lambda
    calls (~3.5s of the old 8.9s semantic_neardup at sf0.1 for 5k docs *
    32 planes). One numpy pass through the same arithmetic is ~100x
    cheaper and scales the same way per partition."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(bands_col, ArrayType(IntegerType()))]
    )

    def add_buckets(it):
        for pdf in it:
            if len(pdf) == 0:
                pdf[bands_col] = pd.Series([], dtype=object)
                yield pdf
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            buckets = numpy_band_buckets(mat, n_bands, planes_per_band)
            pdf = pdf.copy()
            pdf[bands_col] = list(buckets)
            yield pdf

    withb = df.mapInPandas(add_buckets, out_schema)
    return withb.select(
        *df.columns,
        bands_col,
        F.posexplode(F.col(bands_col)).alias("band", "bucket"),
    )


def numpy_band_bits(mat, n_bands: int, planes_per_band: int, extra_bits: int):
    """Per-band bucket bits at three refinement depths for unit vectors
    ``mat`` ((n, dim) float64): ``(b0, e1, e2)`` — each an (n, n_bands)
    int64 array. ``b0`` packs the band's base ``planes_per_band`` sign
    bits (identical to numpy_band_buckets); ``e1``/``e2`` pack
    ``extra_bits`` FRESH planes per band per level (plane layout:
    depth-0 planes first, then level 1's n_bands*extra_bits, then
    level 2's), used to sub-split data-dependent hot blocks. Same
    ``fold_dot`` plane dots as numpy_band_buckets, so sign bits
    are bit-identical to the SQL oracle's plane dots."""
    import numpy as np

    n, dim = mat.shape
    base = n_bands * planes_per_band
    total = base + 2 * n_bands * extra_bits
    planes = hyperplane_matrix(total, dim)
    acc = fold_dot(mat[:, None], planes)
    bits = (acc >= 0.0).astype(np.int64)

    def fold(lo: int, width: int) -> "np.ndarray":
        v = np.zeros(n, dtype=np.int64)
        for i in range(width):
            v = v * 2 + bits[:, lo + i]
        return v

    b0 = np.stack([fold(b * planes_per_band, planes_per_band) for b in range(n_bands)], axis=1)
    e1 = np.stack([fold(base + b * extra_bits, extra_bits) for b in range(n_bands)], axis=1)
    e2 = np.stack(
        [fold(base + n_bands * extra_bits + b * extra_bits, extra_bits) for b in range(n_bands)],
        axis=1,
    )
    return b0, e1, e2


def banded_bucket_frame_split(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_bands: int,
    planes_per_band: int,
    extra_bits: int = 6,
    cap: int = 256,
    bands_col: str = "bands",
):
    """Size-bounded variant of ``banded_bucket_frame_fast``: any
    (band, bucket) block holding more than ``cap`` rows is sub-split by
    ``extra_bits`` fresh hyperplane sign bits, recursively for two
    levels — so no data-dependent degenerate block survives (a
    duplicate-heavy corpus otherwise puts ~half its docs in ONE 4-bit
    bucket and the within-block pair kernel is O(block^2); measured
    44% of a 50k-doc corpus, 145M candidate pairs). After two 6-bit
    levels a hot block shrinks ~4096x; a block can stay above ``cap``
    only when its members agree on every extra sign bit — i.e. a
    mutually near-identical cluster (byte-identical vectors in the
    limit) — and such blocks are genuine near-dup cliques whose
    quadratic pair set IS the operator's output (measured: the 10-copy
    SCALECHECK corpus goes from one 22,010-doc block, 44% of the
    corpus, to a largest block of 2,930 docs whose members share all
    16 bits; callers salt the in-block kernel work).

    Bucket values are LENGTH-TAGGED ints (prefix_bits + 1 << nbits) so
    blocks frozen at different depths can never alias: depth 0 in
    [2^p, 2^p + 2^p), depth 1 in [2^(p+e), ...), depth 2 in
    [2^(p+2e), ...).

    Scale shape: ONE tiny aggregation job decides hotness — counts per
    (band, b0, e1), bounded by the BUCKET SPACE (n_bands * 2^(p+e)
    rows, 8192 at the 8x4+6 defaults) regardless of corpus size, safe
    to collect; the final buckets are then a map-side function of each
    row's own bits, so splitting adds NO full-data shuffle. Recall
    note: pairs inside hot blocks must also agree on the extra planes —
    near-exact duplicates (cos >= 0.98) keep >99% per-band collision,
    while threshold-grade pairs (cos ~ 0.8) inside a hot block are
    attenuated; that is the standard LSH cost of bounding block size,
    and the SQL oracle mirrors the split exactly (count-based CASE over
    the same integer bit folds) so blocking parity stays bit-exact."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    bit_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("_b0", ArrayType(IntegerType())),
            StructField("_e1", ArrayType(IntegerType())),
            StructField("_e2", ArrayType(IntegerType())),
        ]
    )

    def add_bits(it):
        for pdf in it:
            pdf = pdf.copy()
            if len(pdf) == 0:
                for c in ("_b0", "_e1", "_e2"):
                    pdf[c] = pd.Series([], dtype=object)
                yield pdf
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            b0, e1, e2 = numpy_band_bits(mat, n_bands, planes_per_band, extra_bits)
            pdf["_b0"] = list(b0.astype(np.int32))
            pdf["_e1"] = list(e1.astype(np.int32))
            pdf["_e2"] = list(e2.astype(np.int32))
            yield pdf

    withbits = df.mapInPandas(add_bits, bit_schema)

    # hotness census: counts per (band, b0, e1) — cardinality bounded by
    # the bucket space (n_bands * 2^(ppb+extra_bits)), NOT the corpus,
    # so the collect is driver-safe by construction
    zipped = withbits.select(
        F.posexplode(F.arrays_zip("_b0", "_e1")).alias("band", "_z")
    ).select("band", F.col("_z._b0").alias("b0"), F.col("_z._e1").alias("e1"))
    census = zipped.groupBy("band", "b0", "e1").count().collect()
    n0: dict = {}
    for r in census:
        key = (r["band"], r["b0"])
        n0[key] = n0.get(key, 0) + r["count"]
    hot0 = {k for k, v in n0.items() if v > cap}
    hot1 = {
        (r["band"], r["b0"], r["e1"])
        for r in census
        if (r["band"], r["b0"]) in hot0 and r["count"] > cap
    }

    out_cols = list(df.columns)
    t0_tag = 1 << planes_per_band
    t1_tag = 1 << (planes_per_band + extra_bits)
    t2_tag = 1 << (planes_per_band + 2 * extra_bits)
    eb = extra_bits

    out_schema = StructType(
        list(df.schema.fields) + [StructField(bands_col, ArrayType(IntegerType()))]
    )

    def finalize(it):
        for pdf in it:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[bands_col] = pd.Series([], dtype=object)
                yield pdf[out_cols + [bands_col]]
                continue
            b0 = np.array(list(pdf["_b0"]), dtype=np.int64)
            e1 = np.array(list(pdf["_e1"]), dtype=np.int64)
            e2 = np.array(list(pdf["_e2"]), dtype=np.int64)
            final = b0 + t0_tag
            for b in range(n_bands):
                hb0 = np.array([(b, int(v)) in hot0 for v in b0[:, b]])
                if not hb0.any():
                    continue
                p1 = (b0[:, b] << eb) | e1[:, b]
                hb1 = np.array(
                    [(b, int(v0), int(v1)) in hot1 for v0, v1 in zip(b0[:, b], e1[:, b])]
                )
                final[hb0, b] = p1[hb0] + t1_tag
                deep = hb0 & hb1
                final[deep, b] = ((p1[deep] << eb) | e2[deep, b]) + t2_tag
            pdf[bands_col] = list(final.astype(np.int32))
            yield pdf[out_cols + [bands_col]]

    final_df = withbits.mapInPandas(finalize, out_schema)
    return final_df.select(
        *df.columns,
        bands_col,
        F.posexplode(F.col(bands_col)).alias("band", "bucket"),
    )


def lsh_band_bucket(vec: Column | str, dim: int, band: int, planes_per_band: int) -> Column:
    """Bucket id for one LSH band: sign bits of planes
    [band*planes_per_band, (band+1)*planes_per_band). Bands use disjoint
    hyperplanes, so an OR over bands is the standard banded-LSH recall
    amplifier (same pigeonhole shape as MinHash banding). Deterministic
    integer-seeded planes keep it SQL-expressible for the oracle.

    Pass ``vec`` as a SQL expression STRING (a column name works) to get
    the single-round-trip construction (band_bucket_sql); a Column
    argument takes the legacy per-literal path — identical results,
    much slower to build for many bands."""
    if isinstance(vec, str):
        return F.expr(band_bucket_sql(vec, dim, band, planes_per_band))
    acc = F.lit(0)
    for p in range(band * planes_per_band, (band + 1) * planes_per_band):
        bit = F.when(dot(vec, hyperplane(p, dim)) >= F.lit(0.0), F.lit(1)).otherwise(F.lit(0))
        acc = acc * F.lit(2) + bit
    return acc


def lsh_knn_cosine(
    index_df: DataFrame,
    queries_df: DataFrame,
    dim: int,
    k: int = 10,
    n_bands: int = 16,
    planes_per_band: int = 8,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Banded multi-probe LSH top-k: candidates = vectors sharing ANY
    band's bucket (or a bucket within Hamming ``probe_radius`` of it),
    ranked by exact cosine.

    The 16-band default clears recall@10 >= 0.7 on the worst-case
    gaussian testdata at both tested corpus sizes (0.84 at 500 vectors
    — the similarity_search default-recall fence in tests/test_knn.py;
    the registry's oracle row keeps its own explicit 8-band setting,
    0.73 at sf0.1 for half the scan cost).

    Banding (n_bands independent sign-hash tables over disjoint
    hyperplanes) is the standard OR-amplification: a true neighbor is
    missed only if it misses EVERY band, so recall composes as
    1-(1-p_band)^bands. Multi-probe (flipping <= radius sign bits of the
    query's bucket per band) recovers near-hyperplane misses within a
    band. Measured on the (near-uniform gaussian, worst-case for LSH)
    sf0.1 testdata: recall@10 0.10 for 1 band/no probes, 0.61 for
    6 bands/radius 1, 0.73 for this 8-band/radius-1 default — at ~28%
    of the corpus scanned per query (clustered real embeddings
    concentrate much faster; radius 2 reaches 0.95 but touches most of
    the corpus, wrong at scale); the graph index (index/) remains the
    high-recall path.

    Scale shape: the index side computes its n_bands (band, bucket) keys
    in ONE map-side pass and shuffles once on that key — at rest the
    corpus can be written bucketed by (band, bucket) so a probe is a
    partition-pruned read. Only the broadcast query side fans out
    (n_bands * (1 + ppb) probe rows per query at radius 1). A pair
    matching several bands is deduplicated before ranking (distinct on
    the deterministic (query, neighbor, dist) triple), so the final
    top-k window sees each candidate once."""
    # index side: the Arrow-vectorized signature (bit-identical buckets
    # — see numpy_band_buckets); the SQL fold costs O(N*planes*dim)
    # interpreted lambda calls over the whole corpus. The query side
    # keeps the SQL form: it is a bounded batch and its buckets feed
    # the Column-level multi-probe flip expressions below.
    base = banded_bucket_frame_fast(
        index_df.select(
            F.col(id_col).alias("neighbor_id"), to_vec(vec_col).alias("_vec")
        ),
        "_vec",
        dim,
        n_bands,
        planes_per_band,
    ).drop("bands")

    def probes_of(bucket: Column) -> Column:
        flips = [bucket]
        if probe_radius >= 1:
            flips += [bucket.bitwiseXOR(F.lit(1 << i)) for i in range(planes_per_band)]
        if probe_radius >= 2:
            flips += [
                bucket.bitwiseXOR(F.lit((1 << i) | (1 << j)))
                for i in range(planes_per_band)
                for j in range(i + 1, planes_per_band)
            ]
        return F.array(*flips)

    q = banded_bucket_frame(
        queries_df.select(
            F.col(query_id_col).alias("query_id"), to_vec(query_vec_col).alias("_qvec")
        ),
        "_qvec",
        dim,
        n_bands,
        planes_per_band,
    ).select(
        "query_id",
        "_qvec",
        "band",
        F.explode(probes_of(F.col("bucket"))).alias("bucket"),
    )
    cand = (
        base.join(F.broadcast(q), ["band", "bucket"])
        .select(
            "query_id",
            "neighbor_id",
            cosine_distance(F.col("_vec"), F.col("_qvec")).alias("dist"),
        )
        .distinct()  # same pair via several bands: dist is deterministic, one row survives
    )
    return topk_per_group(cand, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "dist", "rnk"
    )


def sign_code(vec: Column, dim: int) -> Column:
    """Pack the per-dimension sign bits into an array of BIGINT blocks,
    32 bits per block: bit j of block b is set iff component b*32+j is
    >= 0. Pure integer arithmetic (the bit value is 2^j, exact as a
    power-of-two double cast to long) — no shift past bit 31, so no
    signed-overflow semantics to reconcile across engines. The
    1-bit-per-dimension binarization is the extreme end of the
    quantization ladder (PQ stores 8 bytes per 64 dims WITH a codebook;
    this stores 8 bytes with none)."""
    n_blocks = (dim + 31) // 32

    def block(b: Column) -> Column:
        sub = F.slice(vec, b * F.lit(32) + F.lit(1), F.lit(32))
        bits = F.transform(
            sub,
            lambda x, j: F.when(
                x >= F.lit(0.0), F.pow(F.lit(2.0), j).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)

    return F.transform(F.sequence(F.lit(0), F.lit(n_blocks - 1)), block)


def binary_sign_knn(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k by Hamming distance between sign codes — binary sketch ANN.
    Entirely integer arithmetic (pack -> XOR -> popcount), so the
    oracle matches exactly with zero float considerations. At scale the
    index side is 1 bit per dimension: a 100 TB float32 corpus becomes
    a ~3 TB code column that scans at memory bandwidth.

    The raw Hamming ranking is a SHORTLIST GENERATOR, not a final
    ranking (recall@10 0.21 on the 64-d gaussian testdata) — deploy it
    through ``binary_refine_knn`` (similarity_search's "binary"), which
    re-ranks the shortlist exactly."""
    base = emb.select(
        F.col(id_col).alias("neighbor_id"),
        sign_code(to_vec(vec_col), dim).alias("_bc"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            sign_code(to_vec(query_vec_col), dim).alias("_qc"),
        )
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("_bc"),
            F.col("_qc"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    pairs = base.crossJoin(q).select(
        "query_id", "neighbor_id", hamming.alias("hamming")
    )
    return topk_per_group(pairs, ["query_id"], ["hamming", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "hamming", "rnk"
    )


def binary_refine_knn(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    expand: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Binary shortlist + exact re-rank: Hamming distance over the
    1-bit/dim sign codes picks an ``expand * k`` shortlist, then only
    those rows are rescored with the exact cosine fold — how binary
    sketches are actually deployed (the sketch scan touches 1/256 of
    the bytes; the full-precision reads are a per-query constant).
    Recall recovers from the raw sketch's 0.21 to 0.91 @10 at the
    expand=40 default on the gaussian testdata (0.62 at 10x; 1 bit/dim
    of 64 random dims is a coarse sketch — real embeddings with
    anisotropic energy refine far better at smaller expands)."""
    shortlist = binary_sign_knn(
        emb,
        queries,
        dim,
        k=expand * k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(
        shortlist, emb, queries, k, id_col, vec_col, "cosine",
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )


def matryoshka_knn(
    base: DataFrame,
    queries: DataFrame,
    dim: int,
    prefix_dim: int | None = None,
    refine: int | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL) prefix search: coarse-rank every candidate by
    squared L2 over the FIRST ``prefix_dim`` dimensions, keep the top
    ``refine`` per query, then rescore only those by exact full-dim L2
    — the truncate-then-refine scheme used with matryoshka-trained
    embedding models, where prefixes of the vector are themselves valid
    embeddings.

    Defaults scale with the inputs rather than hard-coding one dim:
    ``prefix_dim = max(8, dim // 2)`` and ``refine = 20 * k`` — on the
    gaussian testdata (a fixed 16/50 measured recall@10 0.5 at dim 64;
    half-dim prefixes carry half the signal) these clear the
    similarity_search >= 0.7 default-recall fence at 0.98, matching the
    registry's tuned 32/200 oracle setting at dim=64/k=10.

    This is the dimension-reduction member of the ANN family set (SQ8
    shrinks value width, PQ shrinks to codes, this shrinks dimensions):
    the coarse pass does ``prefix_dim/dim`` of the float work, and at
    rest the prefix can be stored as its own column so the coarse scan
    reads prefix_dim/dim of the bytes (column pruning does this for
    free — the refine pass is the only reader of the full vector).
    Exact final distances: the rescore uses the same canonical fold as
    knn_exact, so rank-1 self-match at distance 0 is preserved and the
    DuckDB oracle checks both passes bit-for-bit."""
    if prefix_dim is None:
        # clamp to dim: below dim=16 the "half-dim" default would exceed
        # dim (F.slice clamps so results stay exact, but the coarse pass
        # would silently be a full-distance scan with zero savings)
        prefix_dim = min(dim, max(8, dim // 2))
    if refine is None:
        refine = 20 * k
    q = F.broadcast(
        queries.select(
            F.col("query_id"), to_vec("query_vec").alias("_qvec")
        )
    )
    b = base.select(F.col(id_col).alias("neighbor_id"), to_vec(vec_col).alias("_vec"))
    pre_d2 = F.aggregate(
        F.zip_with(
            F.slice(F.col("_vec"), 1, prefix_dim),
            F.slice(F.col("_qvec"), 1, prefix_dim),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    coarse = b.crossJoin(q).select(
        "query_id", "neighbor_id", "_vec", "_qvec", pre_d2.alias("pre_d2")
    )
    kept = topk_per_group(
        coarse, ["query_id"], ["pre_d2", "neighbor_id"], refine
    ).drop("rnk")
    full = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("_vec"), F.col("_qvec"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    rescored = kept.select("query_id", "neighbor_id", full.alias("dist"))
    return topk_per_group(rescored, ["query_id"], ["dist", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "dist", "rnk"
    )
