"""Deduplication operators for the 100 TB training-data pipeline.

Five families, each shuffle-aware (SURVEY.md §7 P5 / north star):

- exact:      fingerprint hash -> groupBy. One shuffle on the hash.
- ngram-jaccard: inverted-index join on word shingles (never a cross
  join) -> pair co-occurrence counts -> exact Jaccard. Shuffles on the
  shingle key; hot shingles are handled by AQE skew-join at scale.
- MinHash+LSH: fixed universal-hash signatures -> band buckets ->
  bucket equi-join. All integer arithmetic, fully SQL-expressible, so
  the DuckDB oracle can verify it exactly.
- SimHash: per-bit majority vote aggregated JVM-side; near-dup pairs by
  banded Hamming join (pigeonhole: hamming<=3 over 4 bands guarantees a
  shared band).
- embedding near-dup: exact cosine pairs blocked by banded
  random-hyperplane LSH buckets over the vectors themselves
  (operators/ann.py) — no data-dependent degenerate blocks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    HASH_MOD,
    MINHASH_MOD,
    fingerprint,
    minhash_exprs,
    poly_hash,
    shingle_hash_array,
    simhash_bit_weight,
    simhash_token_hash,
    tokens,
    word_shingles,
)
from ..functions.vector import cosine_distance, fold_dot, to_vec
from ..sources import load_table, spread
from ..cache import persist_tracked

NUM_MINHASH = 8
MINHASH_BANDS = 4  # 4 bands x 2 rows
SIMHASH_BITS = 48
SIMHASH_BANDS = 4

# uncapped ngram_jaccard_pairs warns when the projected inverted-index
# self-join row count sum(df*(df-1)/2) exceeds this — an absolute row
# budget (~8 GB of join payload), because the explosion scales with
# df^2, not with the hot shingle's corpus FRACTION
_PAIR_ROW_BUDGET = 1_000_000_000


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup on a normalized-text fingerprint: keeper = min doc_id
    per group (deterministic), plus group size."""
    return (
        spread(docs).select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    |A ∩ B| from the shingle join, |A| and |B| from per-doc counts, so
    Jaccard = common / (na + nb - common) exactly. The only large shuffle
    is on the shingle key — an 8-byte two-level hash
    (shingle_hash_array), not the n-gram string, so the join exchange
    carries a fixed-width key (hash collisions merge shingles with
    probability ~1/1e9, identically in the oracle).

    ``max_df_frac`` caps hot shingles: a shingle present in D documents
    contributes D^2 rows to the self-join, so one boilerplate trigram in
    1% of a 100 TB corpus is a quadratic skewed-key explosion. Shingles
    with document frequency > floor(max_df_frac * n_docs) are dropped
    BEFORE the join (from sizes too, so Jaccard stays a true Jaccard
    over the capped sets — high-DF shingles are non-discriminative for
    thresholds like 0.2 anyway, they inflate BOTH intersection and
    union). The hot set is bounded by construction: each hot shingle
    has > max_df_frac*n rows, so there are at most
    avg_shingles_per_doc / max_df_frac of them — a broadcastable
    anti-join side at any corpus size. ``None`` (the default) disables
    the cap: capping is OPT-IN because it carries a blind spot — a
    document duplicated across more than ``max_df_frac`` of the corpus
    (the canonical mass-duplication target) has ALL its shingles
    dropped and yields zero pairs, silently. When the cap is on and
    fires, a one-line warning names how many shingles were dropped.
    Mirrored bit-for-bit in the DuckDB oracle (same floor(frac * count)
    cap, same <= keep rule).

    The shingle relation feeds four consumers (df + sizes + both join
    sides); persist it so the explode+distinct runs once — at scale
    this is the difference between one pass over the corpus and
    several.

    Precondition: ``doc_id`` must be unique in ``docs``. Per-doc set
    semantics come from map-side ``array_distinct`` over each row's own
    shingle array (no corpus-wide distinct shuffle), so duplicate
    doc_id rows would double-count df/sizes where a relation-level
    distinct would collapse them."""
    # per-doc set semantics via map-side array_distinct: (doc_id, shingle)
    # is already globally unique after the explode (doc_id is the corpus
    # key), so the corpus-sized distinct() SHUFFLE the old shape paid is
    # pure overhead — the dedup happens inside each row's array instead
    # (guide §2.4: a distinct on data that is already unique)
    sh = (
        spread(docs)
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingle_hash_array(F.col("text"), n))).alias(
                "shingle"
            ),
        )
        .transform(persist_tracked)
    )
    # eager: consumers below — avoid concurrent cache-population races.
    # The materialized row count also gates the uncapped-path census for
    # free (worst-case pair bound needs no extra job).
    n_sh_rows = sh.count()
    if max_df_frac is not None:
        import math

        # cap denominator: docs.count() — ADJUDICATED round 12 against
        # "derive it from the persisted shingle cache": a distinct-count
        # over the cached shingle relation measured 1.3 s at sf0.1 vs
        # 0.14 s for this count, because count() over a columnar scan
        # projects zero columns and reads only footer row counts — it
        # is NOT a second corpus scan at 100 TB, while the cache-side
        # distinct is a real shuffle agg. (Callers passing a *derived*
        # docs plan pay that plan once here; pre-count and persist if
        # that matters.)
        cap = int(math.floor(max_df_frac * docs.count()))
        # the hot set is bounded by construction (each hot shingle has
        # > cap rows, so there are at most total_rows/cap of them) —
        # COLLECT it so the df aggregation runs once, not once per
        # consumer of the capped relation (Spark does not CSE the
        # subtree across the three consumers below; measured 3 extra
        # full agg passes without this)
        hot_rows = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("shingle")
            .collect()
        )
        if hot_rows:
            import warnings

            warnings.warn(
                f"ngram_jaccard_pairs: max_df_frac={max_df_frac} dropped "
                f"{len(hot_rows)} hot shingle(s) (df > {cap}); documents "
                "duplicated across more than that fraction of the corpus "
                "cannot pair",
                stacklevel=2,
            )
            hot = docs.sparkSession.createDataFrame(hot_rows, "shingle long")
            kept = sh.join(F.broadcast(hot), "shingle", "left_anti")
        else:
            kept = sh
    else:
        kept = sh
        # Uncapped = exact Jaccard over EVERY shingle, including the
        # O(df^2) self-join rows a corpus-wide boilerplate shingle
        # contributes. Guard the foot-gun on the quantity that actually
        # explodes — the PROJECTED JOIN ROW COUNT sum(df*(df-1)/2), not
        # a corpus fraction (a shingle in just 5% of a 100M-doc corpus
        # is df=5M -> ~1.2e13 join rows; a fraction test never fires).
        # Gate for free off the already-materialized shingle row count:
        # even if every row shared ONE shingle key, the join yields
        # n_sh_rows*(n_sh_rows-1)/2 rows, so below the budget the
        # census is provably unnecessary and small corpora pay no extra
        # job. Above the gate, one agg over the persisted shingle cache
        # (no re-read of docs) computes the exact projection and warns
        # when it clears the budget — the caller should set max_df_frac
        # or expect the quadratic join.
        worst_case = n_sh_rows * (n_sh_rows - 1) // 2
        if worst_case > _PAIR_ROW_BUDGET:
            census = (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .agg(
                    F.sum(
                        F.col("df").cast("double")
                        * (F.col("df") - F.lit(1)).cast("double")
                        / F.lit(2.0)
                    ).alias("pairs"),
                    F.max("df").alias("df_max"),
                )
                .collect()[0]
            )
            projected = float(census["pairs"] or 0.0)
            if projected > _PAIR_ROW_BUDGET:
                import warnings

                warnings.warn(
                    f"ngram_jaccard_pairs: uncapped run projects "
                    f"~{projected:.3g} inverted-index self-join rows "
                    f"(budget {_PAIR_ROW_BUDGET:.0e}; hottest shingle "
                    f"df={int(census['df_max'] or 0)}). Set max_df_frac "
                    "(e.g. 0.5) to drop corpus-wide boilerplate shingles "
                    "before the join (note: a document duplicated across "
                    "more than that fraction of the corpus then cannot "
                    "pair).",
                    stacklevel=2,
                )
    jac = _overlap_measures(kept).withColumn(
        "jaccard",
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
    )
    return jac.filter(F.col("jaccard") >= F.lit(threshold)).select(
        "doc_a", "doc_b", "common", "na", "nb", "jaccard"
    )


def _overlap_measures(kept: DataFrame) -> DataFrame:
    """(doc_a < doc_b, common, na, nb) from a (doc_id, shingle)
    relation — the inverted-index self-join + size joins shared by the
    Jaccard and containment measures."""
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = kept.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: n-gram CONTAINMENT
    ``common / min(|A|, |B|)`` — the measure that catches a short
    document quoted or embedded inside a long one, which Jaccard
    structurally misses (a 100-shingle doc fully contained in a
    10,000-shingle doc scores Jaccard ~0.01 but containment 1.0).
    Broder's containment coefficient, the standard quote/subset
    detector in dedup pipelines. Returns
    (doc_a, doc_b, common, na, nb, containment) for pairs at or above
    ``threshold``.

    Same plan as :func:`ngram_jaccard_pairs` — the persisted
    positional-shingle relation, the 8-byte inverted-index self-join,
    one final int/int division — so the same scale story holds; pass
    ``max_df_frac`` for the boilerplate cap (identical semantics and
    warning; the capped sets feed BOTH the numerator and min-size
    denominator, so the score stays a true containment over the
    capped universe). Same precondition too: ``doc_id`` unique in
    ``docs`` (per-doc set semantics are map-side ``array_distinct``,
    not a relation-level distinct)."""
    # map-side array_distinct, no corpus-wide distinct() shuffle — see
    # ngram_jaccard_pairs (identical relation, identical argument)
    sh = (
        spread(docs)
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingle_hash_array(F.col("text"), n))).alias(
                "shingle"
            ),
        )
        .transform(persist_tracked)
    )
    sh.count()
    kept = sh
    if max_df_frac is not None:
        import math

        cap = int(math.floor(max_df_frac * docs.count()))
        hot_rows = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("shingle")
            .collect()
        )
        if hot_rows:
            import warnings

            warnings.warn(
                f"ngram_containment_pairs: max_df_frac={max_df_frac} "
                f"dropped {len(hot_rows)} hot shingle(s) (df > {cap})",
                stacklevel=2,
            )
            hot = docs.sparkSession.createDataFrame(hot_rows, "shingle long")
            kept = sh.join(F.broadcast(hot), "shingle", "left_anti")
    cont = _overlap_measures(kept).withColumn(
        "containment",
        F.col("common").cast("double")
        / F.least(F.col("na"), F.col("nb")).cast("double"),
    )
    return cont.filter(F.col("containment") >= F.lit(threshold)).select(
        "doc_a", "doc_b", "common", "na", "nb", "containment"
    )


def minhash_signatures(docs: DataFrame, num_hashes: int = NUM_MINHASH) -> DataFrame:
    """MinHash signature per document: 3-gram shingle hashes, min of
    each universal-hash permutation.

    Two structural savings over the naive shape (measured ~3x on the
    signature stage at sf0.1):
    - ``min`` is duplicate-insensitive, so the shingle relation needs NO
      distinct — the whole op is one explode + one groupBy shuffle with
      map-side partial mins (one row per doc on the wire).
    - hashing is two-level like dup_span_pairs: each token poly-hashed
      once, the 3 token hashes folded per shingle — no per-shingle
      character fold, and no repartition barrier is needed because
      explode materializes ``h`` as a concrete attribute (the 8 min
      aggregates reference it instead of re-inlining the fold)."""
    hashed = spread(docs).select(
        "doc_id", F.explode(shingle_hash_array(F.col("text"), 3)).alias("h")
    )
    mins = [F.min(e).alias(f"mh{i}") for i, e in enumerate(minhash_exprs(F.col("h"), num_hashes))]
    return hashed.groupBy("doc_id").agg(*mins)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = NUM_MINHASH,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """LSH candidate pairs: band the signature (rows-per-band =
    num_hashes/bands), equi-join docs sharing any band bucket, dedup, and
    attach the estimated Jaccard (fraction of matching signature
    components). Never compares all pairs — only bucket collisions.

    Shuffle-thin shape (round 15, guide §2.3/§8): the (band, bucket)
    self-join used to carry ALL num_hashes signature columns on BOTH
    sides (84 bytes/row at the defaults) only so est_jaccard could be
    computed after the match. The banded relation now carries just the
    matched band's own slice (the rows_per_band values the collision
    re-verify needs — 36 bytes/row, a ~2.3x cut on the widest dedup
    shuffle), the pair dedup runs over a two-column relation, and the
    full signatures are RE-ATTACHED to the (small) surviving pair set
    by two joins against the persisted signature relation — decide with
    small rows, then move the heavy columns once, for collisions only.
    The persist moves from the 4xN-row banded frame to the N-row sig
    frame (it is read by the banded explode and both re-attach sides;
    eager count because concurrent cache population races)."""
    pairs, sig = _minhash_candidate_pairs(docs, num_hashes, bands)
    a_sig = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(num_hashes)],
    )
    b_sig = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        pairs.join(a_sig, "doc_a")
        .join(b_sig, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = NUM_MINHASH,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """The thin (doc_a, doc_b) LSH candidate relation — exactly
    :func:`minhash_lsh_pairs` minus the est_jaccard attach, for
    topology-only consumers (fuzzy_dedup, dedup_clusters,
    leakage_safe_split): connected components never read est_jaccard,
    and the two signature re-attach joins cannot be pruned away by the
    optimizer (an inner join changes cardinality as far as Catalyst
    knows), so skipping them must happen at the operator level."""
    pairs, _ = _minhash_candidate_pairs(docs, num_hashes, bands)
    return pairs


def _minhash_candidate_pairs(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
):
    """Shared head of the MinHash-LSH family: returns the deduped thin
    (doc_a, doc_b) candidate set and the persisted signature relation
    (callers attaching est_jaccard join it back)."""
    sig = minhash_signatures(docs, num_hashes).transform(persist_tracked)
    sig.count()
    rows_per_band = num_hashes // bands
    # 8-byte xxhash64 band key instead of a variable-width string
    # concat: the bucket join shuffles a fixed-width long. A 2^-64
    # key collision could only ADD a candidate pair, which the
    # band re-verify below then rejects.
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"mh{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
            ).alias("bucket"),
            # the matched band's own signature slice: everything the
            # post-join collision re-verify needs, rows_per_band longs
            # instead of all num_hashes
            *[
                F.col(f"mh{b * rows_per_band + j}").alias(f"s{j}")
                for j in range(rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    # ONE exploded (band, bucket) relation and ONE self-join on the
    # composite key, instead of `bands` separate joins + union: same
    # candidate set, but a single shuffle of bands*N rows replaces
    # 2*bands shuffles of N rows plus the union — measured 3x faster on
    # the pairs stage at sf0.1 (1.9 -> 0.65 s warm).
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("_bb")
    ).select("doc_id", "_bb.band", "_bb.bucket", *[f"_bb.s{j}" for j in range(rows_per_band)])
    l = banded.select(
        F.col("doc_id").alias("doc_a"),
        "band",
        "bucket",
        *[F.col(f"s{j}").alias(f"a_s{j}") for j in range(rows_per_band)],
    )
    r = banded.select(
        F.col("doc_id").alias("doc_b"),
        "band",
        "bucket",
        *[F.col(f"s{j}").alias(f"b_s{j}") for j in range(rows_per_band)],
    )
    # re-verify the matched band's actual signature rows after the
    # hash-key join (map-side, no extra shuffle): a 2^-64 xxhash64
    # collision would otherwise fabricate a candidate pair, and
    # downstream consumers (fuzzy_dedup's transitive closure) take
    # pairs as-is
    import functools

    slice_eq = functools.reduce(
        lambda a, j: a & (F.col(f"a_s{j}") == F.col(f"b_s{j}")),
        range(1, rows_per_band),
        F.col("a_s0") == F.col("b_s0"),
    )
    pairs = (
        l.join(r, ["band", "bucket"])
        .filter((F.col("doc_a") < F.col("doc_b")) & slice_eq)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs, sig


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash per document: per-bit majority vote over token hashes,
    packed into a single integer. Aggregation is JVM-side sums (one
    shuffle on doc_id with map-side combine)."""
    tok = spread(docs).select(
        "doc_id", F.explode(word_shingles(F.col("text"), 1)).alias("token")
    )
    # same barrier as minhash_signatures: hash once, not once per bit
    # (the inlined folds made this the slowest dedup op before);
    # square-mixed 48-bit hash so every simhash bit carries signal
    hashed = tok.select(
        "doc_id", simhash_token_hash(F.col("token")).alias("h")
    ).repartition("doc_id")
    votes = [
        F.sum(simhash_bit_weight(F.col("h"), b)).alias(f"v{b}") for b in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    packed = sum(
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(bits)
    )
    return agg.select("doc_id", packed.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame, bits: int = SIMHASH_BITS, bands: int = SIMHASH_BANDS, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash. Banded join
    (pigeonhole: distance <= bands-1 implies an identical band), then the
    exact bit_count filter."""
    sig = simhash_signatures(docs, bits)
    bits_per_band = bits // bands
    mask = (1 << bits_per_band) - 1
    # ONE exploded (band, bucket) relation + ONE composite-key self-join
    # instead of `bands` joins + union — same candidate set, one shuffle
    # (the minhash_lsh_pairs shape; measured 3x on its pairs stage).
    # persist + eager count: both join sides read this frame.
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            (F.shiftright(F.col("simhash"), b * bits_per_band) % F.lit(mask + 1)).alias(
                "bucket"
            ),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("_bb")
    ).select(
        "doc_id",
        "simhash",
        F.col("_bb.band").alias("band"),
        F.col("_bb.bucket").alias("bucket"),
    ).transform(persist_tracked)
    banded.count()
    l = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "bucket"
    )
    r = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "bucket"
    )
    pairs = (
        l.join(r, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .drop("band", "bucket")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "sh_a", "sh_b", "hamming")
    )


def embedding_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.92,
    bands: int = 4,
    planes_per_band: int = 4,
    dim: int | None = None,
    identical: str = "star",
    emb: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by banded
    random-hyperplane LSH buckets over the embeddings themselves.

    Each vector lands in ``bands`` buckets (disjoint hyperplane sets);
    candidates are the union of per-band bucket equi-joins — never a
    cross join and never a data-dependent degenerate block (the previous
    label blocking pulled an entire label's worth of pairs through one
    key; at 100 TB a dominant label is most of the corpus). Bucket
    population ~ n / 2^planes_per_band per band: raise planes_per_band
    as the corpus grows to keep blocks bounded, raise bands to push
    recall (miss prob = (1 - p^planes)^bands for a pair with per-plane
    collision prob p).

    Candidate pairs then get the exact cosine via the same sequential
    double fold the oracle uses, so the DuckDB twin is bit-exact.

    The 0.92 default is a genuine near-duplicate bar for real embedding
    spaces (unrelated sentence/image pairs routinely sit at 0.4-0.6 —
    a loose default would silently chain most of a corpus into
    mega-clusters downstream); the registry's oracle row uses a lower
    threshold only because the synthetic gaussian testdata has no true
    near-dups to find. ``dim`` is inferred from the first row when not
    given — a wrong dim would NULL-pad every plane dot and collapse
    all vectors into bucket 0 (one O(n^2) block).

    Same kernel shape as semantic_neardup_pairs (Arrow-side banded
    buckets, first-shared-band pair ownership, salted sub-group grid
    for hot buckets) generalized to NON-unit vectors: the candidate
    mask normalizes rows once for an approximate-cos GEMM, then kept
    pairs are rescored with the exact fold shapes — per-dimension
    ascending dot and norms, ``dot / (na * nb)`` with the zero-norm ->
    0.0 guard — bit-identical to the declarative Column form and the
    SQL oracle.

    ``identical="star"`` (default) applies the same identical-clique
    star-edge contraction as semantic_neardup_pairs: bit-identical
    embedding vectors collapse to a representative before the LSH
    kernel and emit rep->member edges (cos scored by the same
    fold/guard shapes), so a mass-duplicated embedding produces O(n)
    output instead of O(n^2) while connected components are unchanged
    by transitivity; ``identical="pairs"`` keeps the full quadratic
    clique output. ``emb`` overrides the table load (tests / callers
    with an in-memory embedding frame)."""
    from ..cache import persist_tracked
    from ..functions.vector import dot as vec_dot, l2_norm
    from .ann import banded_bucket_frame_fast

    if identical not in ("star", "pairs"):
        raise ValueError(f"identical must be 'star' or 'pairs', got {identical!r}")
    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    if dim is None:
        first = emb.select("embedding").first()
        if first is None:
            dim = 0
        else:
            dim = len(first[0])
    withv = emb.select(F.col("vec_id"), to_vec("embedding").alias("v"))
    star = None
    if identical == "star":
        # duplicate census on an 8-byte vector hash first (narrow
        # map-side-combined shuffle): no repeated vectors — the common
        # corpus — skips contraction entirely; otherwise only the
        # duplicated-hash rows enter the wide array-keyed groupBy.
        # Distinct-vector hash collisions merely widen the candidate
        # set; grouping inside it is on the actual vector (exact).
        withv = persist_tracked(withv)
        hashed = withv.withColumn("_h", F.xxhash64("v"))
        # persisted: three consumers (isEmpty gate, semi join, left_anti
        # join) — without it the corpus-wide census agg re-executes per
        # consumer (Spark does not CSE across join sides)
        dup_h = persist_tracked(
            hashed.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") > 1)
            .select("_h")
        )
        if not dup_h.isEmpty():
            dupes = hashed.join(dup_h, "_h", "semi")
            reps = dupes.groupBy("v").agg(F.min("vec_id").alias("_rep"))
            tagged = persist_tracked(dupes.join(reps, "v"))
            norm = l2_norm(F.col("v"))
            # the exact expression shapes the kernel applies to a kept
            # pair with x == y: fold dot, product of fold norms, one
            # division, zero-norm -> 0.0 (so all-zero embedding cliques
            # never pair)
            selfcos = F.when(norm == F.lit(0.0), F.lit(0.0)).otherwise(
                vec_dot(F.col("v"), F.col("v")) / (norm * norm)
            )
            star = (
                tagged.filter(F.col("vec_id") != F.col("_rep"))
                .select(
                    F.col("_rep").alias("id_a"),
                    F.col("vec_id").alias("id_b"),
                    selfcos.alias("cos_sim"),
                )
                .filter(F.col("cos_sim") >= F.lit(threshold))
            )
            withv = (
                hashed.join(dup_h, "_h", "left_anti")
                .select("vec_id", "v")
                .unionByName(
                    tagged.filter(F.col("vec_id") == F.col("_rep")).select(
                        "vec_id", "v"
                    )
                )
            )
    banded = banded_bucket_frame_fast(withv, "v", int(dim), bands, planes_per_band)
    n_salt = 4
    banded = banded.withColumn(
        # pmod, not %: Spark % keeps the dividend's sign, so a negative
        # id would get a negative _g that never matches any h in
        # [0, n_salt) — its pairs silently dropped
        "_g", F.pmod(F.col("vec_id"), F.lit(n_salt)).cast("int")
    ).withColumn(
        "_ab",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_salt - 1}), "
                "h -> struct(least(_g, h) AS a, greatest(_g, h) AS b))"
            )
        ),
    ).select(
        "vec_id", "v", "bands", "band", "bucket", "_g",
        F.col("_ab.a").alias("_a"), F.col("_ab.b").alias("_b"),
    )

    empty = pd.DataFrame(
        {
            "id_a": pd.Series([], dtype=np.int64),
            "id_b": pd.Series([], dtype=np.int64),
            "cos_sim": pd.Series([], dtype=np.float64),
        }
    )
    chunk = 4096

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        band = int(pdf["band"].iloc[0])
        ga, gb = int(pdf["_a"].iloc[0]), int(pdf["_b"].iloc[0])
        if ga == gb:
            left = right = pdf
            triangular = True
        else:
            g = pdf["_g"].to_numpy()
            left, right = pdf[g == ga], pdf[g == gb]
            triangular = False
        if len(left) == 0 or len(right) == 0 or len(pdf) < 2:
            return empty
        ids_l = left["vec_id"].to_numpy(dtype=np.int64)
        ids_r = right["vec_id"].to_numpy(dtype=np.int64)
        mat_l = np.array(list(left["v"]), dtype=np.float64)
        mat_r = mat_l if triangular else np.array(list(right["v"]), dtype=np.float64)
        allb_l = np.array(list(left["bands"]), dtype=np.int32)
        allb_r = np.array(list(right["bands"]), dtype=np.int32)
        # fold-order norms (bit-identical to l2_norm); zero norms score
        # 0.0 against everything and never pass the threshold
        nl = np.sqrt(fold_dot(mat_l, mat_l))
        nr = nl if triangular else np.sqrt(fold_dot(mat_r, mat_r))
        # normalized fp32 copies for the approximate-cos candidate mask
        # only (bandwidth-bound GEMM, ~1.6x fp64); the slack covers the
        # fp32 unit-dot error bound, so the mask only over-admits —
        # the keep decision stays on the exact fold below. Contiguous
        # transposes feed the fold's gathers (same elements, same
        # multiply/add order — bit-identical, ~2x the strided form).
        with np.errstate(divide="ignore", invalid="ignore"):
            un_l = np.where(
                nl[:, None] == 0.0, 0.0, mat_l / nl[:, None]
            ).astype(np.float32)
            un_r = un_l if triangular else np.where(
                nr[:, None] == 0.0, 0.0, mat_r / nr[:, None]
            ).astype(np.float32)
        t_l = np.ascontiguousarray(mat_l.T)
        t_r = t_l if triangular else np.ascontiguousarray(mat_r.T)
        dim_b = mat_l.shape[1]
        slack = 1e-4 + dim_b * 1e-6
        parts: list[pd.DataFrame] = []
        for c0 in range(0, len(ids_l), chunk):
            c1 = min(c0 + chunk, len(ids_l))
            approx = un_l[c0:c1] @ un_r.T
            ii, jj = np.nonzero(approx >= threshold - slack)
            ii = ii + c0
            if triangular:
                keep = ii < jj
                ii, jj = ii[keep], jj[keep]
            if len(ii) == 0:
                continue
            first = (allb_l[ii] == allb_r[jj]).argmax(axis=1)
            own = first == band
            ii, jj = ii[own], jj[own]
            if len(ii) == 0:
                continue
            # fold_dot's accumulation, written out: it gathers rows of
            # the d-major transposes (200k pairs, 64-d: 0.12 s against
            # 0.58-0.71 s for fold_dot(mat_l[ii], mat_r[jj]))
            dots = np.zeros(len(ii), dtype=np.float64)
            for d in range(dim_b):
                dots += t_l[d][ii] * t_r[d][jj]
            denom = nl[ii] * nr[jj]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(denom == 0.0, 0.0, dots / denom)
            kf = sims >= threshold
            ii, jj, sims = ii[kf], jj[kf], sims[kf]
            lo = np.minimum(ids_l[ii], ids_r[jj])
            hi = np.maximum(ids_l[ii], ids_r[jj])
            parts.append(pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": sims}))
        if not parts:
            return empty
        return pd.concat(parts, ignore_index=True)

    out = banded.groupBy("band", "bucket", "_a", "_b").applyInPandas(
        block_pairs, "id_a long, id_b long, cos_sim double"
    )
    if star is not None:
        out = out.unionByName(star)
    return out


def dup_span_pairs(
    docs: DataFrame, n: int = 8, min_run: int = 2, max_df: int | None = None
) -> DataFrame:
    """Exact shared-passage detection: for every document pair, the
    longest run of CONSECUTIVE shared word ``n``-grams — the relational
    answer to suffix-array substring dedup (the scheme behind
    "deduplicating training data makes language models better"-style
    exact substring removal), built from ops Spark already shuffles
    well.

    A run of ``r`` consecutive shared n-grams means a shared passage of
    ``r + n - 1`` tokens, reported as ``span_tokens``. Plan shape:
    positional n-grams -> polynomial-hash join key (64-bit int, not the
    n-gram string, so the shuffle carries 8 bytes per key at 100 TB) ->
    inverted-index self-join -> the gaps-and-islands trick (group by
    ``pos_a - pos_b`` diagonal, run id = ``pos_a - row_number``) -> one
    max per pair. No cross join anywhere; hot n-grams are AQE
    skew-split like every other shingle join here.

    ``max_df``: drop n-grams appearing in more than this many documents
    before the self-join — the standard boilerplate guard (a license
    header shared by a million docs would otherwise contribute df^2
    join rows; the runs it forms are boilerplate, not plagiarized
    passages). None = exact semantics over every n-gram (the oracle
    setting); at 100 TB set it to a few hundred.

    The reference has no text surface at all — this extends its
    exact-match story (hsnw_trial.py dedup = none) per the north star.

    Hashing is two-level: each token is poly-hashed ONCE, then the n
    per-token hashes combine with the same (acc*31 + h) % mod fold —
    ~6x less hash work than hashing every n-gram string character by
    character (each character would be folded n times across the
    overlapping shingles). Measured 9.7 -> 6.8 s warm at sf0.1 (the
    remaining cost is the join + windows, not hashing)."""
    runs = _span_runs(_positional_shingles(docs, n, max_df)).groupBy(
        "doc_a", "doc_b"
    ).agg(F.max("run").alias("max_run"))
    return runs.filter(F.col("max_run") >= min_run).select(
        "doc_a",
        "doc_b",
        "max_run",
        (F.col("max_run") + F.lit(n - 1)).alias("span_tokens"),
    )


def _positional_shingles(docs: DataFrame, n: int, max_df: int | None) -> DataFrame:
    """(doc_id, pos, h) positional n-gram hash relation, persisted —
    the shared front half of the span family. Persist: the relation
    feeds BOTH sides of the self-join — 2 recomputations of the
    explode+hash pass otherwise. Three 8-byte columns, no strings — at
    100 TB this is the intermediate a pipeline would write to a
    shuffle-store anyway before a self-join. Eager count so the two
    join sides don't race to populate the cache.

    Precondition (shared with ngram_jaccard_pairs/decontaminate):
    ``doc_id`` must be unique in ``docs`` — the document-frequency
    branch counts per-document-DISTINCT n-grams via ``array_distinct``
    over each doc's own hash array (map-side), so duplicate doc_id rows
    would double-count df where a corpus-wide (doc_id, h) distinct
    would collapse them. The r15 shape drops that corpus-wide distinct
    shuffle (guide §2.4): df is one partially-aggregated groupBy over
    per-doc-deduped hashes — the shuffle carries at most
    distinct-h-per-partition count rows instead of every (doc_id, h)
    pair twice (once for the distinct exchange, once for the h
    regroup)."""
    sh = spread(docs).select(
        "doc_id",
        F.posexplode(shingle_hash_array(F.col("text"), n)).alias("pos", "h"),
    ).transform(persist_tracked)
    sh.count()
    if max_df is not None:
        # inner join on the kept set (measured faster than the
        # anti-join-on-drops alternative: count_distinct's expand and
        # the anti side defeat exchange reuse)
        keep = (
            spread(docs)
            .select(
                F.explode(
                    F.array_distinct(shingle_hash_array(F.col("text"), n))
                ).alias("h")
            )
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("h")
        )
        sh = sh.join(keep, "h")
    return sh


def _span_runs(sh: DataFrame) -> DataFrame:
    """Maximal consecutive shared-n-gram runs per ordered doc pair and
    diagonal: (doc_a < doc_b, diag, pa_start, run) — the
    gaps-and-islands core shared by dup_span_pairs (max per pair) and
    dup_span_intervals (victim-side positions: pb = pa - diag)."""
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h")
    j = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    return (
        j.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run"), F.min("pa").alias("pa_start"))
    )


def dup_span_intervals(
    docs: DataFrame, n: int = 8, min_run: int = 2, max_df: int | None = None
) -> DataFrame:
    """The REMOVAL PLAN for exact substring dedup: per victim document,
    the merged token intervals covered by passages it shares with any
    LOWER-id document — the relational half of "keep one copy of every
    duplicated span" (Lee et al. 2022 §4.1's ExactSubstr removal, which
    deletes all but one occurrence; here the surviving occurrence is
    the lowest doc_id's, so for a span shared by docs d1 < d2 < d3 the
    pairs (d1,d2), (d1,d3), (d2,d3) mark d2 and d3 — exactly
    keep-one, deterministically).

    Token coordinates index the LOWERCASED WHITESPACE token stream
    (``functions.text.tokens(lower(text))`` — the same stream the
    n-gram hashes are built from); a run of r consecutive shared
    n-grams starting at victim position p covers tokens
    [p, p + r + n - 2], inclusive. Overlapping or adjacent intervals
    coalesce (running-max islands), so the output is the minimal
    disjoint set. Returns (doc_id, span_start, span_end).

    Plan shape: dup_span_pairs' inverted-index self-join and islands
    (no cross join, df^2 bounded by ``max_df``), one more window +
    group for the interval merge — both partitioned by victim doc, so
    the merge shuffles only documents that actually share passages."""
    runs = _span_runs(_positional_shingles(docs, n, max_df)).filter(
        F.col("run") >= min_run
    )
    iv = runs.select(
        F.col("doc_b").alias("doc_id"),
        (F.col("pa_start") - F.col("diag")).cast("long").alias("s"),
        (F.col("pa_start") - F.col("diag") + F.col("run") + F.lit(n - 2))
        .cast("long")
        .alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_isl = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_e = F.max("e").over(w_prev)
    new_island = F.when(
        prev_e.isNull() | (F.col("s") > prev_e + F.lit(1)), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        iv.withColumn("_island", F.sum(new_island).over(w_isl))
        .groupBy("doc_id", "_island")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .select("doc_id", "span_start", "span_end")
    )


def strip_dup_spans(
    docs: DataFrame, n: int = 8, min_run: int = 2, max_df: int | None = None
) -> DataFrame:
    """Exact substring dedup, applied: every document with its
    duplicated-span tokens REMOVED (the lowest-id copy of each shared
    passage survives — dup_span_intervals' plan executed as token-
    stream surgery). Returns (doc_id, n_tokens, n_removed, text_clean)
    where text_clean is the kept LOWERCASED whitespace-token stream
    re-joined with single spaces — the canonical form the n-gram
    machinery itself operates on; callers needing original-case
    surgery take dup_span_intervals and cut their own bytes.

    The apply side is MAP-ONLY on the corpus: the interval relation
    (only victim docs, already merged-disjoint) is collected per doc
    into an array via one bounded groupBy, left-joined back, and the
    token filter is a native two-arg ``filter`` with an ``exists``
    membership probe per token — no explode of the corpus, no UDF."""
    iv = (
        dup_span_intervals(docs, n=n, min_run=min_run, max_df=max_df)
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("span_start").alias("s"), F.col("span_end").alias("e")
                    )
                )
            ).alias("_iv")
        )
    )
    toks = tokens(F.lower(F.col("text")))
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    ivc = F.coalesce(F.col("_iv"), empty)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            ivc, lambda v: (i.cast("long") >= v["s"]) & (i.cast("long") <= v["e"])
        ),
    )
    return (
        spread(docs)
        .select("doc_id", "text")
        .join(iv, "doc_id", "left")
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            (F.size(toks) - F.size(kept)).alias("n_removed"),
            F.concat_ws(" ", kept).alias("text_clean"),
        )
    )


def dup_span_char_offsets(
    docs: DataFrame, n: int = 8, min_run: int = 2, max_df: int | None = None
) -> DataFrame:
    """``dup_span_intervals`` lifted from token coordinates to
    CHARACTER offsets in the ORIGINAL text (VERDICT r13 #6: real
    pipelines want the original bytes cut, not the lowercased
    canonical stream). Returns (doc_id, span_start, span_end,
    char_start, char_end): token coords as before, plus the
    0-based codepoint offset of the first covered token's first
    character and the EXCLUSIVE offset one past the last covered
    token's last character — Python-slice / substring-friendly.

    Alignment argument: the interval machinery indexes
    ``tokens(lower(text))``; lowercasing never creates or destroys
    whitespace, so the i-th token of the lowered stream is the i-th
    token of the original — token INDICES transfer even where Unicode
    lowercasing changes a token's length. Offsets are therefore
    computed on the original text, with a Python ``\\S+`` scan under
    ``re.ASCII`` — the exact complement of the Java default (non-
    Unicode) ``\\s+`` the native tokenizer splits on, pinned by the
    round-trip test.

    Scale shape: offsets are computed ONLY for victim documents (one
    semi-join, one Arrow pass over those rows); the interval relation
    joins them on doc_id — cost tracks duplicate density, never the
    corpus."""
    import re

    import pandas as pd

    # SINGLE-REFERENCE shape: the interval plan is grouped per victim doc
    # (one bounded agg), inner-joined to the corpus ONCE (victims only —
    # the join itself is the victim filter), and the Arrow kernel both
    # scans token offsets and explodes the spans. The old shape referenced
    # the interval plan twice (victim semi-join side + final join side),
    # so the entire span self-join + islands pipeline executed twice per
    # action (Spark does not CSE across join sides; guide §2.4 / §5 —
    # measured ~1.6x off this row at sf0.1, no cache memory needed).
    iv_g = (
        dup_span_intervals(docs, n=n, min_run=min_run, max_df=max_df)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
            ).alias("_spans")
        )
    )
    vdocs = docs.select("doc_id", "text").join(iv_g, "doc_id")
    tok_re = re.compile(r"\S+", re.ASCII)

    def kern(batches):
        for pdf in batches:
            ids: list = []
            ss: list = []
            ee: list = []
            cs: list = []
            ce: list = []
            for doc_id, text, spans in zip(
                pdf["doc_id"], pdf["text"], pdf["_spans"]
            ):
                ms = list(tok_re.finditer(text or ""))
                starts = [m.start() for m in ms]
                ends = [m.end() for m in ms]
                nt = len(ms)
                for sp in spans:
                    s, e = int(sp["s"]), int(sp["e"])
                    ids.append(doc_id)
                    ss.append(s)
                    ee.append(e)
                    # mirror element_at's out-of-range -> NULL contract
                    cs.append(starts[s] if 0 <= s < nt else None)
                    ce.append(ends[e] if 0 <= e < nt else None)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "span_start": pd.Series(ss, dtype="int64"),
                    "span_end": pd.Series(ee, dtype="int64"),
                    "char_start": pd.Series(cs, dtype="object"),
                    "char_end": pd.Series(ce, dtype="object"),
                }
            )

    return vdocs.mapInPandas(
        kern,
        "doc_id long, span_start long, span_end long, "
        "char_start long, char_end long",
    )


def strip_dup_spans_exact(
    docs: DataFrame, n: int = 8, min_run: int = 2, max_df: int | None = None
) -> DataFrame:
    """Exact substring dedup applied to the ORIGINAL text: the
    duplicated spans' characters are cut out of ``text`` itself —
    case, punctuation, and all whitespace OUTSIDE the removed spans
    preserved byte-for-byte (the companion to ``strip_dup_spans``,
    whose output is the lowercased canonical token stream). Returns
    (doc_id, n_spans, n_chars_removed, text_clean).

    The cut is a native fold over each doc's (bounded, disjoint,
    sorted) char-interval array: accumulate the substring between the
    previous cut end and the next cut start, then the tail — no UDF on
    the corpus side; only the victim-side offset scan
    (``dup_span_char_offsets``) leaves the JVM. Non-victim documents
    pass through untouched (left join, empty interval array)."""
    civ = (
        dup_span_char_offsets(docs, n=n, min_run=min_run, max_df=max_df)
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("char_start").alias("cs"),
                        F.col("char_end").alias("ce"),
                    )
                )
            ).alias("_civ")
        )
    )
    empty = F.array().cast("array<struct<cs:bigint,ce:bigint>>")
    ivc = F.coalesce(F.col("_civ"), empty)
    # fold state: (pos = chars consumed so far, acc = kept text).
    # substring is 1-based codepoints; cs/ce are 0-based half-open.
    folded = F.aggregate(
        ivc,
        F.struct(
            F.lit(0).cast("long").alias("pos"), F.lit("").alias("acc")
        ),
        lambda st, v: F.struct(
            v["ce"].alias("pos"),
            F.concat(
                st["acc"],
                F.substring(
                    F.col("text"),
                    (st["pos"] + 1).cast("int"),
                    (v["cs"] - st["pos"]).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st["acc"],
            F.substring(
                F.col("text"),
                (st["pos"] + 1).cast("int"),
                (F.length("text") - st["pos"]).cast("int"),
            ),
        ),
    )
    removed = F.aggregate(
        ivc,
        F.lit(0).cast("long"),
        lambda acc, v: acc + (v["ce"] - v["cs"]),
    )
    return (
        spread(docs)
        .select("doc_id", "text")
        .join(civ, "doc_id", "left")
        .select(
            "doc_id",
            F.size(ivc).cast("int").alias("n_spans"),
            removed.alias("n_chars_removed"),
            folded.alias("text_clean"),
        )
    )


def dedup_keep_best(docs: DataFrame) -> DataFrame:
    """Quality-aware exact dedup (CCNet-style): within each
    fingerprint group keep the highest-quality document, not the lowest
    id — the policy a curation pipeline actually wants (the duplicate
    kept decides which boilerplate variant survives). One shuffle on the
    fingerprint; the quality score is computed map-side before it.

    Keeper = max (quality_score, -doc_id) per group: highest score,
    lowest doc_id on ties — a single max(struct) aggregation, no window,
    no second pass."""
    from ..functions.text import quality_features

    feats = quality_features(F.col("text"))
    scored = spread(docs).select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        feats["quality_score"].alias("q"),
    )
    best = F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("neg_id")))
    return (
        scored.groupBy("fp")
        .agg(
            best.alias("_b"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select(
            "fp",
            (-F.col("_b.neg_id")).alias("keeper_doc_id"),
            F.col("_b.q").alias("keeper_quality"),
            "n_dups",
        )
    )


def fuzzy_dedup(docs: DataFrame, cc_algorithm: str = "label") -> DataFrame:
    """The canonical end-to-end fuzzy-dedup pipeline in one call:
    MinHash signatures -> LSH band buckets -> candidate pairs ->
    connected components (transitive closure) -> quality-aware keeper
    per cluster. Returns a verdict for EVERY document: (doc_id,
    cluster_id, quality_score, is_keeper); filtering is_keeper gives
    the surviving corpus. Docs in no near-dup pair are their own
    singleton cluster and always keep.

    Keeper policy = highest quality_score, lowest doc_id on ties (the
    dedup_keep_best rule applied at cluster granularity — CCNet keeps
    the best duplicate, not the first seen). Composition of the
    already-oracled stages, itself oracle-checked end-to-end: the
    recursive-CTE ground truth exercises the whole chain, not each
    link in isolation.

    Scale: pairs are band-bucket equi-joins (no cross join), components
    converge in O(cluster diameter) co-partitioned join rounds, quality
    is map-side, keeper choice is one max-struct agg — the only
    corpus-sized shuffles are the signature agg and the label rounds."""
    from ..functions.text import quality_features
    from .clusters import connected_components

    pairs = minhash_lsh_candidates(docs)
    return _cluster_keeper_verdict(docs, pairs, cc_algorithm)


def _cluster_keeper_verdict(
    docs: DataFrame, pairs: DataFrame, cc_algorithm: str = "label"
) -> DataFrame:
    """Shared tail of the end-to-end dedup pipelines: near-dup pairs ->
    connected components ("label" propagation or "star" contraction) ->
    quality-aware keeper per cluster, a verdict row for EVERY document
    (singletons keep)."""
    from ..functions.text import quality_features
    from .clusters import connected_components, connected_components_star

    if cc_algorithm not in ("label", "star"):
        raise ValueError(
            f"unknown cc_algorithm {cc_algorithm!r}; expected 'label' or 'star'"
        )
    cc = (
        connected_components_star(pairs)
        if cc_algorithm == "star"
        else connected_components(pairs)
    )
    feats = quality_features(F.col("text"))
    scored = docs.select("doc_id", feats["quality_score"].alias("quality_score"))
    # persist: labeled feeds both the keeper agg and the final verdict
    # join — without it the quality_features pass over the full corpus
    # (regex-heavy) and the cc join run twice. The persisted relation is
    # three scalar columns per document (no text), the natural
    # checkpoint shape at 100 TB as well. Eager count to avoid the
    # concurrent cache-population race (see minhash_lsh_pairs).
    labeled = scored.join(cc, scored.doc_id == cc.node, "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        "quality_score",
    ).transform(persist_tracked)
    labeled.count()
    best = (
        labeled.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("quality_score").alias("q"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("_b")
        )
        .select("cluster_id", (-F.col("_b.neg_id")).alias("keeper_doc_id"))
    )
    return labeled.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "quality_score",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
    )


def semantic_dedup(
    docs: DataFrame, dim: int = 64, threshold: float = 0.8, cc_algorithm: str = "label"
) -> DataFrame:
    """SemDeDup-style end-to-end semantic dedup in one call:
    feature-hashed unit vectors -> banded-LSH cosine near-dup pairs ->
    connected components -> quality-aware keeper per cluster. Returns
    the same verdict schema as fuzzy_dedup ((doc_id, cluster_id,
    quality_score, is_keeper)); the two differ only in the pair
    generator — lexical (MinHash over shingles) vs semantic (cosine
    over hashed vectors), and a real deployment runs both gates.

    Scale: pair generation is the banded LSH equi-join of
    semantic_neardup_pairs (per-task work bounded by bucket population,
    chunked GEMM — never per-language/all-pairs), the closure is the
    co-partitioned label-propagation loop, keeper is one max-struct
    agg. With model embeddings swap ``hashed_doc_vectors`` for the
    embedding column; the chain is unchanged."""
    pairs = semantic_neardup_pairs(docs, dim=dim, threshold=threshold).select(
        "doc_a", "doc_b"
    )
    return _cluster_keeper_verdict(docs, pairs, cc_algorithm)


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a held-out evaluation set — the standard
    pre-training hygiene pass (an eval example leaking into the corpus
    invalidates the benchmark).

    Shape at scale: both sides explode to distinct (id, shingle) and
    equi-join on the shingle — an inverted-index SEMI join, so a
    contaminated doc is emitted once no matter how many n-grams leak,
    and the benchmark side (small) broadcasts. n=8 keeps collisions
    meaningful (8-gram matches are near-certain leaks, the
    industry-standard window).

    Precondition: ``doc_id`` must be unique in ``docs`` (corpus side) —
    its per-doc set semantics are map-side ``array_distinct``, not a
    relation-level distinct, so duplicate doc_id rows would emit
    duplicate contamination verdicts. The benchmark side keeps its
    relation-level distinct (it is small and broadcast)."""
    # per-doc set semantics map-side (array_distinct), no corpus-wide
    # distinct() shuffle — (doc_id, shingle) is already unique after the
    # explode (guide §2.4; same change as ngram_jaccard_pairs)
    doc_sh = spread(docs).select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), n))).alias("shingle"),
    )
    bench_sh = benchmark.select(
        F.explode(word_shingles(F.col("text"), n)).alias("shingle")
    ).distinct()
    flagged = doc_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
    return (
        flagged.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_leaked_ngrams"))
        .orderBy("doc_id")
    )


def _band_bucket_keys(
    docs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc_id, bucket, bucket2) MinHash band keys, one row per band.

    Fixed-width 16-byte band keys: two independently-salted xxhash64
    columns (vs a variable-width string concat the bucket artifact is
    ~10x smaller and the join shuffles longs). Two hashes because a
    bucket match DROPS or FLAGS a doc outright with no signature
    rescore available — a single 64-bit key has ~2^-64-per-pair
    collisions, measurable at the trillion-doc design target; the
    128-bit pair does not. All bands ride ONE explode over a single
    signature scan: a one-union-branch-per-band form would recompute
    minhash_signatures (tokenize + hash the whole corpus) once per
    band — Spark does not CSE across union branches."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes)
    entries = F.array(
        *[
            F.struct(
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col(f"mh{i}")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("bucket"),
                F.xxhash64(
                    F.lit(b + 7919),
                    *[
                        F.col(f"mh{i}")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("bucket2"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(entries).alias("_bb")).select(
        "doc_id",
        F.col("_bb.bucket").alias("bucket"),
        F.col("_bb.bucket2").alias("bucket2"),
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    num_hashes: int = NUM_MINHASH,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """NEAR-DUP benchmark decontamination: flag training documents
    sharing any MinHash band bucket with the held-out evaluation set —
    the paraphrased / lightly-edited leaks the exact n-gram pass
    (``decontaminate``) cannot see. The two are complementary gates:
    exact 8-grams catch verbatim inclusion at any length, band buckets
    catch whole-document near-identity under edits.

    Returns (doc_id, n_shared_buckets): how many of the doc's band
    keys appear anywhere in the benchmark's bucket set (each band
    emits exactly one key per doc, so the count is bounded by
    ``bands`` and a higher count means closer to some eval example).

    Shape at scale: identical to ``dedup_incremental``'s fuzzy half —
    the benchmark's distinct bucket table is a tiny precomputable
    broadcast artifact, the corpus side is one signature scan + one
    explode + one semi-join; no pairwise comparison, shuffle tracks
    corpus band keys, not corpus text."""
    doc_b = _band_bucket_keys(docs, num_hashes, bands)
    bench_b = _band_bucket_keys(benchmark, num_hashes, bands).select(
        "bucket", "bucket2"
    ).distinct()
    return (
        doc_b.join(F.broadcast(bench_b), ["bucket", "bucket2"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_buckets"))
        .orderBy("doc_id")
    )


def dedup_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    num_hashes: int = NUM_MINHASH,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Incremental ingestion dedup: keep only the NEW documents that
    collide with the existing corpus neither exactly (normalized
    fingerprint) nor near-exactly (any shared MinHash band bucket) —
    the shape every recurring crawl ingest needs, where the corpus side
    is orders of magnitude larger than the batch.

    Plan: both filters are equi-(anti-)joins on precomputable corpus
    artifacts (distinct fingerprints; distinct band buckets). At deploy
    time those two tables are maintained incrementally and bucketed, so
    ingesting a batch never rescans the corpus text — shuffle volume
    tracks the batch size plus key cardinality. No pairwise comparison
    anywhere."""
    fp_new = spread(new_docs).select(
        "doc_id", "lang", "source", fingerprint(F.col("text")).alias("_fp")
    )
    fp_corpus = spread(corpus_docs).select(fingerprint(F.col("text")).alias("_fp")).distinct()
    exact_surv = fp_new.join(fp_corpus, "_fp", "left_anti")

    new_buckets = _band_bucket_keys(new_docs, num_hashes, bands)
    corpus_buckets = _band_bucket_keys(corpus_docs, num_hashes, bands).select(
        "bucket", "bucket2"
    ).distinct()
    flagged = (
        new_buckets.join(corpus_buckets, ["bucket", "bucket2"])
        .select("doc_id")
        .distinct()
    )
    return (
        exact_surv.join(flagged, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


def semantic_neardup_pairs(
    docs: DataFrame,
    dim: int = 64,
    threshold: float = 0.8,
    bands: int = 8,
    planes_per_band: int = 4,
    chunk: int = 4096,
    n_salt: int = 2,
    block_cap: int = 1024,
    extra_bits: int = 6,
    identical: str = "star",
) -> DataFrame:
    """Model-free semantic near-dup: cosine pairs over the feature-hashed
    document vectors (textpipe.hashed_doc_vectors), blocked by banded
    random-hyperplane LSH buckets over those same vectors — the
    text-side twin of embedding_neardup_pairs that needs no embedding
    model. Unit vectors make cosine a plain dot fold; zero-vector docs
    (no tokens) score 0 against everything and never pair.

    Scale shape: each doc lands in ``bands`` buckets (disjoint plane
    sets); per-(band, bucket) groups run the exact pair kernel, then
    pairs found in several bands dedup to one row. Blocks are
    SIZE-BOUNDED: any (band, bucket) holding more than ``block_cap``
    rows is recursively sub-split by ``extra_bits`` fresh hyperplane
    bits (two levels, ~4096x shrink — see
    ann.banded_bucket_frame_split), so a duplicate-heavy corpus cannot
    put O(corpus) rows of merely-correlated docs into one block
    (measured: one bucket held 44% of a 50k-doc corpus -> 145M
    candidate pairs, 158 s; post-split the largest block is 5.9% and
    the run is 22 s). A block still exceeds the cap only when its
    members agree on every extra sign bit — a mutually near-identical
    clique; the salt grid spreads that kernel work across n_salt^2
    tasks.

    ``identical`` controls the OUTPUT SHAPE for bit-identical-vector
    cliques — the one case where even bounded blocks emit quadratic
    rows (a document copied 10M times would otherwise produce ~5e13
    "correct" pairs and the job never finishes):

    - ``"star"`` (default): a narrow xxhash64 duplicate census runs
      first (8-byte keys, map-side combined); corpora with no repeated
      vectors skip contraction entirely, otherwise exact-identical
      vectors among the duplicated-hash rows are grouped (map-side-
      combining groupBy on the vector — mass duplication SHRINKS this
      shuffle, and unique vectors never shuffle wide), each group emits
      representative->member edges only (O(group), cos_sim = the same
      sequential self-dot fold, which also keeps zero-vector docs
      unpaired), and only the representative enters the LSH kernel.
      Components are PRESERVED for identical-clique edges by
      transitivity: any outside doc within threshold of a member is
      within threshold of the bit-identical representative, and
      identical vectors share every LSH bucket, so the (rep, outside)
      edge survives whenever the (member, outside) edge would have.
      Star mode may additionally RECOVER near-threshold non-identical
      pairs that pairs mode loses to hot-block extra-bit attenuation
      (the block-cap census sees deduplicated representatives, so hot
      blocks split less) — recall strictly improves; the two modes'
      components coincide except where pairs mode had already dropped
      a true edge. Output is O(n) per clique.
    - ``"pairs"``: the full quadratic pair set inside identical
      cliques (the pre-round-10 behavior) for callers that need every
      pairwise score materialized.

    The
    kernel's candidate mask is computed in row chunks of ``chunk`` so
    per-task temp memory is O(chunk * block) regardless. For a pair
    with per-plane collision prob p (= 1 - theta/pi), miss prob is
    (1 - p^planes_per_band)^bands — at threshold 0.8 and the 4x8
    default, ~1.7% miss in cold blocks; pairs inside hot blocks must
    also agree on the extra planes (near-exact duplicates keep >99%
    per-band collision, threshold-grade pairs are attenuated — the
    standard LSH price of bounding block size, mirrored exactly in the
    oracle).

    All-pairs dots within a block are vectorized-but-bit-exact: a GEMM
    candidate mask (1e-9 slack, lossless for unit vectors), then exact
    dots for kept pairs accumulated per dimension ascending — the
    sequential-fold order — so cos_sim is bit-identical to the
    zip_with/aggregate shape and the SQL oracle. The oracle computes
    the SAME banded buckets (deterministic integer-seeded planes, Arrow
    twin bit-parity pinned by test_lsh_numpy_parity), so blocking
    parity is exact, not just approximate.

    Each row carries ALL of its band buckets, and a pair is emitted
    only by the FIRST band whose buckets collide: a pair found in k
    bands used to be rescored and emitted k times then dropDuplicates'd
    (a shuffle of ~7x the result set on this corpus); now it is scored
    once and the dedup shuffle is gone.

    Hot buckets are salted: every doc lands in ``n_salt`` deterministic
    sub-groups per (band, bucket) block and the kernel runs over the
    n_salt*(n_salt+1)/2 sub-group PAIRS — a block that used to be one
    straggler task (the synthetic corpus puts 80% of the docs in one
    bucket; a real corpus's boilerplate cluster does the same at 100 TB)
    is now O(n_salt^2) tasks with the same total work. Measured at
    sf0.1 (1.45M pairs from 5k near-identical docs): 8.9s -> ~3.5s
    min-of-3."""
    from ..cache import persist_tracked
    from ..functions.vector import dot as vec_dot
    from .ann import banded_bucket_frame_split
    from .textpipe import hashed_doc_vectors

    if identical not in ("star", "pairs"):
        raise ValueError(f"identical must be 'star' or 'pairs', got {identical!r}")

    # persisted: the splitter's hotness census and the final bucket pass
    # both scan the vectors; without the persist the corpus tokenizes
    # twice (Spark does not CSE across jobs)
    vecs = persist_tracked(hashed_doc_vectors(docs, dim))
    star = None
    if identical == "star":
        # cheap duplicate census first: one map-side-combined agg over an
        # 8-byte xxhash64 of the vector (narrow shuffle — never the
        # dim-wide array). A corpus with no repeated vectors (the common
        # case) skips the contraction machinery entirely; otherwise only
        # the clique-candidate rows (duplicated hashes) enter the wide
        # array-keyed groupBy, so unique vectors never shuffle wide.
        # Hash collisions between DISTINCT vectors are harmless: they
        # only widen the candidate set — grouping inside it stays on the
        # actual vector, so semantics are exact (no collision gamble).
        hashed = vecs.withColumn("_h", F.xxhash64("vec"))
        # persisted: three consumers (isEmpty gate, semi join, left_anti
        # join) — without it the corpus-wide census agg re-executes per
        # consumer (Spark does not CSE across join sides)
        dup_h = persist_tracked(
            hashed.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") > 1)
            .select("_h")
        )
        if not dup_h.isEmpty():
            dupes = hashed.join(dup_h, "_h", "semi")
            # groupBy on the full vector, but only over clique-candidate
            # rows; still partial-aggregates map-side, so a 10M-copy
            # document collapses to one row per input partition before
            # the shuffle, and the tag-back join is AQE skew-split if a
            # clique dominates
            reps = dupes.groupBy("vec").agg(F.min("doc_id").alias("_rep"))
            tagged = persist_tracked(dupes.join(reps, "vec"))
            star = (
                tagged.filter(F.col("doc_id") != F.col("_rep"))
                .select(
                    F.col("_rep").alias("doc_a"),
                    F.col("doc_id").alias("doc_b"),
                    # self-dot in the canonical sequential fold order —
                    # the exact value the kernel would have scored this
                    # pair at (identical vectors), and 0.0 < threshold
                    # for the zero-vector (token-less) clique, which
                    # must not pair
                    vec_dot(F.col("vec"), F.col("vec")).alias("cos_sim"),
                )
                .filter(F.col("cos_sim") >= F.lit(threshold))
            )
            vecs = (
                hashed.join(dup_h, "_h", "left_anti")
                .select("doc_id", "vec")
                .unionByName(
                    tagged.filter(F.col("doc_id") == F.col("_rep")).select(
                        "doc_id", "vec"
                    )
                )
            )
    banded = banded_bucket_frame_split(
        vecs, "vec", dim, bands, planes_per_band, extra_bits=extra_bits, cap=block_cap
    )
    # salt grid: doc in sub-group g joins every task (min(g,h), max(g,h))
    # — each unordered sub-group pair meets in exactly one task, so each
    # candidate pair is still examined exactly once
    banded = banded.withColumn(
        # pmod, not % — negative doc_id must still land in [0, n_salt)
        "_g", F.pmod(F.col("doc_id"), F.lit(n_salt)).cast("int")
    ).withColumn(
        "_ab",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_salt - 1}), "
                "h -> struct(least(_g, h) AS a, greatest(_g, h) AS b))"
            )
        ),
    ).select(
        "doc_id", "vec", "bands", "band", "bucket", "_g",
        F.col("_ab.a").alias("_a"), F.col("_ab.b").alias("_b"),
    )

    empty = pd.DataFrame(
        {
            "doc_a": pd.Series([], dtype=np.int64),
            "doc_b": pd.Series([], dtype=np.int64),
            "cos_sim": pd.Series([], dtype=np.float64),
        }
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        band = int(pdf["band"].iloc[0])
        ga, gb = int(pdf["_a"].iloc[0]), int(pdf["_b"].iloc[0])
        if ga == gb:
            left = right = pdf
            triangular = True
        else:
            g = pdf["_g"].to_numpy()
            left, right = pdf[g == ga], pdf[g == gb]
            triangular = False
        if len(left) == 0 or len(right) == 0 or len(pdf) < 2:
            return empty
        ids_l = left["doc_id"].to_numpy(dtype=np.int64)
        ids_r = right["doc_id"].to_numpy(dtype=np.int64)
        mat_l = np.array(list(left["vec"]), dtype=np.float64)
        mat_r = mat_l if triangular else np.array(list(right["vec"]), dtype=np.float64)
        allb_l = np.array(list(left["bands"]), dtype=np.int32)
        allb_r = np.array(list(right["bands"]), dtype=np.int32)
        # fp32 copies for the candidate-mask GEMM (memory-bandwidth
        # bound — ~1.6x the fp64 GEMM) and contiguous transposes for
        # the exact fold (contiguous-row gathers, ~2x the strided
        # mat[ii, d] form; values identical — same elements, same
        # multiply/add order). Slack widens with the fp32 error bound:
        # unit vectors, so |approx32 - exact| <= ~dim * eps_f32.
        f32_l = mat_l.astype(np.float32)
        f32_r = f32_l if triangular else mat_r.astype(np.float32)
        t_l = np.ascontiguousarray(mat_l.T)
        t_r = t_l if triangular else np.ascontiguousarray(mat_r.T)
        dim_b = mat_l.shape[1]
        slack = 1e-4 + dim_b * 1e-6
        parts: list[pd.DataFrame] = []
        # chunked candidate mask: bounds temp memory at chunk*|right|
        # floats even if a bucket is hot; exactness is unaffected — the
        # mask only prunes (the keep decision below is on the exact
        # fold), and the slack over-admits near-threshold candidates
        # rather than ever dropping a true pair.
        for c0 in range(0, len(ids_l), chunk):
            c1 = min(c0 + chunk, len(ids_l))
            approx = f32_l[c0:c1] @ f32_r.T
            ii, jj = np.nonzero(approx >= threshold - slack)
            ii = ii + c0
            if triangular:
                keep = ii < jj  # upper triangle: each in-group pair once
                ii, jj = ii[keep], jj[keep]
            if len(ii) == 0:
                continue
            # first-shared-band ownership: this band scores the pair
            # only if no earlier band already bucketed it together
            # (eq[:, band] is True by construction, so argmax finds the
            # first colliding band)
            first = (allb_l[ii] == allb_r[jj]).argmax(axis=1)
            own = first == band
            ii, jj = ii[own], jj[own]
            if len(ii) == 0:
                continue
            # exact dots for the kept pairs only: fold_dot's accumulation,
            # written out to gather rows of the d-major transposes
            # (~5x fold_dot over gathered rows, see the same loop in
            # embedding_neardup_pairs)
            sims = np.zeros(len(ii), dtype=np.float64)
            for d in range(dim_b):
                sims += t_l[d][ii] * t_r[d][jj]
            kf = sims >= threshold
            ii, jj, sims = ii[kf], jj[kf], sims[kf]
            lo = np.minimum(ids_l[ii], ids_r[jj])
            hi = np.maximum(ids_l[ii], ids_r[jj])
            parts.append(pd.DataFrame({"doc_a": lo, "doc_b": hi, "cos_sim": sims}))
        if not parts:
            return empty
        return pd.concat(parts, ignore_index=True)

    # every unique pair is emitted by exactly one (its first) band and
    # exactly one salt task — no duplicates, so no dropDuplicates
    out = banded.groupBy("band", "bucket", "_a", "_b").applyInPandas(
        block_pairs, "doc_a long, doc_b long, cos_sim double"
    )
    if star is not None:
        # star edges have rep = group-min doc_id, so doc_a < doc_b holds
        # on both branches; the union is plan-level only (no shuffle)
        out = out.unionByName(star)
    return out
