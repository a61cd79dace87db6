"""Small reference-parity surfaces: formatting, flatten, load-or-build,
plus hypothesis-driven property checks of the distance expressions."""

from __future__ import annotations

import json
import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from vectorsearch_with_hnsw_spark.functions.vector import (
    cosine_distance,
    flatten_image,
    l2_distance,
)
from vectorsearch_with_hnsw_spark.operators.knn import format_results, knn_exact
from vectorsearch_with_hnsw_spark.sources import load_table


def test_format_results(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = format_results(knn_exact(emb, q, k=3)).collect()
    for r in out:
        assert len(r["dist_fmt"].split(".")[-1]) == 4  # 4-decimal strings


def test_flatten_image(spark):
    df = spark.createDataFrame(
        [(1, [[1.0, 2.0], [3.0, 4.0]])], "id int, img array<array<double>>"
    )
    row = df.select(flatten_image(F.col("img")).alias("v")).first()
    assert row["v"] == [1.0, 2.0, 3.0, 4.0]  # row-major, like reshape(-1)


def test_load_or_build_caching(spark, sf_smoke, tmp_path):
    from vectorsearch_with_hnsw_spark.index.build import HnswParams, load_or_build
    from vectorsearch_with_hnsw_spark.operators.synth import synthetic_vectors

    vecs = synthetic_vectors(spark, 100, 16, seed=3)
    path = str(tmp_path / "cached_idx")
    a = load_or_build(spark, path, vecs, HnswParams(dim=16), num_partitions=2)
    n_edges = a.edges.count()
    # second call must read the persisted artifact, not rebuild
    b = load_or_build(spark, path, vecs.limit(1), HnswParams(dim=16))
    assert b.edges.count() == n_edges
    assert b.nodes.count() == 100


def test_load_or_build_never_overwrites_a_saved_index(spark, tmp_path):
    """A saved index that fails to load raises; load_or_build builds
    only when the path does not exist, so it never replaces the saved
    tables with a fresh build of whatever vectors it was handed."""
    from vectorsearch_with_hnsw_spark.index.build import HnswParams, load_or_build
    from vectorsearch_with_hnsw_spark.operators.synth import synthetic_vectors

    vecs = synthetic_vectors(spark, 100, 16, seed=3)
    path = str(tmp_path / "saved_idx")
    load_or_build(spark, path, vecs, HnswParams(dim=16), num_partitions=2)
    # one unknown key in the params sidecar makes HnswIndex.load raise
    raw = json.loads(spark.read.json(f"{path}/params").first()["params_json"])
    raw["unknown_key"] = 1
    spark.createDataFrame([(json.dumps(raw),)], "params_json string").coalesce(1).write.mode(
        "overwrite"
    ).json(f"{path}/params")
    with pytest.raises(TypeError):
        load_or_build(spark, path, vecs.limit(5), HnswParams(dim=16))
    assert spark.read.parquet(f"{path}/nodes").count() == 100


# -- hypothesis: expression semantics vs numpy ground truth --------------

vec_strategy = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(max_examples=30, deadline=None)
@given(a=vec_strategy, b=vec_strategy)
def test_distance_exprs_match_numpy(spark_holder, a, b):
    spark = spark_holder
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        l2_distance(F.col("a"), F.col("b")).alias("l2"),
        cosine_distance(F.col("a"), F.col("b")).alias("cos"),
    ).first()
    na, nb = np.array(a), np.array(b)
    assert row["l2"] == pytest.approx(float(np.linalg.norm(na - nb)), rel=1e-9, abs=1e-12)
    denom = np.linalg.norm(na) * np.linalg.norm(nb)
    want_cos = 1.0 if denom == 0 else 1.0 - float(na @ nb) / denom
    assert row["cos"] == pytest.approx(want_cos, rel=1e-9, abs=1e-12)


@pytest.fixture(scope="module")
def spark_holder(spark):
    # hypothesis forbids function-scoped fixtures interacting with @given;
    # module-scoped pass-through keeps one SparkSession across examples
    return spark


@settings(max_examples=15, deadline=None)
@given(
    vec=st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=8,
        max_size=8,
    ),
    scale=st.sampled_from([1e-12, 1e-6, 1.0, 1e6]),
)
def test_numpy_band_buckets_matches_sql_adversarially(spark_holder, vec, scale):
    """numpy_band_buckets vs the SQL fold on ADVERSARIAL vectors: tiny
    and huge magnitudes push plane dots toward the zero boundary and
    the extremes of the float range — exactly where a fold-order
    divergence would flip a sign bit. The testdata parity test
    (test_lsh_numpy_parity) covers realistic inputs; this covers the
    hostile ones."""
    from vectorsearch_with_hnsw_spark.operators.ann import (
        bands_from_signature_sql,
        numpy_band_buckets,
        sign_signature_sql,
    )

    spark = spark_holder
    v = [float(x) * scale for x in vec]
    bands, ppb, dim = 4, 4, 8
    df = spark.createDataFrame([(v,)], "v array<double>")
    folded = F.expr(
        bands_from_signature_sql(sign_signature_sql("v", bands * ppb, dim), bands, ppb)
    )
    sql_buckets = [s["bucket"] for s in df.select(folded.alias("f")).first()["f"]]
    np_buckets = numpy_band_buckets(
        np.array([v], dtype=np.float64), bands, ppb
    )[0].tolist()
    assert np_buckets == sql_buckets


def test_asof_join_semantics(spark):
    """Edge semantics of the generic as-of join: later right rows never
    attach, equal-ts attaches, ties resolve to max order_col, keys don't
    leak across, and left rows before any right row get NULLs."""
    from vectorsearch_with_hnsw_spark.operators.relational import asof_join

    right = spark.createDataFrame(
        [
            (1, 100, 10.0, 1),
            (1, 100, 99.0, 2),   # tie on ts=100 -> max order wins (99.0)
            (1, 200, 20.0, 3),
            (2, 150, 55.0, 4),
        ],
        "user_id long, ts long, value double, event_id long",
    )
    left = spark.createDataFrame(
        [
            (1, 10, 50, -1.0),    # before any purchase -> NULL
            (1, 11, 100, -2.0),   # equal ts -> attaches (99.0, tie winner)
            (1, 12, 150, -3.0),   # between -> still ts=100
            (1, 13, 250, -4.0),   # after last -> ts=200
            (2, 14, 149, -5.0),   # other key, before its purchase -> NULL
            (2, 15, 151, -6.0),   # other key, after -> 55.0
        ],
        "user_id long, event_id long, ts long, value double",
    )
    out = {
        r["event_id"]: (r["asof_ts"], r["asof_value"])
        for r in asof_join(
            left, right, key="user_id", ts_col="ts",
            payload_cols=["value"], order_col="event_id",
        ).collect()
    }
    assert out[10] == (None, None)
    assert out[11] == (100, 99.0)
    assert out[12] == (100, 99.0)
    assert out[13] == (200, 20.0)
    assert out[14] == (None, None)
    assert out[15] == (150, 55.0)


def test_event_sketch_stats_error_bounds(spark, sf_smoke):
    """Sketches have no cross-engine oracle; the check is the error
    contract itself: HLL++ distinct counts within 5% relative error of
    exact (default rsd=0.05), approx median within the observed value
    range and close to the exact median."""
    from vectorsearch_with_hnsw_spark.operators.relational import event_sketch_stats

    rows = event_sketch_stats(spark, sf_smoke).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["exact_users"] > 0
        rel = abs(r["approx_users"] - r["exact_users"]) / r["exact_users"]
        assert rel <= 0.05, f"{r['event_type']}: HLL rel err {rel}"
        assert abs(r["approx_p50_value"] - r["exact_p50_value"]) <= max(
            0.1 * abs(r["exact_p50_value"]), 1e-9
        )


def test_funnel_steps_ordering_semantics(spark, tmp_path):
    """First-touch funnel: steps must occur in strict temporal order
    after the user's FIRST step-1 event — a click before the first view
    does not count; users without step 1 are outside the funnel; the
    prefix length is reported."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, minutes, etype):
        return (eid, base + dt.timedelta(minutes=minutes), uid, etype, 1.0, "{}")

    rows = [
        # user 1: full ordered chain
        ev(1, 1, 0, "view"), ev(2, 1, 5, "click"), ev(3, 1, 9, "purchase"),
        # user 2: click BEFORE first view -> stuck at step 1
        ev(4, 2, 0, "click"), ev(5, 2, 3, "view"),
        # user 3: view then purchase but no click -> steps_completed 1
        ev(6, 3, 0, "view"), ev(7, 3, 2, "purchase"),
        # user 4: no view at all -> excluded
        ev(8, 4, 0, "click"), ev(9, 4, 1, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    src = str(tmp_path / "events_dir")
    df.write.mode("overwrite").parquet(src + "/events.parquet")
    from vectorsearch_with_hnsw_spark.operators.relational import funnel_steps

    out = {r.user_id: r for r in funnel_steps(spark, src).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].steps_completed == 3
    assert out[1].t1_epoch < out[1].t2_epoch < out[1].t3_epoch
    assert out[2].steps_completed == 1 and out[2].t2_epoch is None
    assert out[3].steps_completed == 1


def test_token_budget_sample_invariants(spark):
    """Per-source prefix rule: every kept row's running total is within
    budget, the pick is deterministic, and a larger budget yields a
    superset (prefix property of the hash order)."""
    from vectorsearch_with_hnsw_spark.operators.textpipe import token_budget_sample

    rows = [(i, " ".join(f"w{j}" for j in range(10 + i)), "en", f"src{i % 2}", 0) for i in range(20)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    small = token_budget_sample(docs, budget_per_source=60).collect()
    assert small and all(r.cum_tokens <= 60 for r in small)
    small2 = token_budget_sample(docs, budget_per_source=60).collect()
    assert {r.doc_id for r in small} == {r.doc_id for r in small2}
    big = token_budget_sample(docs, budget_per_source=120).collect()
    assert {r.doc_id for r in small} <= {r.doc_id for r in big}
    per_src = {}
    for r in big:
        per_src.setdefault(r.source, 0)
        per_src[r.source] += r.n_tokens
    assert all(v <= 120 for v in per_src.values())


def test_signup_cohorts_semantics(spark, tmp_path):
    """Users cohort by their FIRST signup week; activity before signup
    is excluded; week offsets are whole weeks; users who never sign up
    are not in any cohort."""
    import datetime as dt

    monday = dt.datetime(2024, 1, 1, 10, 0)  # a Monday
    rows = [
        # user 1 signs up week 0, active weeks 0 and 2
        (1, monday, 1, "signup", 1.0, "{}"),
        (2, monday + dt.timedelta(days=15), 1, "view", 1.0, "{}"),
        # user 2: activity BEFORE signup (prior week) is excluded
        (3, monday - dt.timedelta(days=3), 2, "view", 1.0, "{}"),
        (4, monday + dt.timedelta(days=1), 2, "signup", 1.0, "{}"),
        # user 3 never signs up
        (5, monday, 3, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    src = str(tmp_path / "ev")
    df.write.mode("overwrite").parquet(src + "/events.parquet")
    from vectorsearch_with_hnsw_spark.operators.relational import signup_cohorts

    out = {(str(r.cohort_week), r.week_offset): r.active_users
           for r in signup_cohorts(spark, src).collect()}
    assert out[("2024-01-01", 0)] == 2   # users 1 and 2 active in cohort week
    assert out[("2024-01-01", 2)] == 1   # user 1 returns in week 2
    assert ("2023-12-25", 0) not in out, "pre-signup activity excluded"
    assert sum(v for (_, off), v in out.items() if off < 0) == 0


def test_session_newest_ops_on_empty_inputs(spark):
    """Empty-input totality for this session's operators: sentence
    segmentation, CMS, z-order write, bloom pruning, embedding outliers,
    and the refine search families all return empty/sane results on
    empty frames instead of raising."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.ann import binary_refine_knn
    from vectorsearch_with_hnsw_spark.operators.ivf import embedding_outliers
    from vectorsearch_with_hnsw_spark.operators.pq import pq_refine_knn
    from vectorsearch_with_hnsw_spark.operators.textpipe import (
        cms_token_estimates,
        cms_token_sketch,
        doc_sentences,
    )
    from vectorsearch_with_hnsw_spark.plans.bloom import bloom_build, bloom_pruned_join, might_contain
    from vectorsearch_with_hnsw_spark.plans.layout import zorder_value

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert doc_sentences(empty_docs).count() == 0
    assert cms_token_sketch(empty_docs).count() == 0
    assert cms_token_estimates(empty_docs).count() == 0

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    empty_q = spark.createDataFrame([], "query_id long, query_vec array<float>")
    assert embedding_outliers(empty_emb, dim=4).count() == 0
    assert pq_refine_knn(empty_emb, empty_q, dim=8, m=2).count() == 0
    assert binary_refine_knn(empty_emb, empty_q, dim=32).count() == 0

    # bloom of an empty dim set admits nothing -> join is empty
    words = bloom_build(spark.createDataFrame([], "k long"), "k")
    probe = spark.range(100).select(F.col("id").alias("k"))
    assert probe.filter(might_contain(words, F.col("k"))).count() == 0
    fact = spark.range(10).select(F.col("id").alias("fk"))
    dim_df = spark.createDataFrame([], "dk long")
    assert bloom_pruned_join(fact, dim_df, "fk", "dk").count() == 0

    # zorder_value on an empty frame is a plain projection
    assert (
        spark.createDataFrame([], "a long, b long")
        .select(zorder_value(F.col("a"), F.col("b")).alias("z"))
        .count()
        == 0
    )


def test_bucket_sql_forms_match_column_form(spark, sf_smoke):
    """The three construction paths for LSH buckets — per-plane Column
    expressions, the one-string band_bucket_sql, and the signature+fold
    pair banded_bucket_frame uses — must produce IDENTICAL bucket
    integers for every vector and band (they are speed knobs, not
    semantic variants; the DuckDB oracle mirrors one shape)."""
    from vectorsearch_with_hnsw_spark.operators.ann import (
        band_bucket_sql,
        bands_from_signature_sql,
        lsh_band_bucket,
        sign_signature_sql,
    )
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = (
        load_table(spark, sf_smoke, "embeddings")
        .limit(80)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    bands, ppb, dim = 3, 8, 64
    cols = {"vec_id": F.col("vec_id")}
    for b in range(bands):
        cols[f"col_{b}"] = lsh_band_bucket(F.col("v"), dim, b, ppb)       # Column path
        cols[f"sql_{b}"] = F.expr(band_bucket_sql("v", dim, b, ppb))      # one-string path
    folded = F.expr(bands_from_signature_sql(sign_signature_sql("v", bands * ppb, dim), bands, ppb))
    rows = emb.select(
        *[c.alias(name) for name, c in cols.items()], folded.alias("fold")
    ).collect()
    for r in rows:
        for b in range(bands):
            assert r[f"col_{b}"] == r[f"sql_{b}"], (r["vec_id"], b)
            assert r[f"col_{b}"] == r["fold"][b]["bucket"], (r["vec_id"], b)
            assert r["fold"][b]["band"] == b


def test_lsh_numpy_parity(spark, sf_smoke):
    """banded_bucket_frame_fast (Arrow/numpy signature) must produce the
    EXACT (doc_id, band, bucket) rows of the SQL-fold banded_bucket_frame
    — on the hashed DOCUMENT vectors, whose plane dots land nearest zero
    (the only place a fold-order divergence could flip a sign bit). The
    per-row ``bands`` array must also agree with the exploded rows."""
    from vectorsearch_with_hnsw_spark.operators.ann import (
        banded_bucket_frame,
        banded_bucket_frame_fast,
    )
    from vectorsearch_with_hnsw_spark.operators.textpipe import hashed_doc_vectors
    from vectorsearch_with_hnsw_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents")
    vecs = hashed_doc_vectors(docs, 64).persist()
    bands, ppb = 8, 4
    slow = {
        (r["doc_id"], r["band"]): r["bucket"]
        for r in banded_bucket_frame(vecs, "vec", 64, bands, ppb).collect()
    }
    fast_rows = banded_bucket_frame_fast(vecs, "vec", 64, bands, ppb).collect()
    fast = {(r["doc_id"], r["band"]): r["bucket"] for r in fast_rows}
    assert fast == slow
    for r in fast_rows:
        assert r["bands"][r["band"]] == r["bucket"]
    vecs.unpersist()


def test_mix_corpus_temperature_pow_path_runs(spark, sf_smoke):
    """alpha != 0.5 takes the pow() weight path (production-fine, not
    oracle-exact): still deterministic, still keeps the smallest source
    whole, and flattens less at alpha closer to 1."""
    from collections import Counter

    from vectorsearch_with_hnsw_spark.operators.textpipe import mix_corpus_temperature
    from vectorsearch_with_hnsw_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents")
    half = Counter(r.source for r in mix_corpus_temperature(docs, alpha=0.5).collect())
    mild = Counter(r.source for r in mix_corpus_temperature(docs, alpha=0.9).collect())
    n_src = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    nb = min(n_src.values())
    biggest = max(n_src, key=lambda s: (n_src[s], s))
    assert mild[biggest] >= half[biggest], "alpha→1 keeps more of the big source"
    binding = min(s for s, n in n_src.items() if n == nb)
    assert mild[binding] == nb


def test_deployed_recall_rows_match_dispatch(spark, sf_smoke):
    """DEPLOYED_RECALL_ROWS (the method -> registry-exhibit map; bench's
    recall_min_deployed additionally measures each method directly at
    its dispatch defaults) cannot drift from similarity_search's routing:
    for every mapped method, the kernel the dispatch calls must be the
    SAME function the named registry row measures — verified by
    patching the kernel and observing both call sites hit it."""
    from unittest import mock

    from vectorsearch_with_hnsw_spark.operators.search import (
        DEPLOYED_RECALL_ROWS,
        METHODS,
        similarity_search,
    )
    from vectorsearch_with_hnsw_spark.registry import REGISTRY

    # coverage: every non-exact, non-hnsw method has a deployed row
    # (the hnsw families report their own hnsw_recall_at_10 keys)
    uncovered = set(METHODS) - set(DEPLOYED_RECALL_ROWS) - {
        "exact", "exact_fast", "hnsw", "hnsw_rescored", "hnsw_routed"
    }
    assert not uncovered, f"methods without a deployed recall row: {uncovered}"

    kernels = {
        "lsh": ("vectorsearch_with_hnsw_spark.operators.ann", "lsh_knn_cosine"),
        "ivf": ("vectorsearch_with_hnsw_spark.operators.ivf", "ivf_knn_cosine"),
        "ivf_kmeans": ("vectorsearch_with_hnsw_spark.operators.ivf", "ivf_kmeans_knn"),
        "sq8": ("vectorsearch_with_hnsw_spark.operators.quantize", "sq8_refine_knn"),
        "sq8_refine": ("vectorsearch_with_hnsw_spark.operators.quantize", "sq8_refine_knn"),
        "ivf_sq8": ("vectorsearch_with_hnsw_spark.operators.quantize", "ivf_sq8_refine_knn"),
        "ivf_sq8_refine": ("vectorsearch_with_hnsw_spark.operators.quantize", "ivf_sq8_refine_knn"),
        "pq": ("vectorsearch_with_hnsw_spark.operators.pq", "pq_refine_knn"),
        "pq_refine": ("vectorsearch_with_hnsw_spark.operators.pq", "pq_refine_knn"),
        "ivf_pq": ("vectorsearch_with_hnsw_spark.operators.pq", "ivf_pq_refine_knn"),
        "ivf_pq_refine": ("vectorsearch_with_hnsw_spark.operators.pq", "ivf_pq_refine_knn"),
        "binary": ("vectorsearch_with_hnsw_spark.operators.ann", "binary_refine_knn"),
        "binary_refine": ("vectorsearch_with_hnsw_spark.operators.ann", "binary_refine_knn"),
        "matryoshka": ("vectorsearch_with_hnsw_spark.operators.ann", "matryoshka_knn"),
    }
    assert set(kernels) == set(DEPLOYED_RECALL_ROWS)

    base = load_table(spark, sf_smoke, "embeddings")
    queries = base.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for method, (module, fn) in kernels.items():
        row = DEPLOYED_RECALL_ROWS[method]
        with mock.patch(f"{module}.{fn}") as m:
            # dispatch side: similarity_search(method) must call the kernel
            out = similarity_search(base, queries, method=method, dim=64)
            assert m.called, f"{method}: dispatch did not reach {module}.{fn}"
            assert out is m.return_value
        # measurement side: the registry row must measure the SAME kernel.
        # Rows that bind the kernel at registry import time are patched
        # at the registry binding, with an identity check tying that
        # binding back to the dispatch's kernel.
        import importlib

        import vectorsearch_with_hnsw_spark.registry as reg_mod

        if hasattr(reg_mod, fn):
            assert getattr(reg_mod, fn) is getattr(importlib.import_module(module), fn)
            target = f"vectorsearch_with_hnsw_spark.registry.{fn}"
        else:
            target = f"{module}.{fn}"
        with mock.patch(target) as m2:
            REGISTRY[row][0](spark, sf_smoke)
            assert m2.called, f"row {row} does not measure {module}.{fn}"


def test_leakage_safe_split_contract(spark, sf_oracle):
    """Every near-dup cluster lands in exactly one split; docs outside
    any dup pair keep their plain dataset_split assignment (the two ops
    agree on singletons by construction)."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators import dedup as D
    from vectorsearch_with_hnsw_spark.operators.textpipe import (
        dataset_split,
        leakage_safe_split,
    )
    from vectorsearch_with_hnsw_spark.sources import load_table

    docs = load_table(spark, sf_oracle, "documents")
    pairs = D.minhash_lsh_pairs(docs)
    out = leakage_safe_split(docs, pairs)

    # total: one row per document
    assert out.count() == docs.count()

    # every cluster maps to exactly one split — the leakage guarantee
    multi = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert multi == 0

    # paired docs share their representative's split
    joined = (
        pairs.join(
            out.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            out.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
    )
    assert joined.count() > 0, "expected near-dup pairs in the oracle corpus"
    assert joined.filter(F.col("sa") != F.col("sb")).count() == 0

    # singletons agree with the plain per-doc split
    clustered = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    plain = dataset_split(docs).select("doc_id", F.col("split").alias("plain_split"))
    disagree = (
        out.join(clustered, "doc_id", "left_anti")
        .join(plain, "doc_id")
        .filter(F.col("split") != F.col("plain_split"))
        .count()
    )
    assert disagree == 0
