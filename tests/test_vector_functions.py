from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectorsearch_with_hnsw_spark.functions.vector import (
    cosine_distance,
    dot,
    l2_distance,
    l2_norm,
    l2_normalize,
    metric_expr,
    normalize_pixels,
    to_vec,
    validate_dim,
)


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
        (2, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
        (3, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),  # zero-norm guard
        (4, [2.0, 0.0, 0.0], [-2.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "id int, a array<double>, b array<double>")


def _vals(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def test_l2(pairs):
    v = _vals(pairs.select("id", l2_distance(F.col("a"), F.col("b")).alias("d")), "d")
    assert v[1] == pytest.approx(math.sqrt(2))
    assert v[2] == 0.0
    assert v[4] == 4.0


def test_cosine_and_zero_norm_guard(pairs):
    v = _vals(pairs.select("id", cosine_distance(F.col("a"), F.col("b")).alias("d")), "d")
    assert v[1] == pytest.approx(1.0)  # orthogonal
    assert v[2] == pytest.approx(0.0)  # identical
    assert v[3] == 1.0  # EXACTLY 1.0: reference zero-norm contract
    assert v[4] == pytest.approx(2.0)  # opposite

def test_dot_and_norm(pairs):
    v = _vals(pairs.select("id", dot(F.col("a"), F.col("b")).alias("d")), "d")
    assert v[2] == 14.0
    n = _vals(pairs.select("id", l2_norm(F.col("a")).alias("n")), "n")
    assert n[2] == pytest.approx(math.sqrt(14))


def test_metric_registry():
    assert metric_expr("l2") is l2_distance
    assert metric_expr("cosine") is cosine_distance
    with pytest.raises(ValueError, match="Unknown metric"):
        metric_expr("dotproduct")


def test_validate_dim_and_normalize(pairs):
    ok = _vals(pairs.select("id", validate_dim(F.col("a"), 3).alias("ok")), "ok")
    assert all(ok.values())
    norm = _vals(
        pairs.select("id", F.element_at(normalize_pixels(F.col("a")), 1).alias("h")), "h"
    )
    assert norm[4] == pytest.approx(2.0 / 255.0)


def test_distances_stay_native(pairs):
    """Distance expressions must not introduce Python UDF nodes."""
    df = pairs.select(l2_distance(to_vec("a"), to_vec("b")).alias("d"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_l2_normalize_unit_and_zero_guard(pairs):
    out = pairs.select(
        "id",
        l2_norm(l2_normalize(F.col("a"))).alias("n"),
        F.element_at(l2_normalize(F.col("a")), 1).alias("h"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[2]["n"] == pytest.approx(1.0)
    assert by_id[2]["h"] == pytest.approx(1.0 / math.sqrt(14.0))
    assert by_id[3]["n"] == 0.0  # zero vector passes through, no NaN
    assert by_id[4]["h"] == pytest.approx(1.0)


# -- hypothesis: the numpy fold twins vs their Catalyst expressions -------

from hypothesis import given, settings, strategies as st  # noqa: E402


@pytest.fixture(scope="module")
def spark_holder(spark):
    # hypothesis forbids function-scoped fixtures interacting with @given
    return spark


def _vectors(dim: int):
    """Zero, one-hot and dense mixed-sign vectors, at subnormal-product
    (1e-160), unit and near-overflow-product (1e150) scales."""
    scale = st.sampled_from([1e-160, 1.0, 1e150])
    zero = st.just([0.0] * dim)
    onehot = st.tuples(st.integers(0, dim - 1), scale, st.sampled_from([-1.0, 1.0, 3.0])).map(
        lambda t: [t[1] * t[2] if i == t[0] else 0.0 for i in range(dim)]
    )
    dense = st.tuples(
        st.lists(st.floats(-1.0, 1.0, allow_nan=False), min_size=dim, max_size=dim), scale
    ).map(lambda t: [x * t[1] for x in t[0]])
    return st.one_of(zero, onehot, dense)


@st.composite
def _pair_batches(draw):
    dim = draw(st.integers(1, 64))
    vec = _vectors(dim)
    # b = a half the time: identical rows, where cosine sits at 0
    pair = st.tuples(vec, st.one_of(vec, st.none())).map(lambda t: (t[0], t[1] or t[0]))
    pairs = draw(st.lists(pair, min_size=1, max_size=8))
    return pairs + pairs[:1]  # a repeated row in every batch


def _same_bits(got, want) -> bool:
    got, want = np.asarray(got, dtype=np.float64), np.asarray(want, dtype=np.float64)
    both_nan = np.isnan(got) & np.isnan(want)
    same = (got == want) & (np.signbit(got) == np.signbit(want))
    return bool((both_nan | same).all())


@settings(max_examples=25, deadline=None, derandomize=True)
@given(pairs=_pair_batches())
def test_fold_twins_match_expressions_bit_for_bit(spark_holder, pairs):
    """Each numpy fold twin equals its Catalyst expression bit for bit
    (NaN equal to NaN), one Spark round trip per batch of pairs."""
    from vectorsearch_with_hnsw_spark.functions.vector import (
        fold_cosine,
        fold_dot,
        fold_sq_l2,
    )

    df = spark_holder.createDataFrame(pairs, "a array<double>, b array<double>")
    rows = df.select(
        dot(F.col("a"), F.col("b")).alias("dot"),
        l2_distance(F.col("a"), F.col("b")).alias("l2"),
        l2_norm(F.col("a")).alias("norm"),
        cosine_distance(F.col("a"), F.col("b")).alias("cos"),
    ).collect()
    A = np.array([p[0] for p in pairs], dtype=np.float64)
    B = np.array([p[1] for p in pairs], dtype=np.float64)
    assert _same_bits([r["dot"] for r in rows], fold_dot(A, B))
    assert _same_bits([r["l2"] for r in rows], np.sqrt(fold_sq_l2(A, B)))
    assert _same_bits([r["norm"] for r in rows], np.sqrt(fold_dot(A, A)))
    want_cos = fold_cosine(fold_dot(A, B), fold_dot(A, A), fold_dot(B, B))
    assert _same_bits([r["cos"] for r in rows], want_cos)
