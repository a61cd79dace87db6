"""Vector distance / norm expressions as native Column factories.

Pure Catalyst higher-order-function expressions — no UDFs — so distance
math stays inside whole-stage codegen and is eligible for pushdown /
pruning around it. Semantics mirror the reference exactly:

- L2: euclidean norm of the difference (reference ``l2_distance``,
  hsnw_trial.py:44-45).
- cosine: ``1 - dot/(||a||*||b||)`` with the zero-norm guard returning
  exactly 1.0 (reference ``cosine_distance``, hsnw_trial.py:48-54).
- metric registry keyed by name, unknown metric raises ValueError
  (reference ``_METRICS`` dispatch, hsnw_trial.py:57-60, 88-89).
- float32 storage, dimension validation on use (hsnw_trial.py:199-201).

All arithmetic is done in DOUBLE with a left-to-right fold
(``aggregate`` over ``zip_with``) so results are bit-identical to any
engine evaluating the same fold shape — this is what makes the DuckDB
oracle hash-stable without rounding tricks.

The numpy twins of those folds live here too (``fold_dot``,
``fold_sq_l2``, ``fold_cosine``): every Arrow kernel that promises
bit-identity with an expression scores through them, so the fold order
and the zero-norm guard are written once.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def to_vec(col: Column | str) -> Column:
    """Cast an array column to array<double> for exact, overflow-free math."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Inner product as a sequential double fold (bit-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def l2_distance(a: Column, b: Column) -> Column:
    """Euclidean distance; same contract as reference l2 (hsnw_trial.py:44-45)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_distance(a: Column, b: Column) -> Column:
    """1 - cosine similarity, returning exactly 1.0 when either norm is 0
    (reference zero-norm guard, hsnw_trial.py:51-52)."""
    na = l2_norm(a)
    nb = l2_norm(b)
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(1.0)).otherwise(
        F.lit(1.0) - dot(a, b) / (na * nb)
    )


def l2_normalize(a: Column) -> Column:
    """Project a vector onto the unit sphere; zero vectors pass through
    unchanged rather than producing NaNs (the same zero-norm guard the
    reference's cosine uses, hsnw_trial.py:51-52). Pure higher-order
    expression — stays in whole-stage codegen, no UDF."""
    n = l2_norm(a)
    return F.when(n == F.lit(0.0), a).otherwise(F.transform(a, lambda x: x / n))


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """numpy twin of ``dot``: sum of ``a * b`` over the last axis,
    accumulated one dimension at a time in ascending order from 0.0 —
    the expression's fold, elementwise across the broadcast leading
    axes. IEEE add and multiply are correctly rounded and commutative,
    so each element equals the expression's value bit for bit. Computes
    in the inputs' dtype; an empty last axis gives zeros."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]), np.result_type(a, b))
    for d in range(a.shape[-1]):
        acc += a[..., d] * b[..., d]
    return acc


def fold_sq_l2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """numpy twin of the fold inside ``l2_distance``: sum of
    ``(a - b)^2`` over the last axis, dimension-ascending from 0.0, with
    broadcasting over the leading axes (``sqrt`` of it is
    ``l2_distance``; negation is exact, so operand order is free)."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]), np.result_type(a, b))
    for d in range(a.shape[-1]):
        diff = a[..., d] - b[..., d]
        acc += diff * diff
    return acc


def fold_cosine(dot: np.ndarray, a2: np.ndarray, b2: np.ndarray) -> np.ndarray:
    """numpy twin of ``cosine_distance`` from its folds: ``dot`` =
    ``fold_dot(a, b)``, ``a2`` / ``b2`` = ``fold_dot(a, a)`` /
    ``fold_dot(b, b)`` (broadcastable). ``1 - dot / (|a| * |b|)``, and
    exactly 1.0 wherever either norm is 0 — the expression's own
    guard."""
    na, nb = np.sqrt(a2), np.sqrt(b2)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = 1.0 - dot / (na * nb)
    return np.where((na == 0.0) | (nb == 0.0), 1.0, out)


METRICS: dict[str, Callable[[Column, Column], Column]] = {
    "l2": l2_distance,
    "cosine": cosine_distance,
}


def metric_expr(name: str) -> Callable[[Column, Column], Column]:
    """Metric dispatch with the reference's unknown-metric error
    (hsnw_trial.py:88-89)."""
    if name not in METRICS:
        raise ValueError(f"Unknown metric '{name}'. Available: {sorted(METRICS)}")
    return METRICS[name]


def validate_dim(vec: Column, dim: int) -> Column:
    """Boolean predicate: vector has the expected dimensionality
    (reference dim check on every insert/query, hsnw_trial.py:199, 269)."""
    return F.size(vec) == F.lit(dim)


def flatten_image(mat: Column) -> Column:
    """Row-major flatten of a nested array (image matrix -> vector): the
    FashionMNIST reshape(n, -1) projection (notebook cell 4) as a pure
    higher-order function."""
    return F.flatten(mat)


def normalize_pixels(vec: Column, denom: float = 255.0) -> Column:
    """Per-element ``x / denom`` projection — the FashionMNIST
    flatten+normalize step (`/255.0`, FashionMNIST notebook cell 4) as a
    pure higher-order projection (no shuffle, codegen'd)."""
    return F.transform(to_vec(vec), lambda x: x / F.lit(denom))
