"""Unified similarity-search API (SURVEY.md §7 P5).

One entry point over every ANN/exact family the engine implements, so a
caller picks a recall/cost point by name instead of learning ten
operator signatures:

| method                    | recall profile              | cost profile                         |
|---------------------------|-----------------------------|--------------------------------------|
| exact                     | 1.0 (definition)            | O(N·Q) declarative plan              |
| exact_fast                | 1.0 (bit-identical)         | O(N·Q) BLAS partial top-k            |
| hnsw                      | ~1.0 at defaults            | O(ef·Q) probes after build           |
| hnsw_rescored             | = exact when shortlist covers top-k | probes + 4k·Q exact re-scores |
| hnsw_routed               | ~0.93 at P=128 (worst case) | ~3·sqrt(P) cells probed — sublinear in P |
| lsh                       | medium-high                 | band-bucket joins only               |
| ivf                       | high (probe-tuned)          | cell-pruned full vectors             |
| ivf_kmeans                | high (trained)              | cell-pruned, kmeans-routed           |
| sq8 = sq8_refine          | ~1.0 (exact re-rank)        | 4x-smaller-code scan + expand·k reads |
| ivf_sq8 = ivf_sq8_refine  | high (exact re-rank)        | cell-pruned code scan + expand·k reads |
| pq = pq_refine            | high (exact re-rank)        | ADC shortlist + expand·k reads       |
| ivf_pq = ivf_pq_refine    | high within probes          | pruned ADC + expand·k reads          |
| binary = binary_refine    | high (exact re-rank)        | bit scan + expand·k reads            |
| matryoshka                | high (exact rescore)        | prefix scan + refine·k full reads    |

Each row is one entry of the dispatch table ``_TABLE``; a name after
``=`` is an alias of the same entry (same kernel, same defaults, same
deployed recall row). Every sketch family deploys its shortlist with
the one exact re-rank tail (``knn._exact_rerank``).

Every method takes the same (base, queries) relations — base
``(vec_id, embedding)``-shaped, queries ``(query_id, query_vec)`` — and
returns at least ``(query_id, neighbor_id, rnk)`` with a
family-specific score column. Measured recalls on the synthetic
testdata are published by bench.py (``extra.recall_*``); every method
here clears recall@10 >= 0.8 at its defaults (per-method probe widths
in ``_DEFAULT_PROBES``, lsh band count tuned for the bar; the
pq/binary/ivf_sq8 names deploy their shortlist with the exact re-rank
on top), and tests/test_knn.py gates the sweep at a 0.75 floor so the
margin is mechanical. The raw shortlist stages (Hamming sketch 0.21,
ADC ~0.5, SQ8-ranked probe — candidate generators, not final rankings)
stay reachable directly as ``operators.ann.binary_sign_knn``,
``operators.pq.pq_adc_knn``, ``operators.pq.ivf_pq_knn``,
``operators.quantize.sq8_knn`` and ``operators.quantize.ivf_sq8_knn``.
"""

from __future__ import annotations

from importlib import import_module
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class _Kernel(NamedTuple):
    module: str                # operators module holding the kernel
    fn: str                    # kernel name, resolved at call time
    takes: tuple = ()          # dispatch arguments it takes besides k
    index: str | None = None   # artifact class (same module) an index= must be
    row: str | None = None     # registry row measuring this kernel's recall
    alias: str | None = None   # second method name for the same entry


# The one dispatch table. The sketch families route to their refine
# forms (ADC/Hamming/SQ8 rankings are shortlist stages, never served
# raw); each ``*_refine`` name is an alias of its family. ``row`` is
# the bench/registry row that measures the EXACT kernel deployed — the
# raw shortlist recalls (binary_sign_ann 0.21, ivf_pq_ann 0.49,
# pq_adc_ann 0.52) are cost-profile exhibits, not deployed floors.
# bench.py's "recall_min_deployed" headline goes one step further and
# measures every method DIRECTLY at its dispatch defaults
# (recall_deploy_*), because the registry exhibits keep their own
# explicit settings (e.g. the 8-band lsh row vs the deployed 16-band
# multiprobe). tests/test_misc_ops.py pins every row to the kernel
# similarity_search actually calls. The hnsw names (None) build or
# probe a graph index in similarity_search itself.
_TABLE = {
    "exact": _Kernel("knn", "knn_exact", ("metric",)),
    "exact_fast": _Kernel("knn", "knn_exact_fast", ("metric",)),
    "hnsw": None,
    "hnsw_rescored": None,
    "hnsw_routed": None,
    "lsh": _Kernel("ann", "lsh_knn_cosine", ("dim",), row="lsh_ann_cosine"),
    "ivf": _Kernel("ivf", "ivf_knn_cosine", ("dim", "n_probe"), row="ivf_ann_cosine"),
    "ivf_kmeans": _Kernel(
        "ivf", "ivf_kmeans_knn", ("dim", "n_probe"), row="ivf_kmeans_ann"
    ),
    "sq8": _Kernel(
        "quantize", "sq8_refine_knn", ("metric",), "Sq8Index", "sq8_refine_ann",
        "sq8_refine",
    ),
    "ivf_sq8": _Kernel(
        "quantize", "ivf_sq8_refine_knn", ("dim", "n_probe", "metric"),
        row="ivf_sq8_refine_ann", alias="ivf_sq8_refine",
    ),
    "pq": _Kernel("pq", "pq_refine_knn", ("dim",), "PqIndex", "pq_refine_ann", "pq_refine"),
    "ivf_pq": _Kernel(
        "pq", "ivf_pq_refine_knn", ("dim", "n_probe"), "IvfPqIndex",
        "ivf_pq_refine_ann", "ivf_pq_refine",
    ),
    "binary": _Kernel(
        "ann", "binary_refine_knn", ("dim",), row="binary_refine_ann",
        alias="binary_refine",
    ),
    "matryoshka": _Kernel("ann", "matryoshka_knn", ("dim",), row="matryoshka_ann"),
}

# every accepted name -> its table entry's name
_ENTRY = {
    name: entry
    for entry, kern in _TABLE.items()
    for name in (entry, kern and kern.alias)
    if name
}
METHODS = tuple(_ENTRY)
DEPLOYED_RECALL_ROWS = {
    name: _TABLE[entry].row
    for name, entry in _ENTRY.items()
    if _TABLE[entry] and _TABLE[entry].row
}

# per-method probe widths when the caller leaves n_probe unset: the
# label-routed families need 7 of the ~10 label cells to clear
# recall@10 >= 0.8 at defaults on the worst-case gaussian testdata
# (0.88 ivf / ~0.87 ivf_sq8 measured; the registry's oracle rows keep
# their own explicit half-scan settings as the cost-profile exhibit);
# the trained/quantized families were already >= 0.9 at 5.
_DEFAULT_PROBES = {"ivf": 7, "ivf_sq8": 7}


def similarity_search(
    base: DataFrame,
    queries: DataFrame,
    method: str = "exact",
    k: int = 10,
    metric: str = "l2",
    dim: int | None = None,
    n_probe: int | None = None,
    index=None,
    num_partitions: int = 4,
    ef: int | None = None,
) -> DataFrame:
    """Dispatch to one similarity-search family by name.

    ``dim`` is required for the hyperplane/centroid methods (lsh, ivf,
    ivf_sq8, hnsw without a prebuilt index); pass ``index`` to probe an
    existing artifact instead of building one per call — an
    ``HnswIndex`` for the hnsw methods, or an ``IvfPqIndex`` /
    ``PqIndex`` / ``Sq8Index`` for the matching quantized methods (the
    "encode once, probe many" path: the corpus is scanned through its
    at-rest codes, and only the expand*k re-rank reads raw vectors
    from ``base``; results are bit-identical to the one-shot method at
    equal build params, pinned by test). A mismatched index type is
    refused rather than silently retrained. ``ef`` is the hnsw
    search-breadth knob (the reference's ef_search,
    hsnw_trial.py:274 — defaults to the index params' ef_search,
    clamped to >= k). Unknown methods raise ValueError, mirroring the
    reference's unknown-metric error (hsnw_trial.py:88-89)."""
    if method not in _ENTRY:
        raise ValueError(f"unknown method {method!r}; expected one of {METHODS}")
    kern = _TABLE[_ENTRY[method]]
    if n_probe is None:
        n_probe = _DEFAULT_PROBES.get(_ENTRY[method], 5)
    if kern is not None:
        mod = import_module(f".{kern.module}", __package__)
        args = {"dim": dim, "n_probe": n_probe, "metric": metric}
        if index is not None and kern.index:
            want = getattr(mod, kern.index)
            if not isinstance(index, want):
                raise ValueError(
                    f"method {method!r} needs a {want.__name__} index, "
                    f"got {type(index).__name__}"
                )
            # an artifact is already trained: its probe takes no dim
            kw = {a: args[a] for a in kern.takes if a != "dim"}
            return index.refine_search(base, queries, k=k, **kw)
        if "dim" in kern.takes:
            _dim(dim, method)
        kw = {a: args[a] for a in kern.takes}
        return getattr(mod, kern.fn)(base, queries, k=k, **kw)
    if method == "hnsw_routed":
        # bounded-probe deployment layout: centroid-routed build (SPANN
        # multi-assignment), ~4.5*sqrt(P) cells probed per query — the
        # sublinear-in-P alternative to probe-all hnsw; pass a routed
        # ``index`` to probe an existing artifact (hash-placed indexes
        # are refused rather than silently misrouted)
        from ..index.build import HnswParams
        from ..index.routed import hnsw_build_routed, knn_hnsw_routed

        if index is None:
            index = hnsw_build_routed(
                base.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
                HnswParams(dim=_dim(dim, method), metric=metric),
                num_partitions=num_partitions,
            )
        return knn_hnsw_routed(index, queries, k=k, ef=ef)

    # hnsw / hnsw_rescored
    from ..index.build import HnswParams, hnsw_build
    from ..index.query import knn_hnsw, knn_hnsw_rescored

    if index is None:
        index = hnsw_build(
            base.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
            HnswParams(dim=_dim(dim, method), metric=metric),
            num_partitions=num_partitions,
        )
    if method == "hnsw_rescored":
        # graph shortlist + exact re-score against the ORIGINAL vectors:
        # bit-identical to exact kNN whenever the shortlist covers the
        # true top-k (the driver-verified knn_hnsw form)
        return knn_hnsw_rescored(
            index, base, queries, k=k, shortlist_k=4 * k, ef=ef or 200, metric=metric
        )
    return knn_hnsw(index, queries, k=k, ef=ef)


def _dim(dim: int | None, method: str) -> int:
    if dim is None:
        raise ValueError(f"method {method!r} requires dim=")
    return dim
