"""Property tests for the local HNSW kernel (SURVEY.md §5.2.3)."""

from __future__ import annotations

import heapq

import numpy as np
import pytest

from vectorsearch_with_hnsw_spark.index.local_hnsw import (
    HnswParams,
    LocalHNSW,
    level_for_id,
)


def brute_topk(mat, q, k, metric):
    if metric == "l2":
        d = np.linalg.norm(mat - q, axis=1)
    else:
        denom = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = (mat @ q) / denom
        d = np.where(denom == 0, 1.0, 1.0 - sim)
    order = np.lexsort((np.arange(len(d)), d))
    return order[:k], d


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(7)
    return rng.standard_normal((400, 32)).astype(np.float32)


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_recall_vs_bruteforce(data, metric):
    p = HnswParams(dim=32, metric=metric)
    idx = LocalHNSW(p)
    idx.add_batch(np.arange(len(data)), data)
    hits = total = 0
    for qi in range(0, 100, 5):
        got = [i for i, _ in idx.search(data[qi].astype(np.float64), k=10)]
        want, _ = brute_topk(data.astype(np.float64), data[qi].astype(np.float64), 10, metric)
        hits += len(set(got) & set(want))
        total += 10
    assert hits / total >= 0.9, f"recall {hits / total}"


def test_self_match_rank1(data):
    idx = LocalHNSW(HnswParams(dim=32))
    idx.add_batch(np.arange(len(data)), data)
    res = idx.search(data[3].astype(np.float64), k=5)
    assert res[0][0] == 3 and res[0][1] == pytest.approx(0.0)


def test_sorted_ascending_and_k(data):
    idx = LocalHNSW(HnswParams(dim=32))
    idx.add_batch(np.arange(len(data)), data)
    res = idx.search(data[0].astype(np.float64), k=7)
    ds = [d for _, d in res]
    assert ds == sorted(ds) and len(res) <= 7


def test_empty_index_returns_empty():
    idx = LocalHNSW(HnswParams(dim=8))
    assert idx.search(np.zeros(8), k=5) == []


def test_dim_mismatch_raises(data):
    idx = LocalHNSW(HnswParams(dim=32))
    idx.add_batch(np.arange(10), data[:10])
    with pytest.raises(ValueError):
        idx.search(np.zeros(16), k=3)
    with pytest.raises(ValueError):
        idx.add_batch(np.array([99]), np.zeros((1, 16), dtype=np.float32))


def test_unknown_metric_raises():
    with pytest.raises(ValueError):
        HnswParams(dim=8, metric="manhattan")


def test_deleted_never_returned(data):
    idx = LocalHNSW(HnswParams(dim=32))
    idx.add_batch(np.arange(len(data)), data)
    assert idx.delete(3) is True
    assert idx.delete(3) is False  # double delete
    res = idx.search(data[3].astype(np.float64), k=10)
    assert 3 not in [i for i, _ in res]


def test_degree_caps(data):
    p = HnswParams(dim=32, M=8)
    idx = LocalHNSW(p)
    idx.add_batch(np.arange(len(data)), data)
    for row, adj in enumerate(idx.graph):
        for layer, nbrs in adj.items():
            cap = p.max_m0 if layer == 0 else p.M
            assert len(nbrs) <= cap, (row, layer, len(nbrs))


def test_levels_deterministic_and_distributed():
    mL = 1.0 / np.log(16)
    levels = [level_for_id(i, mL) for i in range(20000)]
    assert levels == [level_for_id(i, mL) for i in range(20000)]
    frac0 = sum(1 for l in levels if l == 0) / len(levels)
    # P(level >= 1) = exp(-1/mL) = 1/16 => ~93.75% at level 0
    assert 0.92 < frac0 < 0.95


def test_level_sql_parity():
    """The hnsw_stats oracle re-derives level_for_id in DuckDB SQL
    (wrap-around splitmix64 via HUGEINT split + floor(-ln(U)*mL)).
    Pin bit-parity over ids 0..700k — a superset of every SF's vec_id
    range — so the ln() inside the SQL can never flip a floor() on the
    datasets the driver hashes."""
    import duckdb

    from vectorsearch_with_hnsw_spark.registry import _sql_hnsw_stats

    n = 700_000
    mL = 1.0 / np.log(16)
    # Reuse the production oracle's splitmix64+level CTEs verbatim by
    # swapping the embeddings source for a synthetic id range.
    sql = _sql_hnsw_stats().replace(
        "SELECT vec_id AS id FROM embeddings",
        f"SELECT unnest(range(0, {n})) AS id",
    )
    got = duckdb.sql(sql).df().sort_values("layer", ignore_index=True)
    levels = np.array([level_for_id(i, mL) for i in range(n)])
    want = [(lay, int((levels >= lay).sum())) for lay in range(levels.max() + 1)]
    assert list(zip(got["layer"], got["n_nodes"])) == want


def test_ef_clamped_to_k(data):
    idx = LocalHNSW(HnswParams(dim=32, ef_search=2))
    idx.add_batch(np.arange(len(data)), data)
    res = idx.search(data[0].astype(np.float64), k=10)
    assert len(res) == 10  # ef raised to k even though ef_search=2


def test_recall_monotone_in_ef(data):
    """The ef_search knob trades cost for recall: measured recall@10
    must not degrade when ef rises, and at ef=200 it must be
    near-exact — the contract that makes ef a tunable (reference
    exposes it per query, hsnw_trial.py:267-274)."""
    idx = LocalHNSW(HnswParams(dim=32, metric="l2", seed=42))
    idx.add_batch(np.arange(len(data), dtype=np.int64), data)
    rng = np.random.default_rng(11)
    qs = rng.standard_normal((20, 32)).astype(np.float32)
    recalls = {}
    for ef in (10, 50, 200):
        hits = 0
        for q in qs:
            want, _ = brute_topk(data, q, 10, "l2")
            got = {i for i, _ in idx.search(q, k=10, ef=ef)}
            hits += len(got & set(want.tolist()))
        recalls[ef] = hits / (len(qs) * 10)
    assert recalls[10] <= recalls[50] + 0.05  # allow tiny non-monotonic noise
    assert recalls[50] <= recalls[200] + 0.05
    assert recalls[200] >= 0.95, recalls


# ---------------- graph identity vs the per-candidate loops ----------------


class _PerCandidateHNSW(LocalHNSW):
    """Oracle: the kernel's hot loops in their per-candidate form — one
    numpy scoring call per frontier pop, one ``D[ci, kept]`` test per
    diversity candidate, the query column kept as an ndarray. Bodies are
    verbatim; the lookup kernel must reproduce their graphs and results
    bit for bit. Both sides share ``_pairwise``/``_dists``, so equality
    does not depend on the BLAS build."""

    def _query_dists_all(self, vec: np.ndarray) -> np.ndarray | None:
        n = len(self.ids)
        if n == 0 or n > self._PRECOMPUTE_MAX_ROWS:
            return None
        vec = np.asarray(vec, dtype=self._matc.dtype)
        dots = self._matc @ vec
        if self.p.metric == "l2":
            vec64 = vec.astype(np.float64, copy=False)
            qq = float(vec64 @ vec64)
            return np.sqrt(np.maximum(self._sq_norms - 2.0 * dots + qq, 0.0))
        inv_qn = self._inv_norm_of(vec)
        return 1.0 - dots * (self._inv_norms * inv_qn)

    def _greedy_descent(self, vec: np.ndarray, start: int, top_layer: int, stop_layer: int, dall: np.ndarray | None = None) -> int:
        """ef=1 hill-climb from top_layer down to stop_layer (exclusive
        bottom): move to any strictly closer neighbor until fixpoint.
        ``dall``: optional precomputed query-to-all distances (one BLAS
        matvec) — lookups replace per-pop scoring calls."""
        inv_qn = self._inv_norm_of(vec) if self.p.metric == "cosine" else None
        cur = start
        cur_d = float(dall[cur]) if dall is not None else float(self._dists(vec, np.array([cur]), inv_qn)[0])
        for layer in range(top_layer, stop_layer, -1):
            improved = True
            while improved:
                improved = False
                nbrs = [n for n in self.graph[cur].get(layer, ()) if not self.deleted[n]]
                if not nbrs:
                    break
                arr = np.array(nbrs)
                ds = dall[arr] if dall is not None else self._dists(vec, arr, inv_qn)
                j = int(np.argmin(ds))
                if ds[j] < cur_d:
                    cur, cur_d = int(arr[j]), float(ds[j])
                    improved = True
        return cur

    def _search_layer(self, vec: np.ndarray, entry: int, ef: int, layer: int, dall: np.ndarray | None = None) -> list[tuple[float, int]]:
        """Bounded best-first search; returns [(dist, row)] sorted asc.
        Frontier expansions are scored as one numpy batch per pop, or as
        plain lookups when ``dall`` precomputed the whole column."""
        inv_qn = self._inv_norm_of(vec) if self.p.metric == "cosine" else None
        d0 = float(dall[entry]) if dall is not None else float(self._dists(vec, np.array([entry]), inv_qn)[0])
        visited = {entry}
        cand: list[tuple[float, int]] = [(d0, entry)]  # min-heap
        best: list[tuple[float, int]] = [(-d0, entry)]  # max-heap of best ef
        while cand:
            d, cur = heapq.heappop(cand)
            if d > -best[0][0] and len(best) >= ef:
                break  # frontier head worse than the ef-th best: done
            fresh = [
                n
                for n in self.graph[cur].get(layer, ())
                if n not in visited and not self.deleted[n]
            ]
            if not fresh:
                continue
            visited.update(fresh)
            arr = np.array(fresh)
            ds = dall[arr] if dall is not None else self._dists(vec, arr, inv_qn)
            worst = -best[0][0]
            for nd, n in zip(ds, arr):
                if len(best) < ef or nd < worst:
                    heapq.heappush(cand, (float(nd), int(n)))
                    heapq.heappush(best, (-float(nd), int(n)))
                    if len(best) > ef:
                        heapq.heappop(best)
                    worst = -best[0][0]
        return sorted((-d, n) for d, n in best)

    def _select_neighbors(self, vec: np.ndarray, candidates: list[tuple[float, int]], m: int) -> list[int]:
        """Diversity heuristic: scan ascending; keep a candidate only if
        no already-kept neighbor is closer to it than it is to the query.
        All candidate-pair distances come from one precomputed matrix."""
        if not candidates:
            return []
        rows = np.fromiter((c for _, c in candidates), dtype=np.int64, count=len(candidates))
        D = self._pairwise(rows)
        kept_idx: list[int] = []
        for ci, (d_q, _) in enumerate(candidates):
            if len(kept_idx) >= m:
                break
            if kept_idx and bool((D[ci, kept_idx] < d_q).any()):
                continue
            kept_idx.append(ci)
        return [int(rows[i]) for i in kept_idx]


def _build_pair(metric, x):
    p = HnswParams(dim=x.shape[1], metric=metric)
    new, old = LocalHNSW(p), _PerCandidateHNSW(p)
    new.add_batch(np.arange(len(x)), x)
    old.add_batch(np.arange(len(x)), x)
    return new, old


def _assert_identical(new, old, queries):
    for a, b in zip(new.edges(), old.edges()):
        assert np.array_equal(a, b)
    assert (new.entry_point, new.max_layer) == (old.entry_point, old.max_layer)
    for q in queries:
        assert new.search(q, k=10) == old.search(q, k=10)


def _queries(x, seed=5):
    rng = np.random.default_rng(seed)
    return list(x[::37]) + list(rng.standard_normal((8, x.shape[1])).astype(np.float32))


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_graph_identical_to_per_candidate_loops(data, metric):
    new, old = _build_pair(metric, data)
    _assert_identical(new, old, _queries(data))


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_graph_identical_with_duplicates_and_zero_vectors(metric):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((150, 16)).astype(np.float32)
    x = np.vstack([base, base[:40], base[:10], np.zeros((12, 16), np.float32)])
    x = x[rng.permutation(len(x))]
    new, old = _build_pair(metric, x)
    _assert_identical(new, old, _queries(x) + [np.zeros(16, np.float32)])


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_graph_identical_after_delete(data, metric):
    new, old = _build_pair(metric, data[:300])
    for gid in (0, 17, 123):
        assert new.delete(gid) and old.delete(gid)
    _assert_identical(new, old, _queries(data))
    # inserts after the delete walk past the tombstones
    new.add_batch(np.arange(300, 400), data[300:])
    old.add_batch(np.arange(300, 400), data[300:])
    _assert_identical(new, old, _queries(data))


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_graph_identical_without_precomputed_column(data, metric, monkeypatch):
    monkeypatch.setattr(LocalHNSW, "_PRECOMPUTE_MAX_ROWS", 0)
    new, old = _build_pair(metric, data[:250])
    assert new._query_dists_all(data[0]) is None
    _assert_identical(new, old, _queries(data[:250]))
