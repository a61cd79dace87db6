"""The benchmark workloads.

Each workload owns its generated inputs and the indexes built from them.
``prepare`` generates and stages the inputs and computes the ground
truth (it runs several times in set-up, each pass from scratch);
``prebuild`` builds the indexes the timed loop reads, once; ``cycle``
returns the operations of one closed-loop step. An operation times only
its own section (the public call plus the action that forces its
result) and checks its output afterwards, untimed; a failed check
raises ``CheckFailed``.

Timed workloads, and why each exists:

- ``hnsw_build``: the paper's published configuration (512-d cosine,
  M=16, ef_construction=200). The partition insert kernel, the build
  shuffle and the Arrow hand-off do the work; queries almost none.
- ``hnsw_query``: the query surface over an index built once in
  set-up (784-d pixels, L2); each operation probes one batch through
  the broadcast and then the collect-free path. A build-kernel change
  should not move it.

Sizes are small (1,000 vectors per build, 50-query batches) so that a
run holds 10-20 operations and reports their median.

Companions. A run spends ~15-25 s on Spark start-up, set-up passes and
warm-up before its loop, and each timed workload is run 22 times
within one hour, so only two timed workloads leave each run a loop long
enough for a steady median. The other two engine paths the benchmark
covers run as one traced round after a timed workload's traced loop,
so their layers and output checks are still measured:

- ``corpus_dedup`` (after hnsw_build): ``fuzzy_dedup`` over a text
  corpus with planted near-duplicates, plus the MinHash LSH candidate
  stage alone. No vector index runs.
- ``index_lifecycle`` (after hnsw_query): append / delete / probe /
  save / load / probe / compact-or-rebuild on ``HnswIndex``,
  ``IvfPqIndex`` and ``Sq8Index``, probes through
  ``similarity_search(index=...)`` ("encode once, probe many").
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import gen

K = 10


class CheckFailed(Exception):
    """An operation's output broke its contract."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    """Result of one operation: timed seconds, items of work, and the
    output quality (recall) when the operation has one."""

    seconds: float
    items: int
    quality: float | None = None


class Stopwatch:
    """Times the section of an operation that the metrics count."""

    def __init__(self):
        self.seconds = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds += time.perf_counter() - self._t0
        return False

    def op(self, items: int, quality: float | None = None) -> Op:
        return Op(self.seconds, items, quality)


def vec_frame(ids: np.ndarray, x: np.ndarray, id_col: str = "vec_id", vec_col: str = "embedding") -> pd.DataFrame:
    return pd.DataFrame({id_col: np.asarray(ids, dtype=np.int64), vec_col: list(x)})


def recall_at_k(found: dict[int, list[int]], truth: dict[int, list[int]], qids) -> float:
    hits = sum(len(set(found.get(q, [])) & set(truth[q])) for q in qids)
    return hits / sum(len(truth[q]) for q in qids)


def knn_rows(rows) -> dict[int, list[int]]:
    """query_id -> neighbor ids in rank order, from collected kNN rows;
    checks the rank column is 1..n without gaps."""
    by_q: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append((int(r["rnk"]), int(r["neighbor_id"])))
    out = {}
    for q, lst in by_q.items():
        lst.sort()
        check([rk for rk, _ in lst] == list(range(1, len(lst) + 1)), f"query {q}: ranks not 1..n")
        out[q] = [n for _, n in lst]
    return out


def same_probe(a: list[tuple], b: list[tuple]) -> bool:
    """Two sorted (query, rank, neighbor, dist) lists agree: identical
    ids and ranks, distances equal at float32 tolerance (FIXTURES.md B6;
    a reloaded index scores from a matrix in another row order, and BLAS
    rounds a self-match to 0.0 in one order and 2e-7 in another)."""
    return len(a) == len(b) and all(
        x[:3] == y[:3] and abs(x[3] - y[3]) <= 1e-5 * max(1.0, abs(x[3]))
        for x, y in zip(a, b)
    )


class Workload:
    name = ""
    # cycles per round: the loop stops only at a round boundary, so
    # every run does the same mix of operations
    round = 1
    # workload whose one round a traced run adds, for layers no timed
    # workload reaches (None: none)
    companion = None
    # HnswParams of the workload's vectors, for the in-process kernel
    # probe (None: no vectors)
    params = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed

    @property
    def tr(self):
        """The run's active tracer (set-up and the traced loop trace;
        the untraced loop does not)."""
        return self.ctx.tracer

    def ground_truth(self, base_df, queries_df, metric: str, id_col="vec_id", vec_col="embedding") -> dict[int, list[int]]:
        from vectorsearch_with_hnsw_spark.operators.knn import knn_exact_fast

        with self.tr.span("operators.knn.knn_exact_fast"):
            rows = knn_exact_fast(
                base_df, queries_df, k=K, metric=metric, id_col=id_col, vec_col=vec_col
            ).collect()
        return knn_rows(rows)

    def prebuild(self) -> None:
        """Indexes the timed loop reads, built once after the set-up
        passes (none by default)."""

    def kernel_slice(self):
        """(ids, vectors, queries) for the in-process kernel probe: one
        partition's share of the base vectors, and the query set."""
        n = len(self.base) // self.ctx.cores
        return np.arange(n), self.base[:n], self.queries


class HnswBuild(Workload):
    name = "hnsw_build"
    N, DIM, N_QUERIES = 1000, 512, 20

    def __init__(self, ctx):
        super().__init__(ctx)
        from vectorsearch_with_hnsw_spark.index.local_hnsw import HnswParams

        self.params = HnswParams(dim=self.DIM, metric="cosine", M=16, ef_construction=200, ef_search=50)

    def prepare(self) -> None:
        with self.tr.span("sources.generate"):
            x = gen.clustered_sphere(self.N + self.N_QUERIES, self.DIM, self.seed)
            base, fresh = gen.with_zeros(x[: self.N], 0.01, self.seed), x[self.N :]
            q = gen.query_mix(base, fresh, self.seed)
        self.base, self.queries = base, q
        self.base_df = self.ctx.stage("hnsw_build_base", vec_frame(np.arange(self.N), base, "id", "vec"))
        self.q_df = self.ctx.stage("hnsw_build_queries", vec_frame(np.arange(len(q)), q, "query_id", "query_vec"))
        self.truth = self.ground_truth(self.base_df, self.q_df, "cosine", "id", "vec")

    def cycle(self):
        return [self.build]

    def build(self) -> Op:
        from vectorsearch_with_hnsw_spark.index.build import hnsw_build
        from vectorsearch_with_hnsw_spark.index.query import knn_hnsw

        sw = Stopwatch()
        with sw, self.tr.span("op.build"), self.tr.span("index.build.hnsw_build"):
            idx = hnsw_build(self.base_df, self.params, num_partitions=self.ctx.cores)
            n_edges = idx.edges.count()
        try:
            check(n_edges > 0, "build produced no edges")
            with self.tr.span("index.query.knn_hnsw"):
                found = knn_rows(knn_hnsw(idx, self.q_df, k=K).collect())
            recall = recall_at_k(found, self.truth, self.truth)
            check(recall >= 0.9, f"spot-check recall@10 {recall:.3f} < 0.9")
        finally:
            idx.kernel_out.unpersist(blocking=True)
        return sw.op(self.N, recall)


class HnswQuery(Workload):
    name = "hnsw_query"
    N, DIM, N_QUERIES, BATCH = 600, 784, 50, 50

    def __init__(self, ctx):
        super().__init__(ctx)
        from vectorsearch_with_hnsw_spark.index.local_hnsw import HnswParams

        self.params = HnswParams(dim=self.DIM, metric="l2", ef_search=50)
        self.turn = 0

    def prepare(self) -> None:
        with self.tr.span("sources.generate"):
            x = gen.pixels(self.N + self.N_QUERIES, self.DIM, self.seed)
            base, q = x[: self.N], gen.query_mix(x[: self.N], x[self.N :], self.seed)
        self.base, self.queries = base, q
        base_df = self.ctx.stage("hnsw_query_base", vec_frame(np.arange(self.N), base, "id", "vec"))
        pool = vec_frame(np.arange(len(q)), q, "query_id", "query_vec")
        q_all = self.ctx.stage("hnsw_query_queries", pool)
        self.truth = self.ground_truth(base_df, q_all, "l2", "id", "vec")
        self.batches = []
        for i in range(0, len(q), self.BATCH):
            ids = list(range(i, i + self.BATCH))
            self.batches.append((ids, q_all.filter(F.col("query_id").between(i, i + self.BATCH - 1))))
        self.base_df = base_df

    def prebuild(self) -> None:
        from vectorsearch_with_hnsw_spark.index.build import HnswIndex, hnsw_build

        base_df = self.base_df
        with self.tr.span("index.build.hnsw_build"):
            idx = hnsw_build(base_df, self.params, num_partitions=self.ctx.cores)
            idx.edges.count()
        path = self.ctx.path("hnsw_query_index")
        with self.tr.span("index.build.save"):
            idx.save(path)
        idx.kernel_out.unpersist(blocking=True)
        with self.tr.span("index.build.load"):
            self.index = HnswIndex.load(self.spark, path)
        self.ctx.scrub()

    def cycle(self):
        return [self.probe]

    def probe(self) -> Op:
        """One query batch through ``knn_hnsw`` (queries broadcast) and
        then ``knn_hnsw_distributed`` (collect-free); both answers are
        checked."""
        from vectorsearch_with_hnsw_spark.index.query import knn_hnsw, knn_hnsw_distributed

        ids, q_df = self.batches[self.turn % len(self.batches)]
        self.turn += 1
        sw = Stopwatch()
        with sw, self.tr.span("op.probe"):
            with self.tr.span("index.query.knn_hnsw"):
                broadcast = knn_hnsw(self.index, q_df, k=K).collect()
            with self.tr.span("index.query.knn_hnsw_distributed"):
                distributed = knn_hnsw_distributed(self.index, q_df, k=K).collect()
        recalls = []
        for rows in (broadcast, distributed):
            found = knn_rows(rows)
            check(sorted(found) == ids and all(len(v) == K for v in found.values()), "not k rows per query")
            recalls.append(recall_at_k(found, self.truth, ids))
            check(recalls[-1] >= 0.9, f"recall@10 {recalls[-1]:.3f} < 0.9")
        return sw.op(2 * len(ids), sum(recalls) / 2)


class _Kind:
    """How the lifecycle drives one index type: span prefix, the
    similarity_search method, and how to read its rows back."""

    def __init__(self, label, prefix, method, cls):
        self.label, self.prefix, self.method, self.cls = label, prefix, method, cls


class IndexLifecycle(Workload):
    name = "index_lifecycle"
    round = 3
    N, DIM, N_APPEND, N_FRESH_Q = 500, 128, 25, 10
    # recall@10 floors of the deployed probes on gaussian data (the
    # hardest case for cell routing): IVF-PQ probes 5 of 8 cells
    FLOOR = {"hnsw": 0.9, "ivfpq": 0.6, "sq8": 0.9}

    def __init__(self, ctx):
        super().__init__(ctx)
        from vectorsearch_with_hnsw_spark.index.build import HnswIndex
        from vectorsearch_with_hnsw_spark.index.local_hnsw import HnswParams
        from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex
        from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index

        self.params = HnswParams(dim=self.DIM, metric="l2", ef_search=50)
        self.turn = 0
        self.kinds = [
            _Kind("hnsw", "index.build", "hnsw", HnswIndex),
            _Kind("ivfpq", "operators.pq.ivfpq", "ivf_pq", IvfPqIndex),
            _Kind("sq8", "operators.quantize.sq8", "sq8", Sq8Index),
        ]

    def _span(self, kind: _Kind, step: str) -> str:
        """Span name of one lifecycle step: the module and public call
        it enters."""
        if kind.label == "hnsw":
            # the HNSW probe is knn_hnsw behind similarity_search; it is
            # kept apart from the hnsw_query workload's knn_hnsw spans
            if step == "search":
                return "operators.search.similarity_search"
            return "index.build.hnsw_build" if step == "build" else f"index.build.{step}"
        return f"{kind.prefix}_{'add' if step == 'append' else step}"

    def prepare(self) -> None:
        n, a = self.N, self.N_APPEND
        rng = np.random.default_rng(self.seed)
        with self.tr.span("sources.generate"):
            x = gen.gaussian(n + a + self.N_FRESH_Q, self.DIM, self.seed)
            base, app, fresh = x[:n], x[n : n + a], x[n + a :]
            del_base = rng.choice(n, size=n // 50, replace=False)
            del_app = n + rng.choice(a, size=a // 5, replace=False)
            # one id deleted twice, one id that was never inserted
            self.deleted = {int(i) for i in np.concatenate([del_base, del_app])}
            del_ids = sorted(self.deleted) + [int(del_base[0]), n + a + 1000]
            alive = np.array([i for i in range(n + a) if i not in self.deleted])
            self.self_q = [int(i) for i in rng.choice([i for i in range(n, n + a) if i not in self.deleted], 5, replace=False)]
            base_q = [int(i) for i in rng.choice([i for i in range(n) if i not in self.deleted], 5, replace=False)]
            q = np.concatenate([x[self.self_q], x[base_q], fresh])
        self.base, self.queries = base, q
        self.alive_ids = {int(i) for i in alive}
        self.base_df = self.ctx.stage("life_base", vec_frame(np.arange(n), base))
        self.app_df = self.ctx.stage("life_append", vec_frame(np.arange(n, n + a), app))
        # the probes re-rank against every vector ever inserted; the
        # tombstones, not the corpus, decide what is alive
        self.all_df = self.base_df.unionByName(self.app_df)
        self.del_df = self.spark.createDataFrame([(i,) for i in del_ids], "id long")
        self.q_df = self.ctx.stage("life_queries", vec_frame(np.arange(len(q)), q, "query_id", "query_vec"))
        alive_df = self.all_df.join(self.spark.createDataFrame([(int(i),) for i in alive], "vec_id long"), "vec_id")
        self.truth = self.ground_truth(alive_df, self.q_df, "l2")

    def prebuild(self) -> None:
        from vectorsearch_with_hnsw_spark.index.build import HnswIndex, hnsw_build
        from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex
        from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index

        self.roots = {}
        for kind in self.kinds:
            path = self.ctx.path(f"life_{kind.label}_base")
            with self.tr.span(self._span(kind, "build")):
                if kind.label == "hnsw":
                    idx = hnsw_build(
                        self.base_df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
                        self.params, num_partitions=self.ctx.cores,
                    )
                    idx.edges.count()
                elif kind.label == "ivfpq":
                    idx = IvfPqIndex.build(self.base_df, self.DIM, m=16, n_cells=8)
                    idx.codes.count()
                else:
                    idx = Sq8Index.build(self.base_df, self.DIM)
                    idx.codes.count()
                idx.save(path)
            self.roots[kind.label] = path
        self.ctx.scrub()
        with self.tr.span("index.build.load"):
            self.loaded = {"hnsw": HnswIndex.load(self.spark, self.roots["hnsw"])}
        self.loaded["ivfpq"] = IvfPqIndex.load(self.spark, self.roots["ivfpq"])
        self.loaded["sq8"] = Sq8Index.load(self.spark, self.roots["sq8"])

    def cycle(self):
        """One index type's lifecycle; successive cycles rotate types.
        Caches the engine pins inside a cycle stay until the cycle's
        end, as they would for a caller holding the index."""
        kind = self.kinds[self.turn % len(self.kinds)]
        self.turn += 1
        st: dict = {}
        return [
            lambda: self.append(kind, st),
            lambda: self.delete(kind, st),
            lambda: self.probe(kind, st, "before"),
            lambda: self.save(kind, st),
            lambda: self.load(kind, st),
            lambda: self.probe(kind, st, "after"),
            lambda: self.compact(kind, st),
        ]

    @contextlib.contextmanager
    def _timed(self, sw: Stopwatch, kind: _Kind, step: str):
        with sw, self.tr.span("op." + step), self.tr.span(self._span(kind, step)):
            yield

    def _rows(self, kind: _Kind, idx) -> list[int]:
        df = idx.nodes.filter(~F.col("deleted")).select("id") if kind.label == "hnsw" else idx.codes.select("vec_id")
        return [int(r[0]) for r in df.collect()]

    def append(self, kind: _Kind, st: dict) -> Op:
        sw = Stopwatch()
        with self._timed(sw, kind, "append"):
            root = self.loaded[kind.label]
            if kind.label == "hnsw":
                # meta's node counts come out of the insert kernel, so
                # summing them forces the appended partition's build
                idx = root.append(self.app_df, num_partitions=1, id_col="vec_id", vec_col="embedding")
                n = idx.meta.agg(F.sum("n_nodes")).first()[0]
            else:
                idx = root.add(self.app_df)
                n = idx.codes.count()
        check(n == self.N + self.N_APPEND, f"{kind.label}: {n} rows after append")
        st["idx"] = idx
        return sw.op(self.N_APPEND)

    def delete(self, kind: _Kind, st: dict) -> Op:
        sw = Stopwatch()
        with self._timed(sw, kind, "delete"):
            idx = st["idx"].delete(self.del_df)
            if kind.label == "hnsw":
                gone = {int(r[0]) for r in idx.nodes.filter(F.col("deleted")).select("id").collect()}
            else:
                gone = {int(r[0]) for r in idx.tombstones.collect()}
        present = set(range(self.N + self.N_APPEND))
        check(gone & present == self.deleted, f"{kind.label}: wrong tombstones")
        st["idx"] = idx
        return sw.op(len(self.deleted))

    def probe(self, kind: _Kind, st: dict, when: str) -> Op:
        from vectorsearch_with_hnsw_spark.operators.search import similarity_search

        sw = Stopwatch()
        with self._timed(sw, kind, "search"):
            rows = similarity_search(
                self.all_df, self.q_df, method=kind.method, k=K, metric="l2", index=st["idx"]
            ).collect()
        found = knn_rows(rows)
        returned = {n for v in found.values() for n in v}
        check(not returned & self.deleted, f"{kind.label}: deleted id returned")
        for qi, vid in enumerate(self.self_q):
            check(found.get(qi, [None])[0] == vid, f"{kind.label}: appended id {vid} not rank 1")
        recall = recall_at_k(found, self.truth, self.truth)
        check(recall >= self.FLOOR[kind.label], f"{kind.label}: recall@10 {recall:.3f}")
        result = sorted((int(r["query_id"]), int(r["rnk"]), int(r["neighbor_id"]), float(r["dist"])) for r in rows)
        if when == "before":
            st["probe"] = result
        else:
            check(same_probe(result, st["probe"]), f"{kind.label}: probe of load(save(idx)) differs")
        return sw.op(len(found), recall)

    def save(self, kind: _Kind, st: dict) -> Op:
        path = self.ctx.path(f"life_{kind.label}_cycle")
        sw = Stopwatch()
        with self._timed(sw, kind, "save"):
            st["idx"].save(path)
        st["path"] = path
        return sw.op(len(self.alive_ids))

    def load(self, kind: _Kind, st: dict) -> Op:
        sw = Stopwatch()
        with self._timed(sw, kind, "load"):
            idx = kind.cls.load(self.spark, st["path"])
            alive = set(self._rows(kind, idx))
        if kind.label != "hnsw":
            alive -= {int(r[0]) for r in idx.tombstones.collect()}
        check(alive == self.alive_ids, f"{kind.label}: loaded index lost or revived rows")
        st["idx"] = idx
        return sw.op(len(alive))

    def compact(self, kind: _Kind, st: dict) -> Op:
        step = "rebuild" if kind.label == "hnsw" else "compact"
        sw = Stopwatch()
        with self._timed(sw, kind, step):
            idx = st["idx"].rebuild() if kind.label == "hnsw" else st["idx"].compact()
            ids = self._rows(kind, idx)
            if kind.label == "hnsw":
                built = idx.meta.agg(F.sum("n_nodes")).first()[0]
                check(built == len(self.alive_ids), f"hnsw: rebuild linked {built} nodes")
        check(sorted(ids) == sorted(self.alive_ids), f"{kind.label}: {step} kept wrong rows")
        if kind.label == "hnsw" and idx.kernel_out is not None:
            idx.kernel_out.unpersist(blocking=True)
        st.clear()
        return sw.op(len(ids))


class CorpusDedup(Workload):
    name = "corpus_dedup"
    # the first fuzzy_dedup of a session is cold (~3x a warm one)
    round = 3
    N_DOCS = 2000
    # MinHash LSH at the engine's 8 hashes x 4 bands finds a planted
    # pair with probability ~0.9-0.98 at these edit rates (0.885-0.98
    # measured over seeds); the floor catches a broken stage, not bad
    # luck
    RECALL_FLOOR = 0.8

    def prepare(self) -> None:
        with self.tr.span("sources.generate"):
            texts, pairs = gen.planted_corpus(self.N_DOCS, self.seed)
        self.pairs = pairs
        self.twins = {d for p in pairs for d in p}
        self.docs_df = self.ctx.stage(
            "dedup_docs", pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
        )

    def cycle(self):
        return [self.dedup]

    def dedup(self) -> Op:
        from vectorsearch_with_hnsw_spark.operators.dedup import fuzzy_dedup

        sw = Stopwatch()
        with sw, self.tr.span("op.fuzzy_dedup"), self.tr.span("operators.dedup.fuzzy_dedup"):
            rows = fuzzy_dedup(self.docs_df).select("doc_id", "cluster_id", "is_keeper").collect()
        cluster = {int(r["doc_id"]): int(r["cluster_id"]) for r in rows}
        check(len(rows) == self.N_DOCS and len(cluster) == self.N_DOCS, "not one verdict per document")
        keepers: dict[int, int] = {}
        for r in rows:
            keepers[int(r["cluster_id"])] = keepers.get(int(r["cluster_id"]), 0) + bool(r["is_keeper"])
        check(all(v == 1 for v in keepers.values()), "a cluster without exactly one keeper")
        dup_recall = sum(cluster[a] == cluster[b] for a, b in self.pairs) / len(self.pairs)
        dropped = [int(r["doc_id"]) for r in rows if not r["is_keeper"]]
        dup_precision = sum(d in self.twins for d in dropped) / len(dropped) if dropped else 0.0
        check(dup_recall >= self.RECALL_FLOOR and dup_precision >= 0.9, f"dup recall {dup_recall:.3f} precision {dup_precision:.3f}")
        return sw.op(self.N_DOCS, dup_recall)

    def candidates(self) -> dict:
        """Traced-run extra: the MinHash LSH candidate stage on its own."""
        from vectorsearch_with_hnsw_spark.operators.dedup import minhash_lsh_candidates

        with self.tr.span("operators.dedup.minhash_candidates"):
            got = {(int(r[0]), int(r[1])) for r in minhash_lsh_candidates(self.docs_df).collect()}
        planted = len(got & set(self.pairs))
        return {"candidate_pairs": len(got), "candidate_precision": planted / len(got) if got else 0.0}


HnswBuild.companion = CorpusDedup
HnswQuery.companion = IndexLifecycle

WORKLOADS = {w.name: w for w in (HnswBuild, HnswQuery)}
