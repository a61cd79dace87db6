"""Declared metrics: names, units, directions, and what each should move.

``BENCHMARK.json`` carries only each metric's name, unit, direction
and bound; this table also records, for every per-layer metric, which
end-to-end metric it should move and on which workload.
On the workloads a row does not name, the prediction is no change.
``python3 perfbench/metrics.py`` prints the ``BENCHMARK.json`` body.

End-to-end metrics are reported by every workload, so each is defined
per workload:

- ``items_per_s``: median over operations of work items per second of
  timed operation: vectors indexed (hnsw_build: ``build_vps``), k=10
  queries answered (hnsw_query, both probe paths: ``query_qps``).
- ``op_p50_s``: median wall time of one timed operation. Runs hold
  fewer than 100 operations, so no tail percentile has the ten samples
  beyond it that reporting one needs (``perfbench/stats.py``); the
  operation count and every operation's time go to standard error.
- ``recall_at_10``: mean recall@10 against ``knn_exact_fast`` (the
  build's spot-check queries; every query batch).
- ``peak_rss_mb``: sum of the peak resident set of every process of
  the run (driver Python, Spark JVM, Python workers).
- ``setup_s``: session start + median of the set-up passes + index
  pre-builds + warm-up (``perfbench/run.py``).

Bounds. On a 4-vCPU host the median operation time of a whole run moves
by 10-20% between runs of the same code and seed (a single-threaded
kernel timed in-process moves as much), so the time metrics take a
25% bound, the widest ``BENCHMARK.json`` permits.

Operation failures are the ``failed`` / ``attempted`` fields of the
result line (the error rate); they are not a metric because a metric
must never read 0.
"""

from __future__ import annotations

import json
import os

COMMAND = ["python3", "perfbench/run.py"]
RUN_SECONDS = 20

WORKLOADS = [
    ("hnsw_build", "the paper's published config (512-d cosine, M=16, efc=200): insert kernel, build shuffle and Arrow hand-off do the work"),
    ("hnsw_query", "top-k probes of an index built in set-up (784-d L2): probe kernels and query joins work, the build kernel does not"),
]

# name, unit, better, bound
END_TO_END = [
    ("items_per_s", "1/s", "higher", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("recall_at_10", "ratio", "higher", 0.05),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
]

_ALL = "hnsw_build, hnsw_query"
_OPS = "items_per_s, op_p50_s"
# companion layers: no timed workload runs them; a traced run adds one
# round of the companion and reports them, so the prediction for every
# timed workload is no change
_LIFECYCLE = ("-", "index_lifecycle round of traced hnsw_query runs")
_DEDUP = ("-", "corpus_dedup round of traced hnsw_build runs")
COMPANIONS = (_LIFECYCLE, _DEDUP)


def _steps(prefix: str, steps: str) -> list[tuple[str, str, str, str, str]]:
    return [(f"{prefix}{s}_s", "s", "lower", *_LIFECYCLE) for s in steps.split()]


# name, unit, better, end-to-end metric it should move, on which workload
PER_LAYER = [
    ("index.local_hnsw.insert_vps", "1/s", "higher", _OPS, "hnsw_build"),
    ("index.local_hnsw.search_qps", "1/s", "higher", _OPS, "hnsw_query"),
    ("index.build.hnsw_build_s", "s", "lower", _OPS, "hnsw_build"),
    *_steps("index.build.", "append delete rebuild save load"),
    ("index.query.knn_hnsw_s", "s", "lower", _OPS, "hnsw_query"),
    ("index.query.knn_hnsw_distributed_s", "s", "lower", _OPS, "hnsw_query"),
    ("operators.knn.knn_exact_fast_s", "s", "lower", "setup_s", _ALL),
    *_steps("operators.pq.ivfpq_", "build add delete compact save load search"),
    *_steps("operators.quantize.sq8_", "build add delete compact save load search"),
    ("operators.dedup.fuzzy_dedup_s", "s", "lower", *_DEDUP),
    ("operators.dedup.minhash_candidates_s", "s", "lower", *_DEDUP),
    ("operators.dedup.candidate_pairs", "count", "lower", *_DEDUP),
    ("operators.dedup.candidate_precision", "ratio", "higher", *_DEDUP),
    ("sources.generate_s", "s", "lower", "setup_s", _ALL),
    ("sources.load_s", "s", "lower", "setup_s", _ALL),
    ("cache.residue_rdds", "count", "lower", "peak_rss_mb", _ALL),
    ("cache.leaked_rdds", "count", "lower", "peak_rss_mb", _ALL),
    ("spark.jobs", "count", "lower", "op_p50_s", _ALL),
    ("spark.stages", "count", "lower", "op_p50_s", _ALL),
    ("spark.tasks", "count", "lower", "op_p50_s", _ALL),
    ("spark.failed_tasks", "count", "lower", "op_p50_s", _ALL),
    ("spark.executor_run_s", "s", "lower", _OPS, "hnsw_build"),
    ("spark.executor_cpu_s", "s", "lower", _OPS, "hnsw_build"),
    ("spark.jvm_gc_s", "s", "lower", "op_p50_s", _ALL),
    ("spark.shuffle_write_mb", "MB", "lower", "op_p50_s", "hnsw_query"),
    ("spark.shuffle_read_mb", "MB", "lower", "op_p50_s", "hnsw_query"),
    ("spark.shuffle_fetch_wait_s", "s", "lower", "op_p50_s", "hnsw_query"),
    ("spark.spill_mb", "MB", "lower", "op_p50_s", _ALL),
    ("spark.busy_frac", "ratio", "higher", _OPS, "hnsw_build"),
    ("spark.task_max_over_median", "ratio", "lower", _OPS, "hnsw_build"),
    ("plan.actions", "count", "lower", "op_p50_s", _ALL),
    ("plan.exchanges", "count", "lower", "op_p50_s", "hnsw_query"),
    ("plan.joins", "count", "lower", "op_p50_s", "hnsw_query"),
    ("plan.python_nodes", "count", "lower", "op_p50_s", _ALL),
    ("arrow.py_sent_mb", "MB", "lower", _OPS, _ALL),
    ("arrow.py_recv_mb", "MB", "lower", _OPS, _ALL),
    ("trace.op_self_s", "s", "lower", "op_p50_s", _ALL),
    ("trace.overhead_s", "s", "lower", "op_p50_s", _ALL),
]


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER],
    }


def load_benchmark_json() -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
