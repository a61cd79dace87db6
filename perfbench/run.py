"""Closed-loop benchmark of the engine's public API on local Spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload hnsw_build --seed 1 --seconds 10 --trace 0

One client, one process, ``local[N]`` with N = min(4, cores available - 1):
the next Spark action is submitted only after the previous one returns.
Inputs are generated from ``--seed``; every operation's output is
checked. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(see ``perfbench/metrics.py``). Progress and a detailed report go to
standard error; a traced run also writes its spans to
``.perfbench_traces/``.

Set-up (``setup_s``) = Spark session start + the median of
``SETUP_PASSES`` from-scratch passes of input generation, staging and
ground truth + the index pre-builds + the warm-up rounds (at least
``WARM_UP_S`` seconds of them, so the timed loop starts past the JVM's
and the Python workers' warm-up curve).

A traced run alternates traced and untraced rounds for ``--seconds``;
the difference of their operation medians is the tracing overhead
(``trace.overhead_s``). It then adds the in-process
kernel probe and one traced round of the workload's companion
(corpus_dedup after hnsw_build, index_lifecycle after hnsw_query),
whose layers no timed workload reaches. End-to-end metrics come only
from untraced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_PASSES = 3
WARM_UP_S = 6.0
DRIVER_MEMORY = "1g"


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    """Spark task slots: one core is left to the driver JVM and Python
    process (on 4 vCPUs, local[3] ran the build both faster and with
    half the run-to-run spread of local[4]), at most 4."""
    return max(1, min(4, len(os.sched_getaffinity(0)) - 1))


def configure_env(work: str) -> None:
    """Point every file Spark and its Python workers write at ``work``
    (inside the checkout) and make the repository importable in the
    workers. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # at most two glibc malloc arenas, so the resident memory of the
    # many-threaded JVM does not depend on how many of its threads
    # happened to allocate natively
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote("spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")),
            # A heap fixed at its maximum and touched from the start: a
            # growing heap made the JVM's peak RSS depend on when G1 chose
            # to resize, which swung it by hundreds of MB between runs.
            # C1-only JIT: with C2 the JVM kept compiling for the whole
            # run, so each operation was faster than the one before and
            # a run's median depended on its length.
            "--driver-java-options", shlex.quote(f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]
    )


class Context:
    """What workloads share: the session, the active tracer, the seed,
    the core count, the work directory, and state hygiene."""

    def __init__(self, spark, seed: int, work: str, tracer):
        from bench import _release_row_state

        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.cores = cores()
        self._release = _release_row_state
        self.residue: list[int] = []
        self.leaked = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, "data", name)

    def stage(self, name: str, pdf):
        """Write generated rows as Parquet and read them back, so the
        engine sees a file source as it would in use."""
        with self.tracer.span("sources.load"):
            self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(self.path(name))
            return self.spark.read.parquet(self.path(name))

    def scrub(self) -> int:
        """Free every cached relation, persisted RDD and checkpoint an
        operation left behind; returns how many RDDs survived the scrub
        (the leak count, which must be 0)."""
        residue, remaining = self._release(self.spark)
        self.residue.append(residue)
        self.leaked += remaining
        return remaining


class Loop:
    """Runs whole rounds of a workload, scrubbing state after each
    cycle, and keeps the operation results."""

    def __init__(self, wl, ctx):
        self.wl, self.ctx = wl, ctx
        self.ops: list = []
        self.attempted = self.failed = 0

    def cycle(self) -> None:
        for fn in self.wl.cycle():
            self.attempted += 1
            try:
                self.ops.append(fn())
            except Exception:
                self.failed += 1
                log(f"operation failed ({self.wl.name}):\n{traceback.format_exc()}")
        if self.ctx.scrub():
            self.failed += 1
            log(f"persisted RDDs survived the scrub ({self.wl.name})")

    def round(self) -> None:
        for _ in range(self.wl.round):
            self.cycle()


def run_loops(ctx, pairs: list[tuple[Loop, object]], seconds: float) -> None:
    """Closed loop for ``seconds``: whole rounds, taking the (loop,
    tracer) pairs in turn, until time is up and every pair has had the
    same number of rounds. Alternating traced and untraced rounds gives
    both sides the same JVM warm-up curve."""
    t_end = time.perf_counter() + seconds
    while True:
        for loop, tracer in pairs:
            ctx.tracer = tracer
            loop.round()
        if time.perf_counter() >= t_end:
            return


def setup(wl, ctx, warm: Loop, untraced) -> dict:
    """``SETUP_PASSES`` from-scratch passes of input generation, staging
    and ground truth, then the index pre-builds, then untraced warm-up
    rounds for at least ``WARM_UP_S``; returns the seconds of each part."""
    passes = []
    for _ in range(SETUP_PASSES):
        t0 = time.perf_counter()
        wl.prepare()
        ctx.scrub()
        passes.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prebuild()
    ctx.scrub()
    prebuild_s = time.perf_counter() - t0
    tracer, ctx.tracer = ctx.tracer, untraced
    t0 = time.perf_counter()
    warm.round()
    while time.perf_counter() - t0 < WARM_UP_S:
        warm.round()
    warm_s = time.perf_counter() - t0
    ctx.tracer = tracer
    return {"passes": passes, "prebuild": prebuild_s, "warm_up": warm_s}


def end_to_end(ops, setup_s: float, rss_mb: float) -> dict:
    secs = [o.seconds for o in ops]
    quality = [o.quality for o in ops if o.quality is not None]
    return {
        "items_per_s": (statistics.median(o.items / o.seconds for o in ops), "1/s"),
        "op_p50_s": (statistics.median(secs), "s"),
        "recall_at_10": (statistics.fmean(quality), "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(tracer, loop_spans, traced_ops, untraced_ops, ctx, extras: dict) -> dict:
    from perfbench.metrics import PER_LAYER
    from perfbench.trace import self_times

    spans = tracer.spans
    st = self_times(spans)
    by_name: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(st[s.sid])
    # op span subtrees of the traced loop (a span always follows its
    # parent, so each root's tree runs up to the next root)
    trees: list[list] = []
    for s in loop_spans:
        if s.parent is None:
            trees.append([s])
        else:
            trees[-1].append(s)
    trees = [t for t in trees if t[0].name.startswith("op.")]
    n = max(1, len(trees))

    def total(key: str, scale: float = 1.0) -> float:
        return sum(c.counters.get(key, 0) for t in trees for c in t) * scale

    def per_op(key: str, scale: float = 1.0) -> float:
        return total(key, scale) / n

    op_wall = sum(t[0].duration for t in trees)
    # straggler ratio of each operation's heaviest stage
    skews = [t[0].counters["straggler_ratio"] for t in trees if "straggler_ratio" in t[0].counters]
    m = {
        "spark.jobs": per_op("jobs"),
        "spark.stages": per_op("stages"),
        "spark.tasks": per_op("tasks"),
        "spark.failed_tasks": per_op("failed_tasks"),
        "spark.executor_run_s": per_op("executor_run_ms", 1e-3),
        "spark.executor_cpu_s": per_op("executor_cpu_ns", 1e-9),
        "spark.jvm_gc_s": per_op("jvm_gc_ms", 1e-3),
        "spark.shuffle_write_mb": per_op("shuffle_write_bytes", 1 / 2**20),
        "spark.shuffle_read_mb": per_op("shuffle_read_bytes", 1 / 2**20),
        "spark.shuffle_fetch_wait_s": per_op("shuffle_fetch_wait_ms", 1e-3),
        "spark.spill_mb": per_op("spill_bytes", 1 / 2**20),
        "spark.busy_frac": total("executor_run_ms", 1e-3) / (op_wall * ctx.cores) if op_wall else 0.0,
        "spark.task_max_over_median": statistics.median(skews) if skews else 0.0,
        "plan.actions": per_op("actions"),
        "plan.exchanges": per_op("exchanges"),
        "plan.joins": per_op("joins"),
        "plan.python_nodes": per_op("python_nodes"),
        "arrow.py_sent_mb": per_op("py_sent_bytes", 1 / 2**20),
        "arrow.py_recv_mb": per_op("py_recv_bytes", 1 / 2**20),
        "cache.residue_rdds": statistics.fmean(ctx.residue) if ctx.residue else 0.0,
        "cache.leaked_rdds": float(ctx.leaked),
        "trace.op_self_s": statistics.median(st[t[0].sid] for t in trees) if trees else 0.0,
        "trace.overhead_s": (
            statistics.median(o.seconds for o in traced_ops)
            - statistics.median(o.seconds for o in untraced_ops)
            if traced_ops and untraced_ops
            else 0.0
        ),
    }
    m.update(extras)
    out = {}
    for name, unit, _, _, _ in PER_LAYER:
        if name in m:
            value = m[name]
        else:
            spans_s = by_name.get(name[: -len("_s")], [])
            value = statistics.median(spans_s) if spans_s else 0.0
        out[name] = (value, unit)
    return out


def kernel_probe(wl) -> dict:
    """``LocalHNSW`` insert and search rates, in-process, one thread, no
    Spark, on one partition's share of the workload's vectors."""
    from vectorsearch_with_hnsw_spark.index.local_hnsw import LocalHNSW

    ids, x, queries = wl.kernel_slice()
    t0 = time.perf_counter()
    with wl.tr.span("index.local_hnsw.add_batch"):
        h = LocalHNSW(wl.params)
        h.add_batch(ids, x)
    t1 = time.perf_counter()
    with wl.tr.span("index.local_hnsw.search"):
        for q in queries:
            h.search(q, k=10)
    t2 = time.perf_counter()
    return {
        "index.local_hnsw.insert_vps": len(ids) / (t1 - t0),
        "index.local_hnsw.search_qps": len(queries) / (t2 - t1),
    }


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process the run
    started (the JVM, the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    from perfbench.proc import is_gone, process_tree

    tree = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = tree
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if not is_gone(p)]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    while not all(is_gone(p) for p in alive):
        time.sleep(0.1)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    # fail fast, before any JVM starts, when the engine is not there
    import bench  # noqa: F401
    import vectorsearch_with_hnsw_spark  # noqa: F401
    from perfbench.trace import NULL_TRACER, SparkStatus, Tracer
    from perfbench.workloads import WORKLOADS
    from vectorsearch_with_hnsw_spark.session import get_spark

    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        tracer = Tracer(run_id, SparkStatus(spark)) if args.trace else NULL_TRACER
        ctx = Context(spark, args.seed, work, tracer)
        wl = WORKLOADS[args.workload](ctx)
        warm = Loop(wl, ctx)
        parts = setup(wl, ctx, warm, NULL_TRACER)
        setup_s = session_s + statistics.median(parts["passes"]) + parts["prebuild"] + parts["warm_up"]
        log(json.dumps({"setup_s": setup_s, "session": session_s, **parts}))

        loop = Loop(wl, ctx)
        loops = [warm, loop]
        if args.trace:
            first = len(tracer.spans)
            traced = Loop(wl, ctx)
            run_loops(ctx, [(traced, tracer), (loop, NULL_TRACER)], args.seconds)
            loop_spans = tracer.spans[first:]
            loops.append(traced)
            ctx.tracer = tracer
            extras = kernel_probe(wl) if wl.params is not None else {}
            if wl.companion is not None:
                comp = wl.companion(ctx)
                comp.prepare()
                comp.prebuild()
                ctx.scrub()
                loops.append(Loop(comp, ctx))
                loops[-1].round()
                if hasattr(comp, "candidates"):
                    extras.update({f"operators.dedup.{k}": v for k, v in comp.candidates().items()})
            metrics = per_layer(tracer, loop_spans, traced.ops, loop.ops, ctx, extras)
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_traces", f"{run_id}.json"))
        else:
            from perfbench.proc import peak_rss_mb, process_tree

            run_loops(ctx, [(loop, NULL_TRACER)], args.seconds)
            rss = peak_rss_mb(process_tree(os.getpid()))
            log(json.dumps({"peak_rss_mb_by_pid": rss}))
            metrics = end_to_end(loop.ops, setup_s, sum(rss.values())) if loop.ops else {}
        attempted = sum(x.attempted for x in loops)
        failed = sum(x.failed for x in loops)
        from perfbench.stats import timing_summary

        log(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": ctx.cores,
            "ops": timing_summary([o.seconds for o in loop.ops]) if loop.ops else {},
            "op_seconds": [round(o.seconds, 4) for o in loop.ops],
            "trace_bookkeeping_s": tracer.bookkeeping_s,
        }))
    finally:
        if "spark" in locals():
            t0 = time.perf_counter()
            stop_spark(spark)
            log(f"spark stopped in {time.perf_counter() - t0:.1f} s")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and ctx.leaked == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
