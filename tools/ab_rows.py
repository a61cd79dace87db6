"""Interleaved A/B row timer: times the registry .count() (exactly
what bench.py times) for the given rows, with bench.py's own
min-of-reps (its escalation to 5 or 6 reps included) and between-rep
state scrub. Run it alternately on HEAD and on the comparison commit
in ONE time window, carrying an untouched control row in every batch.

Each invocation times ONE tree, on the driver and in the Python
workers alike: a worker puts the driver's working directory first on
its `sys.path`, ahead of `PYTHONPATH`, so the script changes into its
tree's root and puts that root first on `PYTHONPATH` before it starts
Spark. `--ref <git-ref>` times that commit instead: the script re-runs
itself from a `git archive` of the ref in a temporary directory.

Usage:  python tools/ab_rows.py [--ref <git-ref>] <tag> <row> [<row> ...]
Prints one JSON line {"tag": ..., "sf_dir": ..., "cpus": ..., "rows": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _min_of_reps, _release_row_state  # noqa: E402
from vectorsearch_with_hnsw_spark.session import get_spark  # noqa: E402
from vectorsearch_with_hnsw_spark import registry  # noqa: E402
from vectorsearch_with_hnsw_spark.sources import load_table  # noqa: E402


def _root_first(root: str) -> str:
    """``PYTHONPATH`` with ``root`` ahead of what the caller set."""
    return os.pathsep.join([root] + [p for p in [os.environ.get("PYTHONPATH")] if p])


def _run_at_ref(ref: str, tag: str, names: list[str]) -> None:
    """Re-run this script, rows and tag unchanged, from a `git archive`
    of ``ref`` with the archive's root as the working directory."""
    with tempfile.TemporaryDirectory(prefix="ab_rows_") as tree:
        archive = subprocess.run(
            ["git", "-C", REPO, "archive", ref], check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
        env = dict(os.environ, PYTHONPATH=_root_first(tree))
        subprocess.run(
            [sys.executable, os.path.join(tree, "tools", "ab_rows.py"), tag, *names],
            cwd=tree, env=env, check=True,
        )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", help="time this git ref instead of the script's own tree")
    ap.add_argument("tag")
    ap.add_argument("rows", nargs="+")
    args = ap.parse_args()
    tag, names = args.tag, args.rows
    if args.ref:
        _run_at_ref(args.ref, tag, names)
        return

    os.chdir(REPO)
    os.environ["PYTHONPATH"] = _root_first(REPO)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name=f"ab_rows_{tag}", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()

    # warm like bench.py
    spark.range(cpus * 4).repartition(cpus).mapInPandas(lambda it: it, "id long").count()
    load_table(spark, sf_dir, "documents").count()

    out: dict[str, dict] = {}
    for name in names:
        def run_count(name=name):
            spark.sparkContext.setJobDescription(f"ab {tag} {name}")
            t0 = time.perf_counter()
            qmap[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            _release_row_state(spark)
            return dt

        best, _, ts = _min_of_reps(run_count)
        out[name] = {"min": round(best, 3), "runs": [round(t, 3) for t in ts]}
        print(f"# {name}: {out[name]}", file=sys.stderr)

    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "cpus": cpus, "rows": out}))
    spark.stop()


if __name__ == "__main__":
    main()
