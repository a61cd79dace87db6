"""Interleaved A/B row timer: times the registry .count() (exactly
what bench.py times) for the given rows, with bench.py's own
min-of-reps (its escalation to 5 or 6 reps included) and between-rep
state scrub. Run alternately from the HEAD checkout and
from a second checkout of the comparison commit in ONE time window
(each invocation imports ITS OWN tree — sys.path pinned to the script's
repo root), carrying an untouched control row in every batch.

Usage:  python tools/ab_rows.py <tag> <row> [<row> ...]
Prints one JSON line {"tag": ..., "rows": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _min_of_reps, _release_row_state  # noqa: E402
from vectorsearch_with_hnsw_spark.session import get_spark  # noqa: E402
from vectorsearch_with_hnsw_spark import registry  # noqa: E402
from vectorsearch_with_hnsw_spark.sources import load_table  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
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
