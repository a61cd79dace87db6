"""Importing the package drops the archive-backed import finders.

pyspark's Python worker calls `importlib.invalidate_caches()` at the
start of every task; on CPython 3.11 each cached `zipimporter` then
re-reads its whole archive (pyspark.zip, the spark-core jar). The
package's import forgets those finders once per worker."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_import_drops_zip_finders_and_zip_imports_still_work(tmp_path):
    """No Spark: a package with two subpackages imported from a zip
    leaves zipimporter finders in `sys.path_importer_cache`; importing
    the package removes all of them, and a not-yet-imported module of
    the zip still imports."""
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for sub in ("a", "b"):
            z.writestr(f"zpkg/{sub}/__init__.py", "")
            z.writestr(f"zpkg/{sub}/mod.py", f"NAME = {sub!r}\n")
        z.writestr("zpkg/late.py", "NAME = 'late'\n")
        z.writestr("zpkg/a/late.py", "NAME = 'a.late'\n")
    script = textwrap.dedent(
        f"""
        import sys, zipimport

        def zip_paths():
            return sorted(p for p, f in sys.path_importer_cache.items()
                          if isinstance(f, zipimport.zipimporter))

        sys.path.insert(0, {str(archive)!r})
        import zpkg.a.mod, zpkg.b.mod
        print(len(zip_paths()))
        import vectorsearch_with_hnsw_spark
        print(zip_paths())
        import zpkg.late, zpkg.a.late
        print(zpkg.late.NAME, zpkg.a.late.NAME)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    # the zip root, zpkg, zpkg/a and zpkg/b
    assert int(out[0]) >= 4
    assert out[1] == "[]"
    assert out[2] == "late a.late"


def test_workers_hold_no_finders_inside_archives(spark):
    """After an HNSW build and probe, a Python worker that imports the
    package, as every engine kernel does, holds no zipimporter for a
    path inside an archive (such as `.../pyspark.zip/pyspark/sql`).
    Without the drop each worker holds one per imported pyspark
    subpackage, and each is re-read at the start of every task."""
    import numpy as np

    from vectorsearch_with_hnsw_spark.index.build import HnswParams, hnsw_build
    from vectorsearch_with_hnsw_spark.index.query import knn_hnsw

    rng = np.random.default_rng(7)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(8).astype("float32").tolist()) for i in range(60)],
        "id long, vec array<float>",
    )
    idx = hnsw_build(df, HnswParams(dim=8, metric="l2"), num_partitions=3)
    q = df.filter("id < 3").selectExpr("id AS query_id", "vec AS query_vec")
    assert len(knn_hnsw(idx, q, k=2).collect()) == 6

    def report(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        import vectorsearch_with_hnsw_spark  # noqa: F401

        for _ in batches:
            pass
        inner = [
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and f.prefix
        ]
        yield pd.DataFrame({"pid": [os.getpid()], "inner": [len(inner)]})

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(report, "pid long, inner long")
        .collect()
    )
    assert len(rows) == 4
    assert {r["pid"]: r["inner"] for r in rows} == {r["pid"]: 0 for r in rows}
