"""Status-store attribution on tiny jobs (needs a local Spark session)."""

import pandas as pd
from pyspark.sql import functions as F

from perfbench.trace import SparkStatus, Tracer


def _pandas_job(spark, n: int) -> int:
    def ident(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    df = spark.range(n).withColumn("g", F.col("id") % 3)
    return df.groupBy("g").applyInPandas(ident, "id long, g long").count()


def test_each_span_gets_only_its_own_jobs(spark):
    tr = Tracer("t1", SparkStatus(spark))
    with tr.span("op.outer") as outer:
        assert spark.range(10).count() == 10
        with tr.span("inner.pandas") as inner:
            assert _pandas_job(spark, 300) == 300
    with tr.span("op.other") as other:
        assert spark.range(5).collect()[0][0] == 0

    assert outer.counters["jobs"] >= 1 and inner.counters["jobs"] >= 1 and other.counters["jobs"] >= 1
    # the pandas UDF, its shuffle and its Arrow transfer belong to the
    # inner span alone
    assert inner.counters["python_nodes"] == 1
    assert inner.counters["exchanges"] >= 1
    assert inner.counters["py_sent_bytes"] > 0 and inner.counters["py_recv_bytes"] > 0
    assert inner.counters["shuffle_write_bytes"] > 0
    assert inner.counters["executor_run_ms"] >= 0 and inner.counters["tasks"] >= 1
    assert outer.counters["python_nodes"] == 0 and outer.counters["py_sent_bytes"] == 0
    assert other.counters["python_nodes"] == 0 and other.counters["exchanges"] == 0
    assert outer.counters["actions"] == 1 and inner.counters["actions"] == 1
    assert inner.counters["failed_tasks"] == 0
    assert outer.counters["straggler_ratio"] >= 1.0


def test_job_group_is_restored_after_spans(spark):
    sc = spark.sparkContext
    tr = Tracer("t2", SparkStatus(spark))
    with tr.span("a") as a:
        with tr.span("b"):
            pass
        assert sc.getLocalProperty("spark.jobGroup.id") == a.group
    assert sc.getLocalProperty("spark.jobGroup.id") is None
