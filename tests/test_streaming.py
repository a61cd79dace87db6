"""Batch/stream parity for the streaming surface."""

from __future__ import annotations

import pytest

from vectorsearch_with_hnsw_spark.operators.relational import (
    events_sessionize,
    events_sliding,
    events_tumbling,
)
from vectorsearch_with_hnsw_spark.streaming.events import (
    events_sliding_stream,
    events_tumbling_stream,
    read_events_stream,
    run_stream_to_memory,
    sessionize_stream,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_smoke):
    stream = events_tumbling_stream(read_events_stream(spark, sf_smoke))
    got = run_stream_to_memory(stream, "tumbling_test", mode="complete")
    want = events_tumbling(spark, sf_smoke)
    cols = ["bucket", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_stream_matches_batch(spark, sf_smoke):
    stream = events_sliding_stream(read_events_stream(spark, sf_smoke))
    got = run_stream_to_memory(stream, "sliding_test", mode="complete")
    want = events_sliding(spark, sf_smoke)
    cols = ["bucket", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sessionize_stream_matches_batch(spark, sf_smoke):
    stream = sessionize_stream(read_events_stream(spark, sf_smoke))
    got = run_stream_to_memory(stream, "session_test", mode="append")
    want = events_sessionize(spark, sf_smoke)
    # single micro-batch => per-session increments equal full session sizes
    assert _rows(got, ["user_id", "session_seq", "n_events"]) == _rows(
        want, ["user_id", "session_seq", "n_events"]
    )


def test_dedup_stream_matches_batch_distinct(spark, sf_smoke):
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.events import events_dedup_stream

    stream = events_dedup_stream(read_events_stream(spark, sf_smoke))
    got = run_stream_to_memory(stream, "dedup_test", mode="append")
    want = load_table(spark, sf_smoke, "events").dropDuplicates(["event_id"])
    assert got.count() == want.count()
    assert _rows(got, ["event_id"]) == _rows(want, ["event_id"])


def test_streaming_index_ingest_builds_probeable_index(spark, sf_smoke):
    """Micro-batch vector ingest: drain the embeddings stream through
    foreachBatch, then probe the resulting index — the streaming analog
    of the reference's 'real-time insert' (hsnw_trial.py:197-203)."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.index.build import HnswParams
    from vectorsearch_with_hnsw_spark.index.query import knn_hnsw
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.ingest import (
        StreamingIndexIngest,
        read_embeddings_stream,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    dim = len(emb.first()["embedding"])
    ingest = StreamingIndexIngest(HnswParams(dim=dim, metric="cosine"), partitions_per_batch=2)
    idx = ingest.run(read_embeddings_stream(spark, sf_smoke))
    assert idx.nodes.count() == emb.count()
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = knn_hnsw(idx, q, k=5)
    rows = res.collect()
    assert len(rows) == 3 * 5
    # self-match contract: an indexed query returns itself at rank 1, dist 0
    for r in rows:
        if r["rnk"] == 1:
            assert r["neighbor_id"] == r["query_id"]
            assert abs(r["dist"]) < 1e-6


def test_streaming_index_ingest_rebuilds_by_layout_partition_count(spark):
    """``rebuild_every`` counts the layout's partitions (build modulus +
    appended), not meta rows: one-vector micro-batches leave every
    partition without edges (no meta row at all), yet the second batch
    brings 2 build + 2 appended partitions to ``rebuild_every=4`` and
    the ingest compacts back to one 2-partition build."""
    from vectorsearch_with_hnsw_spark.index.build import HnswParams
    from vectorsearch_with_hnsw_spark.streaming.ingest import StreamingIndexIngest

    ingest = StreamingIndexIngest(
        HnswParams(dim=4, metric="l2"), partitions_per_batch=2, rebuild_every=4,
        id_col="id", vec_col="vec",
    )

    def batch(i):
        return spark.createDataFrame([(i, [float(i), 1.0, 0.0, 0.0])], "id long, vec array<float>")

    ingest(batch(0), 0)
    assert ingest.index.meta.count() == 0 and ingest.index.appended_partitions == []
    ingest(batch(1), 1)
    assert ingest.index.appended_partitions == [] and ingest.index.num_partitions == 2
    assert sorted(r["id"] for r in ingest.index.nodes.collect()) == [0, 1]


def test_curate_stream_matches_batch(spark, sf_smoke):
    """The streaming curation (score->gate->sample) is a stateless plan:
    applying the SAME transformation to the batch frame must give the
    same rows. With dedup=True, one row per distinct fingerprint
    survives."""
    from vectorsearch_with_hnsw_spark.functions.text import fingerprint
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.documents import (
        curate_stream,
        read_documents_stream,
    )

    rates = {"en": 40, "de": 60}
    stream = curate_stream(read_documents_stream(spark, sf_smoke), rates_pct=rates)
    got = run_stream_to_memory(stream, "curate_test", mode="append")
    docs = load_table(spark, sf_smoke, "documents")
    want = curate_stream(docs, rates_pct=rates)  # same plan, batch input
    cols = ["doc_id", "lang_pred", "n_tokens", "quality_score"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0

    dd_stream = curate_stream(
        read_documents_stream(spark, sf_smoke), rates_pct=rates, dedup=True
    )
    dd = run_stream_to_memory(dd_stream, "curate_dd_test", mode="append")
    n_fp = (
        want.join(docs.select("doc_id", "text"), "doc_id")
        .select(fingerprint("text").alias("fp"))
        .distinct()
        .count()
    )
    assert dd.count() == n_fp


def test_stream_parquet_sink_with_checkpoint(spark, sf_smoke, tmp_path):
    """Production sink shape: stream -> partitioned parquet files with a
    checkpoint. Restarting the same query from the checkpoint must be a
    no-op (exactly-once file sink: no duplicate output)."""
    from vectorsearch_with_hnsw_spark.streaming.documents import (
        curate_stream,
        read_documents_stream,
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            curate_stream(read_documents_stream(spark, sf_smoke))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    run_once()  # same source files, same checkpoint -> nothing new
    assert spark.read.parquet(out).count() == n1


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics: with maxFilesPerTrigger=1 the second file
    arrives after the watermark advanced past its event times, so its
    rows must be dropped by the streaming dedup state (they would
    otherwise re-emit their duplicate event_ids)."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    schema = "event_id long, ts timestamp"
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:01")],
        "event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    # duplicates of ids 1/2, hours older than the watermark horizon
    late = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00"), (2, "2024-01-01 01:00:01"), (3, "2024-01-01 10:00:02")],
        "event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    on_time.coalesce(1).write.parquet(src + "/f=0")
    late.coalesce(1).write.parquet(src + "/f=1")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
    )
    from vectorsearch_with_hnsw_spark.streaming.events import run_stream_to_memory

    got = run_stream_to_memory(stream, "late_test", mode="append")
    ids = sorted(r["event_id"] for r in got.collect())
    # 1 and 2 emitted once from the on-time file; the late duplicates are
    # dropped by watermark eviction rather than re-emitted; 3 is within
    # the horizon (same batch window) and passes
    assert ids == [1, 2, 3]


def test_streaming_knn_matches_batch(spark, sf_smoke, tmp_path):
    """Micro-batch kNN serving: a bounded query stream answered against
    the static embeddings relation must produce exactly the batch
    knn_exact_fast results for the same query set."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact_fast
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.ingest import read_embeddings_stream
    from vectorsearch_with_hnsw_spark.streaming.search import StreamingKnn

    emb = load_table(spark, sf_smoke, "embeddings")
    to_queries = lambda df: df.filter(F.col("vec_id") < 8).select(  # noqa: E731
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sink = StreamingKnn(emb, str(tmp_path / "knn_out"), k=5, metric="cosine")
    got = sink.run(to_queries(read_embeddings_stream(spark, sf_smoke)))
    want = knn_exact_fast(emb, to_queries(emb), k=5, metric="cosine")
    cols = ["query_id", "neighbor_id", "dist", "rnk"]
    assert _rows(got, cols) == _rows(want, cols)
    assert sink.batches_seen >= 1


def test_enriched_stream_matches_batch(spark, sf_smoke):
    """Stream-static dimension join: streaming purchase events enriched
    with the customer dim must aggregate to the same per-nation totals
    as the identical batch plan."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.events import events_enriched_stream

    cust = load_table(spark, sf_smoke, "customer")
    stream = events_enriched_stream(read_events_stream(spark, sf_smoke), cust)
    got = run_stream_to_memory(stream, "enriched_test", mode="complete")
    ev = load_table(spark, sf_smoke, "events")
    want = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("purchase_value"),
        )
    )
    cols = ["c_nationkey", "n_purchases", "purchase_value"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_attribution_stream_matches_batch_interval_join(spark, sf_smoke):
    """Stream-stream interval join (watermarked both sides) must equal
    the batch interval_join composition on the same bounded input."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.relational import interval_join
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.events import (
        view_purchase_attribution_stream,
    )

    stream = view_purchase_attribution_stream(read_events_stream(spark, sf_smoke))
    got = run_stream_to_memory(stream, "attribution_test", mode="append")
    ev = load_table(spark, sf_smoke, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    want = interval_join(purchases, views, key="user_id", lookback_sec=3600).select(
        "purchase_id",
        F.col("user_id").alias("p_user"),
        F.col("ts_left").alias("p_ts"),
        F.col("ts_right").alias("v_ts"),
        "view_value",
    )
    cols = ["purchase_id", "p_user", "p_ts", "v_ts", "view_value"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_streaming_dedup_checkpoint_resume(spark, sf_smoke, tmp_path):
    """Exactly-once over restart: a checkpointed dedup stream stopped
    and restarted against the same source must not re-emit rows the
    first run already committed — the property that makes foreachBatch
    ingest safe to rerun after a crash."""
    import shutil

    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.events import (
        EVENTS_SCHEMA,
        events_dedup_stream,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = load_table(spark, sf_smoke, "events").limit(200)
    # source written with the normalized TIMESTAMP_LTZ ts — EVENTS_SCHEMA
    # matches it directly
    ev.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        raw_stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .format("parquet")
            .load(src + "/*.parquet")
        )
        stream = events_dedup_stream(raw_stream)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == ev.select("event_id").distinct().count()
    run_once()  # restart against unchanged source: offsets committed -> no new rows
    n2 = spark.read.parquet(out).count()
    assert n2 == n1, f"restart re-emitted rows: {n1} -> {n2}"
    shutil.rmtree(ckpt)


def test_streaming_incremental_dedup_parity(spark, sf_smoke, tmp_path):
    """A streamed batch of new docs deduped against the static corpus
    must equal the batch dedup_incremental output exactly."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.dedup import dedup_incremental
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.documents import (
        DOCUMENTS_SCHEMA,
        dedup_incremental_stream,
    )

    docs = load_table(spark, sf_smoke, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    src = str(tmp_path / "landing")
    new.coalesce(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .load(src + "/*.parquet")
    )
    out = str(tmp_path / "survivors")
    q = dedup_incremental_stream(stream, corpus, out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    want = {r.doc_id for r in dedup_incremental(new, corpus).collect()}
    assert got == want


def test_lm_familiarity_stream_matches_batch(spark, sf_smoke, tmp_path):
    """Stream scored against a static-corpus bigram model == the batch
    lm_score of the same documents against the same model (exact
    integer columns, so set equality is bit-exact)."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.textpipe import lm_model, lm_score
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.documents import (
        DOCUMENTS_SCHEMA,
        lm_familiarity_stream,
    )

    docs = load_table(spark, sf_smoke, "documents")
    ref = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    src = str(tmp_path / "landing")
    new.coalesce(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .load(src + "/*.parquet")
    )
    out = str(tmp_path / "scored")
    q = lm_familiarity_stream(stream, ref, out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in lm_score(new, lm_model(ref)).collect()}
    assert got == want


def test_anomaly_score_stream_matches_batch(spark, sf_smoke, tmp_path):
    """Stream scored against static per-user history moments == the same
    scoring applied in batch (fixed float expression over integer
    moments, so set equality is exact).

    A (user, day) row must be scored on its COMPLETE day count even when
    the day's events span micro-batches, so the stream runs twice
    against one checkpoint: run 1 ingests the real events (their final
    day stays pending — the watermark hasn't passed it), then a sentinel
    event 30 days later advances the global watermark and run 2 flushes
    every real day finalized. The sentinel's own user is absent from the
    history moments, so the broadcast join drops it from the output."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.events import (
        EVENTS_SCHEMA,
        anomaly_score_stream,
    )

    ev = load_table(spark, sf_smoke, "events")
    history = ev.filter(F.col("event_id") % 2 == 0)
    new = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "landing")
    new.coalesce(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .load(src + "/*.parquet")
    )
    out = str(tmp_path / "scores")
    q = anomaly_score_stream(stream, history, out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    # watermark-advancing sentinel (user -1 has no trained moments)
    new.agg(F.max("ts").alias("ts")).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("append").parquet(src)
    q2 = anomaly_score_stream(stream, history, out, str(tmp_path / "ckpt"))
    q2.awaitTermination(180)

    daily_hist = history.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    mom = (
        daily_hist.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("n_events").alias("s1"),
            F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
        )
        .filter(
            (F.col("nd") >= 3) & (F.col("s2") * F.col("nd") > F.col("s1") * F.col("s1"))
        )
    )
    daily_new = new.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    mean = F.col("s1").cast("double") / F.col("nd").cast("double")
    var = F.col("s2").cast("double") / F.col("nd").cast("double") - mean * mean
    z = (F.col("n_events").cast("double") - mean) / F.sqrt(var)
    want = {
        (r["user_id"], str(r["day"]), r["n_events"], r["z"])
        for r in daily_new.join(mom, "user_id")
        .withColumn("z", z)
        .select("user_id", "day", "n_events", "z")
        .collect()
    }
    got = {
        (r["user_id"], str(r["day"]), r["n_events"], r["z"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == want and len(got) > 0


def test_gopher_stream_matches_batch(spark, sf_smoke):
    """The streaming Gopher gate is stateless: identical rows (all rule
    flags included) to the batch operator over the same documents."""
    from vectorsearch_with_hnsw_spark.operators.textpipe import gopher_rules
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.documents import (
        gopher_stream,
        read_documents_stream,
    )

    stream = gopher_stream(
        read_documents_stream(spark, sf_smoke), min_words=10, min_stopwords=1
    )
    got = run_stream_to_memory(stream, "gopher_test", mode="append")
    want = gopher_rules(
        load_table(spark, sf_smoke, "documents"), min_words=10, min_stopwords=1
    )
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_streaming_routed_ingest_preserves_probe_bound(spark, sf_smoke):
    """Routed micro-batch ingest: the drained index is LSH-placed with
    NO appended probe-all tail, and every streamed vector is reachable
    through the routed probe."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.index.build import HnswParams
    from vectorsearch_with_hnsw_spark.index.routed import knn_hnsw_routed
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.ingest import (
        StreamingIndexIngest,
        read_embeddings_stream,
    )

    ingest = StreamingIndexIngest(
        HnswParams(dim=64, metric="cosine"), routed=True, num_partitions=4
    )
    idx = ingest.run(read_embeddings_stream(spark, sf_smoke))
    assert idx.routed and idx.appended_partitions == []
    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = knn_hnsw_routed(idx, q, k=1).filter(F.col("rnk") == 1).collect()
    assert len(rows) == 25
    for r in rows:
        assert r["neighbor_id"] == r["query_id"]


def test_streaming_quantized_ingest_matches_batch_lifecycle(spark, sf_smoke, tmp_path):
    """StreamingQuantizedIngest == build(first batch).add(rest):
    a two-file stream (mtime-ordered so the even-id half is batch 1)
    yields an Sq8Index whose ranges are trained ONLY on batch 1 and
    whose codes are bit-identical to the batch-side
    build-then-add over the same split — the artifact lifecycle at
    streaming cadence."""
    import glob
    import os

    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.ingest import (
        EMBEDDINGS_SCHEMA,
        StreamingQuantizedIngest,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    src = str(tmp_path / "vec_stream")
    a.coalesce(1).write.mode("append").parquet(src)
    first_files = set(glob.glob(f"{src}/*.parquet"))
    for f in first_files:
        os.utime(f, (1_000_000_000, 1_000_000_000))
    b.coalesce(1).write.mode("append").parquet(src)
    for f in set(glob.glob(f"{src}/*.parquet")) - first_files:
        os.utime(f, (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    ingest = StreamingQuantizedIngest(lambda batch: Sq8Index.build(batch, dim=64))
    idx = ingest.run(stream)
    assert ingest.batches_seen >= 2, "split did not produce multiple micro-batches"

    want = Sq8Index.build(a, dim=64).add(b)
    assert _rows(idx.ranges, ["qmin", "qmax"]) == _rows(want.ranges, ["qmin", "qmax"])
    assert _rows(idx.codes, ["vec_id", "bcode"]) == _rows(want.codes, ["vec_id", "bcode"])

    q = emb.filter(F.col("vec_id").isin(1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cols = ["query_id", "rnk", "neighbor_id"]
    assert _rows(idx.search(q, k=5), cols) == _rows(want.search(q, k=5), cols)


def test_streaming_filtered_knn_matches_batch(spark, sf_smoke, tmp_path):
    """Filtered micro-batch kNN serving: the pluggable answer hook
    composes with filtered_knn (the vector-DB metadata-WHERE serving
    shape), and the streamed results match the batch filtered_knn rows
    for the same query set — only permitted ids come back."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.knn import filtered_knn
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.ingest import read_embeddings_stream
    from vectorsearch_with_hnsw_spark.streaming.search import StreamingKnn

    emb = load_table(spark, sf_smoke, "embeddings")
    docs = load_table(spark, sf_smoke, "documents")
    allowed = docs.filter(F.col("lang") == "en").select("doc_id")
    to_queries = lambda df: df.filter(F.col("vec_id") < 8).select(  # noqa: E731
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sink = StreamingKnn(
        emb,
        str(tmp_path / "fknn_out"),
        answer=lambda q: filtered_knn(emb, q, k=5, metric="l2", allowed_ids=allowed),
    )
    got = sink.run(to_queries(read_embeddings_stream(spark, sf_smoke)))
    want = filtered_knn(emb, to_queries(emb), k=5, metric="l2", allowed_ids=allowed)
    cols = ["query_id", "neighbor_id", "dist", "rnk"]
    assert _rows(got, cols) == _rows(want, cols)
    allowed_set = {r.doc_id for r in allowed.collect()}
    assert {r.neighbor_id for r in got.collect()} <= allowed_set


def test_streaming_hard_negatives_matches_batch(spark, sf_smoke, tmp_path):
    """Continuous contrastive mining: the pluggable answer hook composes
    with hard_negatives, so an anchor stream is mined against the static
    labeled corpus micro-batch by micro-batch — and the accumulated
    results match the one-shot batch mine for the same anchor set (the
    banded top-k is a pure per-anchor relation, so batch boundaries
    cannot change it)."""
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.retrieval import hard_negatives
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.ingest import read_embeddings_stream
    from vectorsearch_with_hnsw_spark.streaming.search import StreamingKnn

    emb = load_table(spark, sf_smoke, "embeddings")
    to_anchors = lambda df: df.filter(F.col("vec_id") < 6)  # noqa: E731
    sink = StreamingKnn(
        emb,
        str(tmp_path / "hneg_out"),
        answer=lambda anchors: hard_negatives(emb, anchors, k=4, margin=0.2),
    )
    got = sink.run(to_anchors(read_embeddings_stream(spark, sf_smoke)))
    want = hard_negatives(emb, to_anchors(emb), k=4, margin=0.2)
    cols = ["query_id", "pos_id", "pos_dist", "neighbor_id", "dist", "tier", "rnk"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_streaming_skipgram_matches_batch(spark, sf_smoke):
    """skipgram_stream complete-mode over a drained bounded stream ==
    batch skipgram_pairs over the same rows, including the min_count
    floor on the aggregated state."""
    from vectorsearch_with_hnsw_spark.operators.textpipe import skipgram_pairs
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.documents import (
        read_documents_stream,
        skipgram_stream,
    )
    from vectorsearch_with_hnsw_spark.streaming.events import run_stream_to_memory

    got = run_stream_to_memory(
        skipgram_stream(read_documents_stream(spark, sf_smoke), window=2, min_count=2),
        "skipgram_stream_test",
        mode="complete",
    )
    want = skipgram_pairs(
        load_table(spark, sf_smoke, "documents"), window=2, min_count=2
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bpe_encode_stream_matches_batch(spark, sf_smoke):
    """bpe_encode_stream append-mode over a drained bounded stream ==
    batch bpe_encode over the same rows, on BOTH encode paths (the
    expression path and the Arrow kernel path — the kernel is what
    real merge counts use, so its stream-capability is the claim that
    matters)."""
    from vectorsearch_with_hnsw_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        bpe_vocab,
    )
    from vectorsearch_with_hnsw_spark.sources import load_table
    from vectorsearch_with_hnsw_spark.streaming.documents import (
        bpe_encode_stream,
        read_documents_stream,
    )
    from vectorsearch_with_hnsw_spark.streaming.events import run_stream_to_memory

    docs = load_table(spark, sf_smoke, "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train(docs, n_merges=4).orderBy("merge_rank").collect()
    ]
    vocab = bpe_vocab(docs, merges)
    for method in ("expr", "kernel"):
        got = run_stream_to_memory(
            bpe_encode_stream(
                read_documents_stream(spark, sf_smoke), merges, vocab,
                method=method,
            ),
            f"bpe_encode_stream_{method}",
            mode="append",
        )
        want = bpe_encode(docs, merges, vocab, method=method)
        g = sorted(
            (r["doc_id"], r["n_tokens"], tuple(r["token_ids"]))
            for r in got.collect()
        )
        w = sorted(
            (r["doc_id"], r["n_tokens"], tuple(r["token_ids"]))
            for r in want.collect()
        )
        assert g == w, method
