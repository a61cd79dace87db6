from __future__ import annotations

from vectorsearch_with_hnsw_spark.operators.synth import synthetic_vectors


def test_synthetic_vectors_deterministic_and_distributed(spark):
    a = synthetic_vectors(spark, 200, 16, seed=42)
    b = synthetic_vectors(spark, 200, 16, seed=42).repartition(7)
    ra = {r["id"]: tuple(r["vec"]) for r in a.collect()}
    rb = {r["id"]: tuple(r["vec"]) for r in b.collect()}
    assert ra == rb and len(ra) == 200
    # roughly standard-normal: mean ~0, std ~1 over all coordinates
    import numpy as np

    mat = np.array([list(v) for v in ra.values()])
    assert abs(mat.mean()) < 0.05 and 0.9 < mat.std() < 1.1


def test_cli_build_query_rebuild(spark, tmp_path, capsys):
    from vectorsearch_with_hnsw_spark import cli

    out = str(tmp_path / "idx")
    cli.main(["build", "--n", "300", "--dim", "64", "--out", out, "--partitions", "2"])
    cli.main(["query", "--index", out, "--sf-dir", "/root/testdata/sf0.001", "--k", "3", "--max-queries", "2"])
    out2 = str(tmp_path / "idx2")
    cli.main(["rebuild", "--index", out, "--out", out2])
    captured = capsys.readouterr()
    assert "built 300 x 64" in captured.out
    assert "rebuilt" in captured.out


def test_cli_curate_and_clusters(spark, tmp_path, capsys):
    from vectorsearch_with_hnsw_spark import cli

    cur = str(tmp_path / "curated")
    cli.main(["curate", "--sf-dir", "/root/testdata/sf0.001", "--out", cur])
    cl = str(tmp_path / "clusters")
    cli.main(["clusters", "--sf-dir", "/root/testdata/sf0.001", "--out", cl])
    captured = capsys.readouterr()
    assert "curated 500 ->" in captured.out
    assert "clustered docs ->" in captured.out
    # curated sink is partitioned by predicted language (pruning layout)
    back = spark.read.parquet(cur)
    assert back.count() > 0 and "lang_pred" in back.columns
    assert spark.read.parquet(cl).count() > 0


def test_cli_chunk_pack(spark, tmp_path, capsys):
    from vectorsearch_with_hnsw_spark import cli

    out = str(tmp_path / "chunks")
    cli.main(["chunk", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
              "--budget", "512", "--shards", "8"])
    captured = capsys.readouterr()
    assert "packed " in captured.out
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert {"shard", "pack_id", "doc_id", "chunk_id", "n_chunk_tokens", "chunk_text"} <= set(back.columns)
    # partitioned by shard => partition pruning prunes to one directory
    one = back.filter("shard = 3")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan


def test_synthetic_datasource_batch_matches_operator(spark):
    """The registered Python DataSource must produce bit-identical rows
    to synthetic_vectors() — same generator, any partitioning."""
    from vectorsearch_with_hnsw_spark.operators.synth import synthetic_vectors
    from vectorsearch_with_hnsw_spark.sources.synthetic_source import (
        SyntheticVectorsSource,
    )

    spark.dataSource.register(SyntheticVectorsSource)
    df = (
        spark.read.format("synthetic_vectors")
        .option("n", 100).option("dim", 16).option("seed", 7)
        .option("numPartitions", 5)
        .load()
    )
    got = {r["id"]: list(r["vec"]) for r in df.collect()}
    want = {r["id"]: list(r["vec"]) for r in synthetic_vectors(spark, 100, 16, seed=7).collect()}
    assert got == want
    assert df.rdd.getNumPartitions() == 5


def test_synthetic_datasource_stream(spark):
    """Streaming reader: micro-batches advance the id offset; total rows
    = maxRows; ids are dense and vectors identical to the batch read."""
    import time

    from vectorsearch_with_hnsw_spark.sources.synthetic_source import (
        SyntheticVectorsSource,
    )

    spark.dataSource.register(SyntheticVectorsSource)
    stream = (
        spark.readStream.format("synthetic_vectors")
        .option("dim", 8).option("rowsPerBatch", 40).option("maxRows", 120)
        .load()
    )
    # the Python microbatch reader has no availableNow support: run on a
    # processing-time trigger and stop once the offset cap is drained
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream_test")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        for _ in range(120):
            if spark.table("synth_stream_test").count() >= 120:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.table("synth_stream_test").collect()
    assert sorted(r["id"] for r in rows) == list(range(120))
    batch = {
        r["id"]: list(r["vec"])
        for r in spark.read.format("synthetic_vectors")
        .option("n", 120).option("dim", 8).load().collect()
    }
    assert {r["id"]: list(r["vec"]) for r in rows} == batch


def test_cli_search_families(spark, capsys, sf_smoke):
    from vectorsearch_with_hnsw_spark import cli

    # "binary" deploys the sketch through the exact re-rank (dist), not
    # the raw hamming ranking (that stays on operators.ann.binary_sign_knn)
    cli.main(["search", "--method", "binary", "--sf-dir", sf_smoke, "--k", "2", "--max-queries", "2"])
    cli.main(["search", "--method", "bm25", "--sf-dir", sf_smoke, "--k", "3"])
    captured = capsys.readouterr()
    assert "query_id" in captured.out and "dist" in captured.out
    assert "score" in captured.out


def test_cli_search_help_lists_every_method(capsys):
    """`search --help` names every similarity_search method, built from
    the dispatch table, plus the keyword methods."""
    import re

    import pytest

    from vectorsearch_with_hnsw_spark import cli
    from vectorsearch_with_hnsw_spark.operators.search import METHODS

    with pytest.raises(SystemExit):
        cli.main(["search", "--help"])
    words = set(re.findall(r"[a-z0-9_]+", capsys.readouterr().out))
    assert set(METHODS) | {"bm25", "hybrid"} <= words


def test_cli_dedup_methods(spark, tmp_path, capsys):
    """The dedup subcommand writes each family's verdicts/pairs to
    parquet; the fuzzy sink matches the in-process operator exactly."""
    from vectorsearch_with_hnsw_spark import cli
    from vectorsearch_with_hnsw_spark.operators.dedup import fuzzy_dedup
    from vectorsearch_with_hnsw_spark.sources import load_table

    fz = str(tmp_path / "fuzzy")
    cli.main(["dedup", "--sf-dir", "/root/testdata/sf0.001", "--out", fz])
    sp = str(tmp_path / "spans")
    cli.main(["dedup", "--method", "spans", "--sf-dir", "/root/testdata/sf0.001", "--out", sp])
    captured = capsys.readouterr()
    assert "dedup[fuzzy]: 500 rows" in captured.out
    assert "dedup[spans]:" in captured.out
    got = {tuple(r) for r in spark.read.parquet(fz).collect()}
    want = {
        tuple(r)
        for r in fuzzy_dedup(load_table(spark, "/root/testdata/sf0.001", "documents")).collect()
    }
    assert got == want


def test_cli_explain_prints_plan(spark, capsys):
    from vectorsearch_with_hnsw_spark import cli

    cli.main(["explain", "--query", "pricing_summary"])
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out


def test_cli_quality_gates(spark, tmp_path, capsys):
    """Both quality gates run end-to-end from the CLI, and the search
    command still works afterwards (a local F-import once shadowed the
    module binding for every later branch)."""
    from vectorsearch_with_hnsw_spark import cli

    qg = str(tmp_path / "qg")
    cli.main([
        "quality", "--gate", "gopher", "--sf-dir", "/root/testdata/sf0.001",
        "--out", qg, "--min-words", "10", "--min-stopwords", "1",
    ])
    qc = str(tmp_path / "qc")
    cli.main([
        "quality", "--gate", "c4", "--sf-dir", "/root/testdata/sf0.001",
        "--out", qc, "--keep-only",
    ])
    captured = capsys.readouterr()
    assert "quality[gopher]: 500 rows" in captured.out
    assert "quality[c4]" in captured.out
    assert spark.read.parquet(qg).filter("passes").count() > 0
    cli.main(["search", "--method", "exact", "--sf-dir", "/root/testdata/sf0.001", "--k", "2", "--max-queries", "1"])
    assert "query_id" in capsys.readouterr().out


def test_cli_pq_build_and_query(spark, tmp_path, capsys, sf_smoke):
    """pq-build writes the cell-partitioned IVF-PQ artifact; pq-query
    probes the loaded index (rank-1 self-match) for both kinds."""
    import os

    from vectorsearch_with_hnsw_spark import cli

    out = str(tmp_path / "ivfpq")
    cli.main(["pq-build", "--sf-dir", sf_smoke, "--out", out, "--kind", "ivfpq", "--m", "8"])
    assert any(d.startswith("cell=") for d in os.listdir(f"{out}/codes"))
    cli.main([
        "pq-query", "--index", out, "--kind", "ivfpq", "--sf-dir", sf_smoke,
        "--k", "3", "--max-queries", "2",
    ])
    captured = capsys.readouterr()
    assert "ivfpq index over" in captured.out
    # rank-1 self-match at adc 0.0 for query 0
    assert "|0       |1  |0          |0.0" in captured.out

    out2 = str(tmp_path / "pq")
    cli.main(["pq-build", "--sf-dir", sf_smoke, "--out", out2, "--kind", "pq", "--m", "8"])
    cli.main([
        "pq-query", "--index", out2, "--kind", "pq", "--sf-dir", sf_smoke,
        "--k", "3", "--max-queries", "1",
    ])
    assert "pq index over" in capsys.readouterr().out


def test_cli_pq_update_lifecycle(spark, tmp_path, capsys, sf_smoke):
    """pq-update drives the artifact lifecycle end-to-end from the CLI:
    build on a subset, add the rest under the frozen trained state,
    tombstone a slice (the probe must skip it), then compact to a
    clean artifact; in-place writes are refused."""
    import pytest

    from vectorsearch_with_hnsw_spark import cli

    base = str(tmp_path / "sq8")
    cli.main(["pq-build", "--sf-dir", sf_smoke, "--out", base, "--kind", "sq8"])
    capsys.readouterr()

    upd = str(tmp_path / "sq8_upd")
    cli.main([
        "pq-update", "--index", base, "--kind", "sq8", "--out", upd,
        "--sf-dir", sf_smoke, "--delete-where", "vec_id % 17 = 3",
    ])
    out = capsys.readouterr().out
    assert "delete[vec_id % 17 = 3]" in out and "tombstones" in out
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    served = Sq8Index.load(spark, upd).search(q, k=10).collect()
    assert served and all(r.neighbor_id % 17 != 3 for r in served)

    compacted = str(tmp_path / "sq8_compact")
    cli.main([
        "pq-update", "--index", upd, "--kind", "sq8", "--out", compacted,
        "--compact",
    ])
    assert "tombstones none" in capsys.readouterr().out

    with pytest.raises(SystemExit, match="differ"):
        cli.main([
            "pq-update", "--index", base, "--kind", "sq8", "--out", base,
            "--compact",
        ])
    with pytest.raises(SystemExit, match="nothing to do"):
        cli.main([
            "pq-update", "--index", base, "--kind", "sq8",
            "--out", str(tmp_path / "noop"),
        ])


def test_cli_split_and_negatives(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from vectorsearch_with_hnsw_spark import cli

    sp = str(tmp_path / "split")
    cli.main(["split", "--sf-dir", "/root/testdata/sf0.001", "--out", sp])
    pd_ = str(tmp_path / "split_pd")
    cli.main([
        "split", "--sf-dir", "/root/testdata/sf0.001", "--out", pd_, "--per-doc",
    ])
    ng = str(tmp_path / "negs")
    cli.main([
        "negatives", "--sf-dir", "/root/testdata/sf0.001", "--out", ng,
        "--k", "3", "--max-anchors", "5",
    ])
    captured = capsys.readouterr()
    assert "split[leakage-safe]: 500 docs" in captured.out
    assert "split[per-doc]: 500 docs" in captured.out
    assert "triplet rows ->" in captured.out

    back = spark.read.parquet(sp)
    assert back.count() == 500
    # the leakage guarantee, through the CLI surface
    assert (
        back.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )
    negs = spark.read.parquet(ng)
    assert negs.count() > 0
    assert set(negs.columns) == {
        "query_id", "pos_id", "pos_dist", "neighbor_id", "dist", "tier", "rnk",
    }


def test_cli_bpe_train(spark, tmp_path, capsys):
    from vectorsearch_with_hnsw_spark import cli

    out = str(tmp_path / "merges")
    cli.main(["bpe-train", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
              "--merges", "4"])
    assert "bpe: 4 merges ->" in capsys.readouterr().out
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert set(back.columns) == {"merge_rank", "left_sym", "right_sym", "pair_count"}


def test_cli_bpe_encode_and_incremental_train(spark, tmp_path, capsys):
    from vectorsearch_with_hnsw_spark import cli

    out = str(tmp_path / "tok")
    cli.main(["bpe-encode", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
              "--merges", "4"])
    assert "bpe-encode: 4 merges" in capsys.readouterr().out
    enc = spark.read.parquet(out + "/encoded")
    assert set(enc.columns) == {"doc_id", "n_tokens", "token_ids"}
    assert enc.count() == 500
    voc = spark.read.parquet(out + "/vocab")
    assert set(voc.columns) == {"token_id", "token", "token_freq"}
    # incremental flag produces the identical merge table
    outi = str(tmp_path / "merges_incr")
    cli.main(["bpe-train", "--sf-dir", "/root/testdata/sf0.001", "--out", outi,
              "--merges", "4", "--incremental"])
    a = sorted(tuple(r) for r in spark.read.parquet(out + "/merges").collect())
    b = sorted(tuple(r) for r in spark.read.parquet(outi).collect())
    assert a == b


def test_cli_strip_spans_skipgrams_recall(spark, tmp_path, capsys):
    from vectorsearch_with_hnsw_spark import cli

    out = str(tmp_path / "clean")
    cli.main(["strip-spans", "--sf-dir", "/root/testdata/sf0.001", "--out", out])
    assert "strip-spans:" in capsys.readouterr().out
    clean = spark.read.parquet(out)
    assert set(clean.columns) == {"doc_id", "n_tokens", "n_removed", "text_clean"}

    out2 = str(tmp_path / "sg")
    cli.main(["skipgrams", "--sf-dir", "/root/testdata/sf0.001", "--out", out2,
              "--window", "2"])
    assert "skipgrams:" in capsys.readouterr().out
    sg = spark.read.parquet(out2)
    assert set(sg.columns) == {"center", "context", "pair_count"}

    out3 = str(tmp_path / "rep")
    cli.main(["recall", "--method", "lsh", "--sf-dir", "/root/testdata/sf0.001",
              "--k", "5", "--out", out3])
    msg = capsys.readouterr().out
    assert "recall[lsh]@5: micro" in msg
    rep = spark.read.parquet(out3)
    assert set(rep.columns) == {"query_id", "n_exact", "n_hits", "recall"}
    assert rep.count() == 10
