"""Job-style CLI — the engine's twin of the reference's argparse entry
(`main()`, hsnw_trial.py:450-484: --build / --load+query flows with
hyperparameter flags). Serving (`--serve`, hsnw_trial.py:430-447) is out
of scope per BASELINE.json ("batch construction, no query serving");
batch query-in/results-out covers that capability.

  python -m vectorsearch_with_hnsw_spark.cli build --n 1000 --dim 64 --out /tmp/idx
  python -m vectorsearch_with_hnsw_spark.cli query --index /tmp/idx --sf-dir /root/testdata/sf0.001 --k 10
  python -m vectorsearch_with_hnsw_spark.cli rebuild --index /tmp/idx --out /tmp/idx2
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from .index.build import HnswIndex, HnswParams, hnsw_build
from .index.query import knn_hnsw
from .operators.search import METHODS
from .operators.synth import synthetic_vectors
from .session import get_spark
from .sources import load_table


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="vectorsearch_with_hnsw_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build an index over synthetic gaussian vectors")
    b.add_argument("--n", type=int, default=1000)
    b.add_argument("--dim", type=int, default=64)
    b.add_argument("--M", type=int, default=16)
    b.add_argument("--ef-construction", type=int, default=200)
    b.add_argument("--ef-search", type=int, default=50)
    b.add_argument("--metric", default="l2")
    b.add_argument("--seed", type=int, default=42)
    b.add_argument("--partitions", type=int, default=8)
    b.add_argument("--out", required=True)

    q = sub.add_parser("query", help="probe a saved index with embeddings-table queries")
    q.add_argument("--index", required=True)
    q.add_argument("--sf-dir", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--ef", type=int, default=None)
    q.add_argument("--max-queries", type=int, default=10)

    r = sub.add_parser("rebuild", help="compact a saved index (drop tombstones)")
    r.add_argument("--index", required=True)
    r.add_argument("--out", required=True)

    c = sub.add_parser(
        "curate",
        help="score/gate/dedup/sample the documents table -> partitioned parquet",
    )
    c.add_argument("--sf-dir", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--min-quality", type=float, default=0.5)
    c.add_argument("--default-pct", type=int, default=20)

    cl = sub.add_parser(
        "clusters",
        help="near-dup cluster assignment (MinHash LSH pairs -> connected components)",
    )
    cl.add_argument("--sf-dir", required=True)
    cl.add_argument("--out", required=True)
    cl.add_argument("--algorithm", default="label", choices=("label", "star"))

    dd = sub.add_parser(
        "dedup",
        help="dedup the documents table (fuzzy | semantic | exact | spans | incremental) -> parquet",
    )
    dd.add_argument("--sf-dir", required=True)
    dd.add_argument("--out", required=True)
    dd.add_argument(
        "--method",
        default="fuzzy",
        choices=("fuzzy", "semantic", "exact", "spans", "incremental"),
    )
    dd.add_argument(
        "--split",
        type=int,
        default=250,
        help="incremental only: doc_id below this is the existing corpus",
    )

    sp = sub.add_parser(
        "split",
        help="train/val/test assignment -> parquet (leakage-safe by default: "
        "near-dup clusters never straddle splits)",
    )
    sp.add_argument("--sf-dir", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--val-pct", type=int, default=5)
    sp.add_argument("--test-pct", type=int, default=5)
    sp.add_argument(
        "--per-doc", action="store_true",
        help="plain per-doc hash split (skip the near-dup grouping)",
    )

    ng = sub.add_parser(
        "negatives",
        help="hard/semi-hard negative mining over the labeled embeddings -> parquet",
    )
    ng.add_argument("--sf-dir", required=True)
    ng.add_argument("--out", required=True)
    ng.add_argument("--k", type=int, default=5)
    ng.add_argument("--margin", type=float, default=0.15)
    ng.add_argument("--max-anchors", type=int, default=10)

    bp = sub.add_parser(
        "bpe-train",
        help="learn a BPE merge table from the documents table -> parquet",
    )
    bp.add_argument("--sf-dir", required=True)
    bp.add_argument("--out", required=True)
    bp.add_argument("--merges", type=int, default=8)
    bp.add_argument(
        "--incremental",
        action="store_true",
        help="maintained pair counts (per-round delta over affected "
        "words only — the real-vocab-size mode; auto above 12 merges)",
    )

    be = sub.add_parser(
        "bpe-encode",
        help="train merges + vocab, then tokenize the corpus to token "
        "ids -> parquet dir (merges/, vocab/, encoded/)",
    )
    be.add_argument("--sf-dir", required=True)
    be.add_argument("--out", required=True)
    be.add_argument("--merges", type=int, default=8)

    ss = sub.add_parser(
        "strip-spans",
        help="exact substring dedup: remove duplicated-passage tokens, "
        "lowest-id copy survives -> parquet",
    )
    ss.add_argument("--sf-dir", required=True)
    ss.add_argument("--out", required=True)
    ss.add_argument("--ngram", type=int, default=8)
    ss.add_argument("--min-run", type=int, default=2)
    ss.add_argument("--max-df", type=int, default=64)
    ss.add_argument(
        "--original-case",
        action="store_true",
        help="cut the spans out of the ORIGINAL text (case/punct/"
        "whitespace outside cuts preserved byte-for-byte); default "
        "output is the lowercased canonical token stream",
    )

    sg = sub.add_parser(
        "skipgrams",
        help="word2vec-style (center, context, count) pairs -> parquet",
    )
    sg.add_argument("--sf-dir", required=True)
    sg.add_argument("--out", required=True)
    sg.add_argument("--window", type=int, default=2)
    sg.add_argument("--min-count", type=int, default=1)

    rc = sub.add_parser(
        "recall",
        help="recall@k report of an ANN family vs exact kNN on the "
        "embeddings table",
    )
    rc.add_argument("--method", default="lsh")
    rc.add_argument("--sf-dir", required=True)
    rc.add_argument("--k", type=int, default=10)
    rc.add_argument("--metric", default="cosine")
    rc.add_argument("--max-queries", type=int, default=10)
    rc.add_argument("--out", default=None, help="optional parquet for the per-query rows")

    ck = sub.add_parser(
        "chunk",
        help="context-window chunking + token-budget packing -> parquet",
    )
    ck.add_argument("--sf-dir", required=True)
    ck.add_argument("--out", required=True)
    ck.add_argument("--window", type=int, default=128)
    ck.add_argument("--stride", type=int, default=64)
    ck.add_argument("--budget", type=int, default=2048)
    ck.add_argument("--shards", type=int, default=32)

    pt = sub.add_parser(
        "pretrain",
        help="curate -> chunk -> pack: raw corpus to training sequences",
    )
    pt.add_argument("--sf-dir", required=True)
    pt.add_argument("--out", required=True)
    pt.add_argument("--window", type=int, default=128)
    pt.add_argument("--stride", type=int, default=64)
    pt.add_argument("--budget", type=int, default=2048)
    pt.add_argument("--shards", type=int, default=32)
    pt.add_argument("--min-quality", type=float, default=0.5)

    s = sub.add_parser(
        "search",
        help="similarity search over the embeddings table (any family) "
        "or BM25/hybrid keyword search over documents",
    )
    s.add_argument(
        "--method",
        default="exact",
        help=", ".join(METHODS + ("bm25", "hybrid")),
    )
    s.add_argument("--sf-dir", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--metric", default="cosine")
    s.add_argument("--max-queries", type=int, default=5)
    s.add_argument("--terms", default="spark,hash,window", help="keyword terms (bm25/hybrid)")
    s.add_argument(
        "--where",
        default=None,
        help="SQL predicate over the embeddings table's columns "
        "(pre-filter: pushed into the scan before any distance math), "
        "e.g. \"label < 5\"",
    )
    s.add_argument(
        "--lang",
        default=None,
        help="restrict to vectors whose document has this lang "
        "(documents-table semi-join pre-filter)",
    )

    qa = sub.add_parser(
        "quality",
        help="hard-filter quality gates over the documents table (gopher | c4) -> parquet",
    )
    qa.add_argument("--sf-dir", required=True)
    qa.add_argument("--out", required=True)
    qa.add_argument("--gate", default="gopher", choices=("gopher", "c4"))
    qa.add_argument("--min-words", type=int, default=50, help="gopher word-count floor")
    qa.add_argument("--min-stopwords", type=int, default=2, help="gopher stopword floor")
    qa.add_argument("--min-line-words", type=int, default=5, help="c4 per-line word floor")
    qa.add_argument("--keep-only", action="store_true", help="write only passing docs")

    pb = sub.add_parser(
        "pq-build",
        help="build + save a quantized index (ivfpq | pq | sq8) over the embeddings table",
    )
    pb.add_argument("--sf-dir", required=True)
    pb.add_argument("--out", required=True)
    pb.add_argument("--kind", default="ivfpq", choices=("ivfpq", "pq", "sq8"))
    pb.add_argument("--m", type=int, default=16)
    pb.add_argument("--cells", type=int, default=8)
    pb.add_argument("--iters", type=int, default=2)

    pqq = sub.add_parser(
        "pq-query",
        help="probe a saved quantized index (ivfpq probes are partition-pruned reads)",
    )
    pqq.add_argument("--index", required=True)
    pqq.add_argument("--kind", default="ivfpq", choices=("ivfpq", "pq", "sq8"))
    pqq.add_argument("--sf-dir", required=True)
    pqq.add_argument("--k", type=int, default=10)
    pqq.add_argument("--n-probe", type=int, default=4)
    pqq.add_argument("--max-queries", type=int, default=5)
    pqq.add_argument(
        "--where",
        default=None,
        help="SQL predicate over the codes relation (e.g. 'vec_id < 1000') — "
        "the at-rest pre-filter, applied before cell pruning and decode",
    )
    pqq.add_argument(
        "--lang",
        default=None,
        help="restrict the probe to documents with this lang "
        "(cross-table allowed-ids semi-join on documents.doc_id)",
    )

    pu = sub.add_parser(
        "pq-update",
        help="add / delete / compact a saved quantized index without "
        "retraining (frozen trained state); writes an updated copy",
    )
    pu.add_argument("--index", required=True)
    pu.add_argument("--kind", default="ivfpq", choices=("ivfpq", "pq", "sq8"))
    pu.add_argument(
        "--out", required=True,
        help="output path for the updated index (must differ from --index: "
        "the update is lazy, so writing in place would overwrite its own input)",
    )
    pu.add_argument("--sf-dir", help="embeddings source for --add-where / --delete-where")
    pu.add_argument(
        "--add-where",
        default=None,
        help="SQL predicate over the embeddings table selecting NEW vectors "
        "to encode under the frozen trained state (e.g. 'vec_id >= 1000')",
    )
    pu.add_argument(
        "--delete-where",
        default=None,
        help="SQL predicate over the embeddings table selecting ids to "
        "tombstone (probes skip them; codes stay at rest until --compact)",
    )
    pu.add_argument(
        "--compact", action="store_true",
        help="physically drop tombstoned codes and clear the log",
    )

    ex = sub.add_parser(
        "explain",
        help="print the formatted physical plan of any registry query",
    )
    ex.add_argument(
        "--query", required=True,
        help="registry query name (an unknown name prints the full list)",
    )
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    args = ap.parse_args(argv)
    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name=f"cli-{args.cmd}")
    try:
        if args.cmd == "build":
            vecs = synthetic_vectors(spark, args.n, args.dim, args.seed)
            params = HnswParams(
                dim=args.dim,
                M=args.M,
                ef_construction=args.ef_construction,
                ef_search=args.ef_search,
                metric=args.metric,
                seed=args.seed,
            )
            hnsw_build(vecs, params, num_partitions=args.partitions).save(args.out)
            print(f"built {args.n} x {args.dim} ({args.metric}) -> {args.out}")
        elif args.cmd == "query":
            idx = HnswIndex.load(spark, args.index)
            queries = (
                load_table(spark, args.sf_dir, "embeddings")
                .filter(F.col("vec_id") < args.max_queries)
                .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
            )
            knn_hnsw(idx, queries, k=args.k, ef=args.ef).orderBy("query_id", "rnk").show(
                args.max_queries * args.k, truncate=False
            )
        elif args.cmd == "rebuild":
            HnswIndex.load(spark, args.index).rebuild().save(args.out)
            print(f"rebuilt {args.index} -> {args.out}")
        elif args.cmd == "curate":
            from .operators.pipeline import curate
            from .sources.formats import write_parquet_partitioned

            docs = load_table(spark, args.sf_dir, "documents")
            out = curate(
                docs, default_pct=args.default_pct, min_quality=args.min_quality
            )
            write_parquet_partitioned(out, args.out, "lang_pred")
            print(f"curated {docs.count()} -> {out.count()} docs at {args.out}")
        elif args.cmd == "clusters":
            from .operators import dedup as D
            from .operators.clusters import dedup_clusters

            docs = load_table(spark, args.sf_dir, "documents")
            cc = dedup_clusters(D.minhash_lsh_candidates(docs), algorithm=args.algorithm)
            cc.write.mode("overwrite").parquet(args.out)
            print(f"{cc.count()} clustered docs -> {args.out}")
        elif args.cmd == "split":
            from .operators.textpipe import dataset_split, leakage_safe_split

            docs = load_table(spark, args.sf_dir, "documents")
            if args.per_doc:
                out = dataset_split(docs, args.val_pct, args.test_pct)
            else:
                from .operators import dedup as D

                out = leakage_safe_split(
                    docs, D.minhash_lsh_candidates(docs), args.val_pct, args.test_pct
                )
            out.write.mode("overwrite").parquet(args.out)
            kind = "per-doc" if args.per_doc else "leakage-safe"
            print(f"split[{kind}]: {out.count()} docs -> {args.out}")
        elif args.cmd == "negatives":
            from .operators.retrieval import hard_negatives

            emb = load_table(spark, args.sf_dir, "embeddings")
            anchors = emb.filter(F.col("vec_id") < args.max_anchors)
            out = hard_negatives(emb, anchors, k=args.k, margin=args.margin)
            out.write.mode("overwrite").parquet(args.out)
            print(f"negatives: {out.count()} triplet rows -> {args.out}")
        elif args.cmd == "bpe-train":
            from .operators.bpe import bpe_train

            docs = load_table(spark, args.sf_dir, "documents")
            merges = bpe_train(
                docs,
                n_merges=args.merges,
                incremental=True if args.incremental else None,
            )
            merges.write.mode("overwrite").parquet(args.out)
            print(f"bpe: {merges.count()} merges -> {args.out}")
        elif args.cmd == "bpe-encode":
            from .operators.bpe import bpe_encode, bpe_train, bpe_vocab

            docs = load_table(spark, args.sf_dir, "documents")
            merges_df = bpe_train(docs, n_merges=args.merges)
            merges_df.write.mode("overwrite").parquet(f"{args.out}/merges")
            merges = [
                (r["left_sym"], r["right_sym"])
                for r in merges_df.orderBy("merge_rank").collect()
            ]
            vocab = bpe_vocab(docs, merges)
            vocab.write.mode("overwrite").parquet(f"{args.out}/vocab")
            enc = bpe_encode(docs, merges, vocab)
            enc.write.mode("overwrite").parquet(f"{args.out}/encoded")
            n_tok = enc.agg(F.sum("n_tokens")).collect()[0][0]
            print(
                f"bpe-encode: {len(merges)} merges, {vocab.count()} vocab, "
                f"{enc.count()} docs / {n_tok} tokens -> {args.out}"
            )
        elif args.cmd == "strip-spans":
            from .operators.dedup import strip_dup_spans, strip_dup_spans_exact

            docs = load_table(spark, args.sf_dir, "documents")
            if args.original_case:
                out = strip_dup_spans_exact(
                    docs, n=args.ngram, min_run=args.min_run, max_df=args.max_df
                )
                out.write.mode("overwrite").parquet(args.out)
                stats = out.agg(
                    F.count(F.lit(1)).alias("docs"),
                    F.sum("n_chars_removed").alias("removed"),
                    F.sum("n_spans").alias("spans"),
                ).collect()[0]
                print(
                    f"strip-spans: {stats['removed']} original-text chars in "
                    f"{stats['spans']} spans removed across {stats['docs']} "
                    f"docs -> {args.out}"
                )
            else:
                out = strip_dup_spans(
                    docs, n=args.ngram, min_run=args.min_run, max_df=args.max_df
                )
                out.write.mode("overwrite").parquet(args.out)
                stats = out.agg(
                    F.count(F.lit(1)).alias("docs"),
                    F.sum("n_removed").alias("removed"),
                    F.sum("n_tokens").alias("total"),
                ).collect()[0]
                print(
                    f"strip-spans: {stats['removed']}/{stats['total']} tokens "
                    f"removed across {stats['docs']} docs -> {args.out}"
                )
        elif args.cmd == "skipgrams":
            from .operators.textpipe import skipgram_pairs

            docs = load_table(spark, args.sf_dir, "documents")
            out = skipgram_pairs(
                docs, window=args.window, min_count=args.min_count
            )
            out.write.mode("overwrite").parquet(args.out)
            print(f"skipgrams: {out.count()} pair types -> {args.out}")
        elif args.cmd == "recall":
            from .operators.knn import knn_exact
            from .operators.retrieval import recall_report
            from .operators.search import similarity_search

            emb = load_table(spark, args.sf_dir, "embeddings")
            queries = emb.filter(F.col("vec_id") < args.max_queries).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            dim = len(emb.select("embedding").first()[0])
            approx = similarity_search(
                emb, queries, method=args.method, k=args.k, dim=dim,
                metric=args.metric,
            )
            exact = knn_exact(emb, queries, k=args.k, metric=args.metric)
            rep = recall_report(approx, exact)
            if args.out:
                rep.write.mode("overwrite").parquet(args.out)
            s = rep.agg(
                F.sum("n_hits").alias("h"), F.sum("n_exact").alias("e")
            ).collect()[0]
            print(
                f"recall[{args.method}]@{args.k}: micro "
                f"{s['h']}/{s['e']} = {s['h'] / max(1, s['e']):.4f} over "
                f"{rep.count()} queries"
            )
        elif args.cmd == "quality":
            from .operators.textpipe import c4_clean, gopher_rules

            docs = load_table(spark, args.sf_dir, "documents")
            if args.gate == "gopher":
                out = gopher_rules(
                    docs,
                    min_words=args.min_words,
                    min_stopwords=args.min_stopwords,
                )
                verdict_col = "passes"
            else:
                out = c4_clean(docs, min_line_words=args.min_line_words)
                verdict_col = "keep"
            if args.keep_only:
                out = out.filter(F.col(verdict_col))
            out.write.mode("overwrite").parquet(args.out)
            n = out.count()
            print(f"quality[{args.gate}]: {n} rows -> {args.out}")
        elif args.cmd == "pq-build":
            from .operators.pq import IvfPqIndex, PqIndex
            from .operators.quantize import Sq8Index

            emb = load_table(spark, args.sf_dir, "embeddings")
            first = emb.select("embedding").first()
            if first is None:
                raise SystemExit(
                    "pq-build: embeddings table is empty — nothing to index"
                )
            dim = len(first[0])
            if args.kind == "ivfpq":
                idx = IvfPqIndex.build(
                    emb, dim=dim, m=args.m, n_cells=args.cells, iters=args.iters
                )
            elif args.kind == "sq8":
                idx = Sq8Index.build(emb, dim=dim)
            else:
                idx = PqIndex.build(emb, dim=dim, m=args.m)
            idx.save(args.out)
            print(f"{args.kind} index over {emb.count()} x {dim} -> {args.out}")
        elif args.cmd == "pq-query":
            from .operators.pq import IvfPqIndex, PqIndex
            from .operators.quantize import Sq8Index

            queries = (
                load_table(spark, args.sf_dir, "embeddings")
                .filter(F.col("vec_id") < args.max_queries)
                .select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"),
                )
            )
            allowed = None
            if getattr(args, "lang", None) is not None:
                allowed = (
                    load_table(spark, args.sf_dir, "documents")
                    .filter(F.col("lang") == args.lang)
                    .select("doc_id")
                )
            fkw = dict(predicate=args.where, allowed_ids=allowed)
            if args.kind == "ivfpq":
                res = IvfPqIndex.load(spark, args.index).search(
                    queries, k=args.k, n_probe=args.n_probe, **fkw
                )
            elif args.kind == "sq8":
                res = Sq8Index.load(spark, args.index).search(
                    queries, k=args.k, **fkw
                )
            else:
                res = PqIndex.load(spark, args.index).search(
                    queries, k=args.k, **fkw
                )
            res.orderBy("query_id", "rnk").show(
                args.max_queries * args.k, truncate=False
            )
        elif args.cmd == "pq-update":
            import os as _os

            from .operators.pq import IvfPqIndex, PqIndex
            from .operators.quantize import Sq8Index

            if _os.path.abspath(args.out) == _os.path.abspath(args.index):
                raise SystemExit(
                    "pq-update: --out must differ from --index (the update "
                    "is lazy; an in-place write would overwrite its own input)"
                )
            if (args.add_where or args.delete_where) and not args.sf_dir:
                raise SystemExit(
                    "pq-update: --sf-dir is required with --add-where/--delete-where"
                )
            if not (args.add_where or args.delete_where or args.compact):
                raise SystemExit(
                    "pq-update: nothing to do — pass --add-where, "
                    "--delete-where, and/or --compact"
                )
            kind_cls = {"ivfpq": IvfPqIndex, "pq": PqIndex, "sq8": Sq8Index}
            idx = kind_cls[args.kind].load(spark, args.index)
            actions = []
            if args.add_where:
                batch = load_table(spark, args.sf_dir, "embeddings").filter(
                    F.expr(args.add_where)
                )
                idx = idx.add(batch)
                actions.append(f"add[{args.add_where}]")
            if args.delete_where:
                dead = (
                    load_table(spark, args.sf_dir, "embeddings")
                    .filter(F.expr(args.delete_where))
                    .select("vec_id")
                )
                idx = idx.delete(dead)
                actions.append(f"delete[{args.delete_where}]")
            if args.compact:
                idx = idx.compact()
                actions.append("compact")
            idx.save(args.out)
            n = idx.codes.count()
            tomb = (
                "none" if idx.tombstones is None else str(idx.tombstones.count())
            )
            print(
                f"{args.kind} {' + '.join(actions)}: {n} codes, "
                f"tombstones {tomb} -> {args.out}"
            )
        elif args.cmd == "explain":
            from . import registry

            qmap = registry.queries()
            if args.query not in qmap:
                raise SystemExit(
                    f"unknown query {args.query!r}; one of: {', '.join(sorted(qmap))}"
                )
            from .plans.checks import formatted_plan

            df = qmap[args.query](spark, args.sf_dir)
            print(formatted_plan(df))
        elif args.cmd == "dedup":
            from .operators import dedup as D

            docs = load_table(spark, args.sf_dir, "documents")
            if args.method == "fuzzy":
                out = D.fuzzy_dedup(docs)
            elif args.method == "semantic":
                out = D.semantic_dedup(docs, threshold=0.9)
            elif args.method == "exact":
                out = D.dedup_exact(docs)
            elif args.method == "spans":
                out = D.dup_span_pairs(docs)
            else:
                out = D.dedup_incremental(
                    docs.filter(F.col("doc_id") >= args.split),
                    docs.filter(F.col("doc_id") < args.split),
                )
            out.write.mode("overwrite").parquet(args.out)
            print(f"dedup[{args.method}]: {out.count()} rows -> {args.out}")
        elif args.cmd == "pretrain":
            from .operators.pipeline import pretrain_sequences
            from .sources import load_table as _lt

            docs = _lt(spark, args.sf_dir, "documents")
            out = pretrain_sequences(
                docs,
                min_quality=args.min_quality,
                window=args.window,
                stride=args.stride,
                budget=args.budget,
                n_shards=args.shards,
            )
            out.write.mode("overwrite").partitionBy("shard").parquet(args.out)
            print(f"pretrain: {out.count()} sequence rows -> {args.out}")
        elif args.cmd == "chunk":
            from .operators.textpipe import chunk_documents, pack_chunks

            docs = load_table(spark, args.sf_dir, "documents")
            packed = pack_chunks(
                docs,
                window=args.window,
                stride=args.stride,
                budget=args.budget,
                n_shards=args.shards,
            )
            chunks = chunk_documents(docs, window=args.window, stride=args.stride)
            packed = packed.select("doc_id", "chunk_id", "shard", "pack_id")
            out = chunks.join(packed, ["doc_id", "chunk_id"]).select(
                "shard", "pack_id", "doc_id", "chunk_id", "n_chunk_tokens", "chunk_text"
            )
            out.write.mode("overwrite").partitionBy("shard").parquet(args.out)
            print(f"packed {out.count()} chunks -> {args.out}")
        elif args.cmd == "search":
            terms = [t for t in args.terms.split(",") if t]
            docs = load_table(spark, args.sf_dir, "documents")
            emb = load_table(spark, args.sf_dir, "embeddings")
            queries = emb.filter(F.col("vec_id") < args.max_queries).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            if args.method == "bm25":
                from .operators.retrieval import bm25_rank

                bm25_rank(docs, terms, k=args.k).orderBy("rnk").show(
                    args.k, truncate=False
                )
            elif args.method == "hybrid":
                from .operators.knn import knn_exact
                from .operators.retrieval import bm25_rank, rrf_fuse

                depth = max(30, args.k)
                vec_hits = knn_exact(
                    emb, queries, k=depth, metric=args.metric
                ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rnk")
                kw = bm25_rank(docs, terms, k=depth)
                qids = queries.select("query_id")
                kw_hits = kw.crossJoin(F.broadcast(qids)).select(
                    "query_id", "doc_id", "rnk"
                )
                rrf_fuse(vec_hits, kw_hits, k=args.k).orderBy(
                    "query_id", "rnk"
                ).show(args.max_queries * args.k, truncate=False)
            else:
                dim = len(emb.select("embedding").first()[0])
                where = getattr(args, "where", None)
                lang = getattr(args, "lang", None)
                if where is not None or lang is not None:
                    from .operators.knn import filtered_knn

                    allowed = (
                        docs.filter(F.col("lang") == lang).select("doc_id")
                        if lang is not None
                        else None
                    )
                    out = filtered_knn(
                        emb, queries, k=args.k, metric=args.metric,
                        predicate=where, allowed_ids=allowed,
                        method=args.method,
                        dim=dim,
                    )
                else:
                    from .operators.search import similarity_search

                    out = similarity_search(
                        emb, queries, method=args.method, k=args.k,
                        metric=args.metric, dim=dim,
                    )
                out.orderBy("query_id", "rnk").show(
                    args.max_queries * args.k, truncate=False
                )
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
