"""vectorsearch_with_hnsw_spark — a PySpark-native vector-search / analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference `kamalesh003/VectorSearch-with-HNSW` (a single-machine Python
HNSW ANN engine, see SURVEY.md): distance expressions, exact and
approximate kNN, a distributed batch HNSW index (build / probe / delete /
rebuild / save / load), plus the large-scale training-data-pipeline
operators a 100 TB deployment needs (dedup, LSH similarity, text
analysis, multimodal column plumbing).

Design: declarative DataFrame plans everywhere Catalyst can optimize;
Arrow-batched pandas kernels (`applyInPandas` / `mapInPandas`) only for
the graph algorithms Spark genuinely cannot express.

Importing the package drops the archive-backed import finders from
`sys.path_importer_cache` (see `_drop_archive_finders`), so a Python
worker stops re-reading pyspark.zip and the spark-core jar at the start
of every task.
"""

__version__ = "0.1.0"


def _drop_archive_finders() -> None:
    """Forget every `zipimporter` in `sys.path_importer_cache`.

    pyspark's worker calls `importlib.invalidate_caches()` at the start
    of each task, and on CPython 3.11 every cached `zipimporter` then
    re-reads its archive's whole central directory: one per imported
    pyspark subpackage plus the spark-core jar's, ~0.1-0.2 s per task.
    The cache is only a cache: the path hooks rebuild a dropped finder
    on the next import that needs it, from `zipimport`'s own directory
    cache without a re-read, and imported modules stay in `sys.modules`."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


_drop_archive_finders()


def __getattr__(name):
    """Lazy top-level API: the common entry points without forcing the
    whole operator tree (and a SparkSession) on import."""
    lazy = {
        "similarity_search": ("operators.search", "similarity_search"),
        "knn_exact": ("operators.knn", "knn_exact"),
        "knn_exact_fast": ("operators.knn", "knn_exact_fast"),
        "hnsw_build": ("index.build", "hnsw_build"),
        "HnswParams": ("index.build", "HnswParams"),
        "HnswIndex": ("index.build", "HnswIndex"),
        "PqIndex": ("operators.pq", "PqIndex"),
        "IvfIndex": ("operators.ivf", "IvfIndex"),
        "knn_hnsw": ("index.query", "knn_hnsw"),
        "fuzzy_dedup": ("operators.dedup", "fuzzy_dedup"),
        "semantic_dedup": ("operators.dedup", "semantic_dedup"),
        "dup_span_pairs": ("operators.dedup", "dup_span_pairs"),
        "lm_familiarity": ("operators.textpipe", "lm_familiarity"),
        "familiarity_buckets": ("operators.textpipe", "familiarity_buckets"),
        "knn_pagerank": ("operators.clusters", "knn_pagerank"),
        "hashed_doc_vectors": ("operators.textpipe", "hashed_doc_vectors"),
        "bloom_pruned_join": ("plans.bloom", "bloom_pruned_join"),
        "zorder_write": ("plans.layout", "zorder_write"),
        "doc_sentences": ("operators.textpipe", "doc_sentences"),
        "cms_token_sketch": ("operators.textpipe", "cms_token_sketch"),
        "embedding_outliers": ("operators.ivf", "embedding_outliers"),
        "knn_triangles": ("operators.clusters", "knn_triangles"),
        "knn_label_vote": ("operators.clusters", "knn_label_vote"),
        "connected_components": ("operators.clusters", "connected_components"),
        "connected_components_star": ("operators.clusters", "connected_components_star"),
        "knn_graph": ("operators.retrieval", "knn_graph"),
        "ivf_pq_knn": ("operators.pq", "ivf_pq_knn"),
        "ivf_pq_knn_distributed": ("operators.pq", "ivf_pq_knn_distributed"),
        "approx_top_tokens_verified": ("operators.textpipe", "approx_top_tokens_verified"),
        "pretrain_sequences": ("operators.pipeline", "pretrain_sequences"),
        "mix_corpus_temperature": ("operators.textpipe", "mix_corpus_temperature"),
        "load_table": ("sources", "load_table"),
        "get_spark": ("session", "get_spark"),
        "queries": ("registry", "queries"),
        "oracle_sql": ("registry", "oracle_sql"),
        "release_caches": ("cache", "release_caches"),
    }
    if name in lazy:
        import importlib

        mod, attr = lazy[name]
        return getattr(importlib.import_module(f".{mod}", __name__), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
