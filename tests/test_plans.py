"""Physical-plan regression tests — the 100 TB scale contract.

These assert the plans we designed for, not just the answers:
pushdown reaches the parquet scan, projections prune columns, dimension
joins broadcast, distance math stays in whole-stage codegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectorsearch_with_hnsw_spark.operators.knn import knn_exact
from vectorsearch_with_hnsw_spark.operators.relational import (
    pricing_summary,
    region_revenue,
    top_customers_by_revenue,
)
from vectorsearch_with_hnsw_spark.plans.checks import (
    codegen_stage_count,
    count_occurrences,
    formatted_plan,
    read_schema_columns,
    uses_broadcast_join,
)
from vectorsearch_with_hnsw_spark.sources import load_table


def test_filter_pushdown_to_scan(spark, sf_smoke):
    df = pricing_summary(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, sf_smoke):
    df = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    schemas = read_schema_columns(df)
    assert schemas and all(set(s) == {"l_orderkey", "l_quantity"} for s in schemas)


def test_q1_prunes_unused_columns(spark, sf_smoke):
    df = pricing_summary(spark, sf_smoke)
    schemas = read_schema_columns(df)
    assert schemas, "expected a parquet scan"
    for s in schemas:
        assert "l_partkey" not in s and "l_suppkey" not in s


def test_dimension_joins_broadcast(spark, sf_smoke):
    assert uses_broadcast_join(region_revenue(spark, sf_smoke))
    assert uses_broadcast_join(top_customers_by_revenue(spark, sf_smoke))
    # star join: region+nation+customer all broadcast => >= 3 BHJ
    assert count_occurrences(region_revenue(spark, sf_smoke), "BroadcastHashJoin") >= 3


def test_knn_broadcasts_queries_no_shuffle_join(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = knn_exact(emb, q, k=5)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_present(spark, sf_smoke):
    df = pricing_summary(spark, sf_smoke)
    assert codegen_stage_count(df) >= 1


def test_bucketed_join_is_exchange_free(spark, sf_smoke):
    """Co-located layout: orders ⋈ lineitem bucketed+sorted on the join
    key must plan without any shuffle Exchange."""
    from vectorsearch_with_hnsw_spark.plans.bucketing import (
        bucketed_orders_lineitem_join,
        write_bucketed,
    )

    tables = write_bucketed(spark, sf_smoke, buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bucketed_orders_lineitem_join(spark, tables)
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_asof_join_plan_has_no_join_operator(spark, sf_smoke):
    """The as-of join must plan as union+window — zero join operators,
    bounded exchanges (one for the right-side dedupe, one for the carry
    window) — or it would explode into a range join at scale."""
    from vectorsearch_with_hnsw_spark.operators.relational import events_asof_purchase

    plan = formatted_plan(events_asof_purchase(spark, sf_smoke))
    assert "Join" not in plan
    assert count_occurrences(events_asof_purchase(spark, sf_smoke), "Exchange") <= 4


def test_nation_trade_volume_broadcasts_all_dims(spark, sf_smoke):
    """Q7 shape: both nation aliases + supplier + customer are broadcast;
    no shuffle join anywhere at dim scale (the lineitem⋈orders join is
    also broadcast at this SF; at 100 TB it becomes the one SMJ, made
    exchange-free by orderkey bucketing)."""
    from vectorsearch_with_hnsw_spark.operators.relational import nation_trade_volume

    df = nation_trade_volume(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4
    assert df.count() > 0


def test_order_priority_check_plans_semi_join(spark, sf_smoke):
    """The EXISTS decorrelates to a LeftSemi join (probe multiplicity
    never materialized) and the orderdate range filter pushes into the
    orders parquet scan."""
    from vectorsearch_with_hnsw_spark.operators.relational import order_priority_check

    plan = formatted_plan(order_priority_check(spark, sf_smoke))
    assert "LeftSemi" in plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(o_orderdate" in plan


def test_large_orders_having_filters_before_join(spark, sf_smoke):
    """Q18 shape: the HAVING-filtered per-order aggregate is the build
    side of a broadcast join — the full lineitem relation is never
    re-joined."""
    from vectorsearch_with_hnsw_spark.operators.relational import large_orders

    df = large_orders(spark, sf_smoke, min_qty=50)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert df.count() > 0


def test_small_quantity_revenue_broadcasts_part_dim(spark, sf_smoke):
    """Q17 shape: the part dimension joins broadcast; the decorrelated
    per-part average joins on partkey (shuffle at this SF is fine — the
    relation is one row per part, not per lineitem)."""
    from vectorsearch_with_hnsw_spark.operators.relational import small_quantity_revenue

    df = small_quantity_revenue(spark, sf_smoke)
    assert uses_broadcast_join(df)
    assert df.count() > 0


def test_chunk_documents_is_map_side_only(spark, sf_smoke):
    """Context-window chunking must plan with ZERO exchanges — tokenize,
    generate offsets, explode and slice all inside the scan stage."""
    from vectorsearch_with_hnsw_spark.operators.textpipe import chunk_documents
    from vectorsearch_with_hnsw_spark.sources import load_table

    df = chunk_documents(load_table(spark, sf_smoke, "documents"))
    assert count_occurrences(df, "Exchange") == 0


def test_pivot_single_shuffle(spark, sf_smoke):
    """Explicit pivot values => one conditional-aggregation pass: a
    single shuffle exchange, no distinct-values job, no extra agg."""
    from vectorsearch_with_hnsw_spark.operators.relational import user_event_pivot

    df = user_event_pivot(spark, sf_smoke)
    # one Exchange for the groupBy + the orderBy's rangepartitioning;
    # formatted explain lists each node twice (tree + detail) => <= 4.
    # groupBy().pivot() would add a third (pre-agg) exchange pair.
    assert count_occurrences(df, "Exchange") <= 4
    assert count_occurrences(df, "pivotfirst") == 0


def test_promo_ratio_pushes_prefix_filter(spark, sf_smoke):
    """Q14 shape: LIKE 'PROMO%' compiles to a StartsWith filter; the
    part-dim join stays broadcast."""
    from vectorsearch_with_hnsw_spark.operators.relational import promo_revenue_ratio

    df = promo_revenue_ratio(spark, sf_smoke)
    assert uses_broadcast_join(df)
    assert df.count() > 0


def test_forecast_revenue_pushes_all_predicates(spark, sf_smoke):
    """Q6 shape: every predicate (shipdate range, discount band,
    quantity cap) reaches the parquet scan as a pushed filter, and the
    scan reads only the four referenced columns — at 100 TB this is the
    difference between a stats-pruned scan and reading the table."""
    from vectorsearch_with_hnsw_spark.operators.relational import forecast_revenue_change

    df = forecast_revenue_change(spark, sf_smoke)
    plan = formatted_plan(df)
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in plan, f"missing pushed filter {frag}"
    schemas = read_schema_columns(df)
    assert schemas and all(
        set(s) <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
        for s in schemas
    )


def test_nation_market_share_broadcasts_all_dims(spark, sf_smoke):
    """Q8 shape: part (type-filtered), customer, supplier, both nation
    roles, and region all broadcast — six BroadcastHashJoins; the only
    big shuffle left is lineitem⋈orders plus the per-year agg."""
    from vectorsearch_with_hnsw_spark.operators.relational import nation_market_share

    df = nation_market_share(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 6
    assert df.count() > 0


def test_nation_profit_broadcasts_dims(spark, sf_smoke):
    """Q9 shape: part (name-filtered), supplier, nation all broadcast;
    the only fact-fact join is lineitem⋈orders."""
    from vectorsearch_with_hnsw_spark.operators.relational import nation_profit

    df = nation_profit(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert df.count() > 0


def test_min_cost_supplier_decorrelated_broadcasts(spark, sf_smoke):
    """Q2 shape: the correlated per-part MIN is decorrelated into a
    re-aggregation of the persisted offer frame, joined back broadcast —
    part/supplier dims broadcast too, so the only big shuffle is the
    (part, supp) offer aggregation."""
    from vectorsearch_with_hnsw_spark.operators.relational import min_cost_supplier

    df = min_cost_supplier(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert df.count() > 0


def test_important_parts_scalar_broadcast_single_scan(spark, sf_smoke):
    """Q11 shape: the global total re-aggregates from the persisted
    per-part frame (InMemoryTableScan), so lineitem is scanned once and
    the scalar comes back as a broadcast, not a single-partition window."""
    from vectorsearch_with_hnsw_spark.operators.relational import important_parts

    df = important_parts(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert df.count() > 0


def test_dominant_suppliers_semi_join(spark, sf_smoke):
    """Q20 shape: the nested IN plans as a LeftSemi join into supplier;
    the correlated per-part total joins back broadcast from the persisted
    pair frame."""
    from vectorsearch_with_hnsw_spark.operators.relational import dominant_suppliers

    df = dominant_suppliers(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert df.count() > 0


def test_range_search_is_shuffle_free(spark, sf_smoke):
    """Radius search has no per-query state: the plan must be broadcast
    crossJoin + filter with NO shuffle exchange (the only Exchange is
    the broadcast of the query set)."""
    from vectorsearch_with_hnsw_spark.registry import q_range_search

    df = q_range_search(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    import re

    shuffles = re.findall(r"Exchange (\w+)", plan)
    assert all("hashpartitioning" not in s and "rangepartitioning" not in s for s in shuffles), shuffles


def test_bm25_topk_is_take_ordered(spark, sf_smoke):
    """The global top-k must plan as TakeOrderedAndProject (bounded
    per-partition heaps), never a single-reducer global sort + window
    over the whole corpus."""
    from vectorsearch_with_hnsw_spark.registry import q_bm25_doc_rank

    df = q_bm25_doc_rank(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_single_shuffle(spark, sf_smoke):
    """Priority projection is map-only; the only shuffle is the
    per-group top-N window partitioning."""
    from vectorsearch_with_hnsw_spark.registry import q_weighted_sample

    df = q_weighted_sample(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_maxsim_is_map_only_before_topk(spark, sf_smoke):
    """Late-interaction scoring must stay map-side against the broadcast
    query batch: since the round-12 Arrow kernel there is NO join at all
    (queries ride a broadcast variable into mapInPandas), and exactly
    one hash-partitioning exchange remains — the per-query top-k
    window."""
    from vectorsearch_with_hnsw_spark.registry import q_maxsim_search

    df = q_maxsim_search(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_mix_corpus_gate_is_map_only_after_counts(spark, sf_smoke):
    """The keep-gate must join docs to a BROADCAST rates table (no
    shuffle of the corpus): the only hash exchanges belong to the tiny
    source-counts aggregation."""
    from vectorsearch_with_hnsw_spark.plans.checks import read_schema_columns
    from vectorsearch_with_hnsw_spark.registry import q_mix_corpus

    df = q_mix_corpus(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # corpus-side scan prunes to the gate's columns only
    scans = read_schema_columns(df)
    assert any(set(cols) <= {"doc_id", "source", "lang"} for cols in scans), scans


def test_binary_sign_plan_no_shuffle_before_topk(spark, sf_smoke):
    """Binary sketch scan: pack+XOR+popcount run map-side; one exchange
    for the per-query ranking window."""
    from vectorsearch_with_hnsw_spark.registry import q_binary_sign_ann

    df = q_binary_sign_ann(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_banded_lsh_plan_index_side_map_only(spark, sf_smoke):
    """Banded LSH: the index side computes its sign signature and band
    buckets MAP-SIDE (scan -> project -> explode -> broadcast join, no
    exchange below the join); queries broadcast; the only hash
    exchanges are the candidate distinct (2: partial+final agg) and the
    per-query top-k window (1)."""
    from vectorsearch_with_hnsw_spark.registry import q_lsh_ann_cosine

    df = q_lsh_ann_cosine(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 1, "query side broadcasts once"
    assert plan.count("Exchange hashpartitioning") <= 3, plan.count(
        "Exchange hashpartitioning"
    )
    # the join must be on the (band, bucket) hash keys, never a pair scan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dup_spans_no_cartesian_anywhere(spark, sf_smoke):
    """The shared-passage join must be an equi-join on the n-gram hash
    — a cartesian or broadcast-nested-loop pair scan would be quadratic
    in corpus size."""
    from vectorsearch_with_hnsw_spark.operators.dedup import dup_span_pairs
    from vectorsearch_with_hnsw_spark.sources import load_table

    df = dup_span_pairs(load_table(spark, sf_smoke, "documents"))
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_familiarity_no_cartesian_and_prunes_columns(spark, sf_smoke):
    """Model scoring joins on the bigram hash (equi-join only), and the
    documents scan reads just the columns the op needs."""
    from vectorsearch_with_hnsw_spark.operators.textpipe import lm_familiarity
    from vectorsearch_with_hnsw_spark.sources import load_table

    df = lm_familiarity(load_table(spark, sf_smoke, "documents"))
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    cols = read_schema_columns(df)
    assert "n_chars" not in cols and "source" not in cols


def test_quality_gates_are_map_side_only(spark, sf_smoke):
    """The Gopher and C4 hard-filter gates must plan with ZERO
    exchanges — split, regex counts and the rule conjunctions all
    inside the scan stage (the cheapest possible 100 TB shape; an
    accidental shuffle here would be pure regression)."""
    from vectorsearch_with_hnsw_spark.operators.textpipe import c4_clean, gopher_rules
    from vectorsearch_with_hnsw_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents")
    # spread()'s small-file rebalance is the one allowed exchange for
    # gopher (it vanishes at real scan widths; the single RoundRobin
    # node can print twice under AQE's initial+final plan dump) —
    # executedPlan confirms exactly one Exchange; c4_clean doesn't
    # spread and must be exchange-free outright
    gplan = gopher_rules(docs)._jdf.queryExecution().executedPlan().toString()
    assert gplan.count("Exchange") == 1
    assert count_occurrences(c4_clean(docs), "Exchange") == 0


def test_knn_exact_fast_plans_single_window(spark, sf_smoke):
    """The BLAS kernel emits fold-exact distances, so the plan needs
    exactly ONE ranking window over the O(P*Q*k) partial frame — the
    old shape's post-merge rescore join + second window must not creep
    back (they added two joins and a shuffle per call)."""
    from vectorsearch_with_hnsw_spark.operators.knn import knn_exact_fast

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    import re

    plan = formatted_plan(knn_exact_fast(emb, q, k=3))
    # exactly one Window NODE (the detail section lists "(n) Window";
    # WindowGroupLimit partial/final pairs are the pushed-down top-k
    # of that same window, not extra ranking passes)
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_semantic_neardup_has_no_dedup_aggregate(spark, sf_smoke):
    """First-shared-band ownership means every pair is emitted exactly
    once — the plan must contain ONE grouped-pandas kernel and no
    dropDuplicates aggregate after it (the old cross-band dedup
    shuffled ~7x the result set on the synthetic corpus)."""
    from vectorsearch_with_hnsw_spark.operators.dedup import semantic_neardup_pairs

    docs = load_table(spark, sf_smoke, "documents")
    # kernel-shape assertions on the pure-kernel mode: star mode unions
    # a (groupBy + join) star branch into the same plan, which is
    # checked separately below
    plan = formatted_plan(semantic_neardup_pairs(docs, identical="pairs"))
    assert plan.count("FlatMapGroupsInPandas") <= 2  # tree + detail of ONE
    # the kernel's groupBy is the LAST shuffle: nothing aggregates above it
    above_kernel = plan.split("FlatMapGroupsInPandas")[0]
    assert "HashAggregate" not in above_kernel

    # star mode on a corpus with NO repeated vectors: the xxhash64
    # duplicate census proves contraction unnecessary, so the plan is
    # the SAME pure kernel — no Union, no contraction branch
    star_plan = formatted_plan(semantic_neardup_pairs(docs))
    assert star_plan.count("FlatMapGroupsInPandas") <= 2
    assert "Union" not in star_plan

    # with an injected clique the contraction branch appears: one
    # grouped-pandas kernel plus the star-edge union
    clique = docs.limit(1).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    dup_docs = docs.unionByName(clique)
    dup_plan = formatted_plan(semantic_neardup_pairs(dup_docs))
    assert dup_plan.count("FlatMapGroupsInPandas") <= 2
    assert "Union" in dup_plan


def test_ivf_pq_adc_is_map_side(spark, sf_smoke):
    """The residual-ADC scan must not join or shuffle the codes table:
    LUTs are driver-built from the bounded probe set and broadcast, so
    the only exchange below the final top-k window is... none. A join
    creeping back in would shuffle the (cell, code) corpus at 100 TB."""
    import re

    from vectorsearch_with_hnsw_spark.operators.pq import ivf_pq_knn
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = formatted_plan(ivf_pq_knn(emb, q, dim=64, m=16, k=3))
    # since the round-12 fused build, the corpus side is JOIN-FREE: the
    # assign+encode kernel carries cell/code out of one mapInPandas pass
    # (centroids + codebooks ride a broadcast variable, not a join), and
    # LUTs are driver-built from the bounded probe set. What must NOT
    # appear is a shuffle join or an exchange of the codes table for
    # scoring; any join that does appear must be a broadcast one. The
    # one-shot operator leaves no caches (leak-free contract), so the
    # plan must show NO InMemoryRelation. Exchanges: the assign/encode
    # kernel spread (a no-op at real scan widths) + the final ranking
    # window.
    assert "SortMergeJoin" not in plan
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", plan)
    assert all(j.startswith("Broadcast") for j in joins)
    assert "InMemoryRelation" not in plan
    assert len(set(re.findall(r"\((\d+)\) Exchange\n", plan))) <= 4


def test_ivf_pq_index_probe_is_partition_pruned(spark, sf_smoke, tmp_path):
    """A loaded IvfPqIndex probe must read only the probed cells: codes
    are saved partitionBy('cell') and the scorer filters on literal cell
    ids, so the parquet scan shows a non-empty PartitionFilters on cell
    — the at-rest contract that a probe touches n_probe/n_cells of a
    100 TB codes table."""
    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    idx = IvfPqIndex.build(emb, dim=64, m=8, n_cells=8, iters=2)
    path = str(tmp_path / "ivfpq_prune")
    idx.save(path)
    loaded = IvfPqIndex.load(spark, path)
    plan = formatted_plan(loaded.search(q, k=3, n_probe=2))
    pf_lines = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "cell" in line
    ]
    assert any(
        "in(cell" in line.lower() or "cell#" in line for line in pf_lines
    ), f"no cell partition filter pushed; PartitionFilters lines: {pf_lines}"


def test_ivf_index_probe_is_partition_pruned(spark, sf_smoke, tmp_path):
    """A loaded IvfIndex probe must read only the probed cells: the
    assignment is saved partitionBy('cell') and the driver-side probe
    selection emits a STATIC ``cell IN (...)`` filter on the partition
    column, so the parquet scan carries a literal PartitionFilters
    entry (plain static pruning — strictly stronger than the
    dynamic-pruning subquery the old probe-join shape relied on: the
    file listing itself is pruned before any stage runs). The
    candidate set is therefore cell-pruned BEFORE the raw-vector join,
    so a probe of a 100 TB at-rest assignment never streams unprobed
    rows into the join; no pair rows exist at all — scoring happens in
    the per-cell Arrow kernel."""
    from vectorsearch_with_hnsw_spark.operators.ivf import IvfIndex
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    idx = IvfIndex.build(emb, dim=64, n_cells=8, iters=2)
    path = str(tmp_path / "ivf_prune")
    idx.save(path)
    loaded = IvfIndex.load(spark, path)
    df = loaded.search(emb, q, k=3, n_probe=2)
    plan = formatted_plan(df)
    pf_lines = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "cell" in line
    ]
    assert any(
        "dynamicpruning" in line.lower()
        or "in(cell" in line.lower()
        or ("in (" in line.lower() and "cell#" in line)
        for line in pf_lines
    ), f"no cell pruning on the assignment scan; lines: {pf_lines}"
    # the probe never materializes candidate x query pair rows: no
    # interpreted HOF fold (aggregate/zip_with) survives in the scoring
    # path — distances come from the Arrow kernel
    assert "zip_with" not in plan and "lambdafunction" not in plan.lower(), plan


def test_approx_top_tokens_verified_tokenizes_once(spark, sf_smoke):
    """The MG-verified heavy-hitter plan fans the token stream into
    three consumers (sketch, exact semi-joined count, total); the
    persisted toks relation means the corpus is tokenized ONCE — every
    consumer reads InMemoryTableScan and no consumer re-runs the
    explode. Guards the persist_tracked policy the verdict flagged."""
    from vectorsearch_with_hnsw_spark.cache import release_caches
    from vectorsearch_with_hnsw_spark.operators.textpipe import (
        approx_top_tokens_verified,
    )
    from vectorsearch_with_hnsw_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents")
    try:
        df = approx_top_tokens_verified(docs, k=5, capacity=32)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # all three consumers hit the cache (a removed persist drops
        # this to zero and re-tokenizes per branch)
        assert plan.count("InMemoryTableScan") >= 3, plan
        # every explode in the tree belongs to an inlined InMemoryRelation
        # reprint — never a live re-tokenize branch: each line above a
        # Generate must trace through an InMemoryTableScan ancestor, which
        # in the toString tree means at least as many cache scans as
        # Generate-bearing cached-plan reprints
        assert plan.count("InMemoryTableScan") >= plan.count("InMemoryRelation"), plan
        assert df.count() > 0
    finally:
        release_caches()


def test_pretrain_sequences_exchange_ledger(spark, sf_smoke):
    """The whole pretraining prep chain (score -> gate -> dedup ->
    sample -> chunk -> pack) runs in exactly THREE exchanges, each one
    accounted for:
      1. Exchange on fp      — curate's dedup-keeper window (the one
                               relational shuffle the chain needs)
      2. BroadcastExchange   — the survivor doc_id set joining back for
                               text (ids only; becomes a 2-exchange SMJ
                               above the broadcast threshold — ledger 5)
      3. Exchange on shard   — pack_chunks' per-shard cumulative sum
    Scoring, gating, sampling, and chunking are all map-side and fuse
    with the scans. Pins SCALECHECK's pretrain_sequences_exchanges row
    (the round-10 artifact reported 7 by counting the persisted
    synthetic corpus construction re-printed in cached-plan blocks)."""
    from vectorsearch_with_hnsw_spark.operators.pipeline import pretrain_sequences
    from vectorsearch_with_hnsw_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents")
    df = pretrain_sequences(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exch = [line.strip() for line in plan.splitlines() if "Exchange" in line]
    assert len(exch) == 3, exch
    assert sum("hashpartitioning(fp" in e for e in exch) == 1, exch
    assert sum("BroadcastExchange" in e for e in exch) == 1, exch
    assert sum("hashpartitioning(shard" in e for e in exch) == 1, exch
    assert df.count() > 0


def test_filtered_knn_pushes_predicate_to_scan(spark, sf_smoke):
    """The pre-filter strategy's whole point at 100 TB: the metadata
    predicate must reach the parquet scan as a pushed filter (row-group
    pruning at rest), never run as a post-scan Filter over the full
    corpus — and the distance kernel sees only survivors."""
    from vectorsearch_with_hnsw_spark.operators.knn import filtered_knn
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = filtered_knn(emb, q, k=3, metric="l2", predicate=F.col("label") < 5)
    plan = formatted_plan(df)
    assert "PushedFilters" in plan and "LessThan(label,5)" in plan, plan
    assert df.count() > 0


def test_ivf_pq_index_filtered_probe_prunes_before_decode(spark, sf_smoke, tmp_path):
    """A filtered probe of a LOADED IvfPqIndex must prune at the scan,
    not after decoding: the vec_id predicate shows up in the codes
    parquet scan's PushedFilters (row-group pruning at rest) alongside
    the cell PartitionFilters — no full-index probe followed by a
    post-filter."""
    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex
    from vectorsearch_with_hnsw_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    idx = IvfPqIndex.build(emb, dim=64, m=8, n_cells=8, iters=2)
    idx.unpersist()
    path = str(tmp_path / "ivfpq_filtered")
    idx.save(path)
    loaded = IvfPqIndex.load(spark, path)
    plan = formatted_plan(
        loaded.search(q, k=3, n_probe=2, predicate=F.col("vec_id") < 100)
    )
    pushed = [
        line for line in plan.splitlines()
        if "PushedFilters" in line and "vec_id" in line and "100" in line
    ]
    assert pushed, f"vec_id predicate not pushed into the codes scan:\n{plan}"
    assert any(
        "PartitionFilters" in line and "cell" in line for line in plan.splitlines()
    ), "cell partition pruning lost under the filtered probe"


def test_bpe_encode_is_map_only(spark, sf_smoke):
    """bpe_encode's 100 TB claim pinned on the plan: ZERO exchanges
    after the bounded artifact collects (merges + vocab happen at call
    time, outside this plan). The r14 auto dispatch routes the
    corpus-side merge scan through ONE MapInPandas kernel (memoized per
    distinct word — measured 7x over the nested-HOF expression at 4
    merges); the plan must stay exchange-free with exactly that one
    Python boundary and no row-at-a-time eval nodes."""
    from vectorsearch_with_hnsw_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        bpe_vocab,
    )
    from vectorsearch_with_hnsw_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train(docs, n_merges=2).orderBy("merge_rank").collect()
    ]
    df = bpe_encode(docs, merges, bpe_vocab(docs, merges))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    assert df.count() > 0


def test_skipgram_pairs_single_exchange(spark, sf_smoke):
    """skipgram_pairs' plan: pair generation fuses with the scan
    (nested native transforms, no Python worker, no join); the ONE
    exchange is the (center, context) count aggregate, with a map-side
    partial HashAggregate before it."""
    from vectorsearch_with_hnsw_spark.operators.textpipe import skipgram_pairs
    from vectorsearch_with_hnsw_spark.sources import load_table

    df = skipgram_pairs(load_table(spark, sf_smoke, "documents"), window=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exch = [line.strip() for line in plan.splitlines() if "Exchange" in line]
    hash_ex = [e for e in exch if "hashpartitioning" in e]
    # sources.spread adds one RoundRobin repartition on SMALL inputs
    # (test-scale parallelism helper, not a data shuffle shape)
    other = [e for e in exch if "hashpartitioning" not in e]
    assert len(hash_ex) == 1, exch
    assert all("RoundRobinPartitioning" in e for e in other) and len(other) <= 1, exch
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert df.count() > 0


def _hnsw_probe_fixture(spark, sf_smoke):
    from vectorsearch_with_hnsw_spark.index.build import HnswParams, hnsw_build

    emb = load_table(spark, sf_smoke, "embeddings").filter(F.col("vec_id") < 200)
    idx = hnsw_build(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        HnswParams(dim=64, metric="l2"),
        num_partitions=3,
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return idx, q


def test_distributed_hnsw_probe_replicates_without_join(spark, sf_smoke):
    """knn_hnsw_distributed places queries on the index layout's
    partitions with a narrow explode: no meta scan, no broadcast and no
    join in its plan."""
    from vectorsearch_with_hnsw_spark.index.query import knn_hnsw_distributed

    idx, q = _hnsw_probe_fixture(spark, sf_smoke)
    df = knn_hnsw_distributed(idx, q, k=3)
    for token in ("Join", "CartesianProduct", "BroadcastExchange"):
        assert count_occurrences(df, token) == 0, token


def test_hnsw_merge_topk_is_one_exchange(spark):
    """The probe merge (dedup + per-query top-k window) adds exactly one
    Exchange over its per-partition input."""
    import re

    from vectorsearch_with_hnsw_spark.index.query import _merge_topk

    partial = spark.createDataFrame(
        [(qid, nid, float(nid)) for qid in range(3) for nid in range(6)] * 2,
        "query_id long, neighbor_id long, dist double",
    )

    def exchanges(df):
        return len(re.findall(r"\(\d+\) Exchange\n", formatted_plan(df)))

    merged = _merge_topk(partial, 2)
    assert exchanges(merged) - exchanges(partial) == 1
    assert sorted((r["query_id"], r["neighbor_id"]) for r in merged.collect()) == [
        (qid, nid) for qid in range(3) for nid in range(2)
    ]


def test_repeat_hnsw_probe_runs_no_meta_job(spark, sf_smoke):
    """The handle keeps its entry-point record: a second knn_hnsw on it
    runs fewer jobs than the first, and none on meta — a meta that
    fails when evaluated does not stop the second probe."""
    from pyspark.sql.functions import udf

    from vectorsearch_with_hnsw_spark.index.query import knn_hnsw

    idx, q = _hnsw_probe_fixture(spark, sf_smoke)
    sc = spark.sparkContext

    def probe_jobs(group):
        sc.setJobGroup(group, group)
        try:
            rows = sorted(tuple(r) for r in knn_hnsw(idx, q, k=3).collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    first, first_jobs = probe_jobs("test_repeat_hnsw_probe_first")

    @udf("long")
    def boom(v):
        raise RuntimeError("meta evaluated")

    idx.meta = idx.meta.withColumn("entry_point", boom("entry_point"))
    second, second_jobs = probe_jobs("test_repeat_hnsw_probe_second")
    assert second == first
    assert 0 < second_jobs < first_jobs
