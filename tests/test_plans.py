"""Physical-plan audits (SURVEY.md §4 / the 100 TB posture).

Every assertion here encodes a scale requirement: broadcast where a dim is
small, pushdown/pruning at the scan, partial aggregation before the
exchange, no shuffle where none is needed. Rows being right is necessary;
these make the plans right.
"""

from __future__ import annotations

import pytest

from connor_fun_streamproducer_spark import registry
from connor_fun_streamproducer_spark.plans.explain import (
    assert_in_plan,
    assert_not_in_plan,
    count_in_plan,
    formatted_plan,
    plan_snapshot,
)
from tests.conftest import SF_DIR

registry._ensure_loaded()


def _q(key, spark):
    return registry.OPS[key].fn(spark, SF_DIR)



def test_plan_helpers_read_the_pre_execution_plan_after_an_action(spark):
    """An action makes the adaptive plan final, and its own explain
    string then prints the final and the initial plan; the helpers must
    still read the one pre-execution plan, so a count taken after
    ``collect()`` equals the count taken before it."""
    df = _q("pipeline_forecast_revenue", spark)

    def read():
        return (
            count_in_plan(df, "Exchange"),
            count_in_plan(df, "HashAggregate"),
            plan_snapshot(df),
        )

    before = read()
    df.collect()
    assert read() == before
    assert before[:2] == (1, 2)
    assert "Final Plan" not in formatted_plan(df)

def test_join_broadcast_is_broadcast(spark):
    """Dim joins must be BroadcastHashJoin — zero shuffle of the fact side."""
    plan = assert_in_plan(_q("join_broadcast", spark), "BroadcastHashJoin")
    assert "SortMergeJoin" not in plan


def test_enrich_region_is_inline_generate(spark):
    """The ≤25-row locations dim is inlined as one generator: events pair
    with every box inside the scan's own codegen stage, with no join, no
    broadcast and no exchange of any kind."""
    df = _q("enrich_region", spark)
    plan = assert_in_plan(df, "Generate [codegen id : 1]", "Arguments: inline(")
    assert count_in_plan(df, "Generate") == 1, plan
    for op_name in ("BroadcastExchange", "BroadcastNestedLoopJoin", "Exchange"):
        assert count_in_plan(df, op_name) == 0, (op_name, plan)


def test_scan_parquet_pushdown_and_pruning(spark):
    """Filter reaches the parquet reader; scan reads only needed columns."""
    plan = formatted_plan(_q("scan_parquet", spark))
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan, plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_quantity" not in read_schema


def test_filter_pred_pushdown(spark):
    plan = formatted_plan(_q("filter_pred", spark))
    assert "PushedFilters: [" in plan
    assert "In(o_orderstatus" in plan, plan


def test_agg_hash_partial_aggregation(spark):
    """TPC-H Q1 must partial-aggregate before its single exchange."""
    df = _q("agg_hash", spark)
    assert count_in_plan(df, "HashAggregate") >= 2  # partial + final
    assert count_in_plan(df, "Exchange") == 1


def test_sortmerge_join_reuses_partitioning_for_agg(spark):
    """groupBy on the join key must not add a second exchange on that key."""
    df = _q("join_sortmerge", spark)
    # one exchange per join side; the post-join aggregation reuses the
    # join's hash partitioning on o_orderkey.
    assert count_in_plan(df, "Exchange") == 2, formatted_plan(df)
    assert_in_plan(df, "SortMergeJoin")


def test_sort_within_partitions_no_exchange(spark):
    assert_not_in_plan(_q("sort_within", spark), "Exchange")


def test_limit_topk_is_take_ordered(spark):
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject, not a full sort."""
    assert_in_plan(_q("limit_topk", spark), "TakeOrderedAndProject")


def test_union_all_no_shuffle(spark):
    assert_not_in_plan(_q("set_union_all", spark), "Exchange")


def test_semi_anti_joins(spark):
    assert_in_plan(_q("join_semi", spark), "LeftSemi")
    assert_in_plan(_q("join_anti", spark), "LeftAnti")


def test_sim_search_broadcasts_queries_not_corpus(spark):
    """The query set broadcasts; the corpus side must stay streamed."""
    plan = formatted_plan(_q("sim_search_topk", spark))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_window_ops_single_exchange(spark):
    """Both windows in win_rank share one partitioning → one exchange."""
    assert count_in_plan(_q("win_rank", spark), "Exchange") == 1


def test_dedup_exact_partial_agg_on_digest(spark):
    """The shuffle key is the 32-byte digest, never the document text."""
    df = _q("dedup_exact", spark)
    plan = formatted_plan(df)
    exch = [l for l in plan.splitlines() if "Exchange" in l or "hashpartitioning" in l]
    assert any("text_hash" in l for l in exch) or "text_hash" in plan
    assert count_in_plan(df, "HashAggregate") >= 2


def test_no_cartesian_anywhere_in_dedup_minhash(spark):
    """LSH candidate pairing must be an equi-join on (band, bucket)."""
    assert_not_in_plan(_q("dedup_near_minhash", spark), "CartesianProduct")


def test_bucketed_join_no_exchange(spark):
    """Bucketed layout must eliminate both join-side exchanges."""
    df = _q("join_bucketed", spark)
    plan = formatted_plan(df)
    assert count_in_plan(df, "Exchange") == 0, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_salted_agg_two_phases(spark):
    """The salted aggregation keeps two HashAggregate pairs (per-salt,
    then merge) — four total with partials."""
    df = _q("agg_skew_salted", spark)
    assert count_in_plan(df, "HashAggregate") >= 3


def test_pipeline_shipping_priority_plan(spark):
    """Q3 shape: customer broadcast, one fact shuffle pair, top-k heap."""
    df = _q("pipeline_shipping_priority", spark)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # date filters reach the scans
    assert "LessThan(o_orderdate" in plan, plan
    assert "GreaterThan(l_shipdate" in plan, plan


def test_pipeline_local_supplier_volume_bounded_broadcasts_only(spark):
    """Q5 shape: bounded dims (region, nation) broadcast by hint; customer
    and supplier carry NO forced-broadcast hint (they grow with sf — at
    100 TB a forced broadcast OOMs), so AQE/stats pick their strategy."""
    import inspect

    from connor_fun_streamproducer_spark.operators import pipelines

    df = _q("pipeline_local_supplier_volume", spark)
    # nation + region hints survive planning; at fixture scale Catalyst
    # may ALSO broadcast customer/supplier from observed sizes — that is
    # AQE's call, not a hint's, which is the property under test:
    assert count_in_plan(df, "BroadcastHashJoin") >= 2
    assert_not_in_plan(df, "CartesianProduct")
    src = inspect.getsource(pipelines.pipeline_local_supplier_volume)
    assert "F.broadcast(c" not in src and "F.broadcast(s" not in src, (
        "unbounded tables must not carry forced broadcast hints"
    )
    src10 = inspect.getsource(pipelines.pipeline_returned_items)
    assert "F.broadcast(c" not in src10


def test_pipeline_returned_items_topk_heap(spark):
    df = _q("pipeline_returned_items", spark)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan, plan


def test_pipeline_shipping_priority_bucketed_shuffle_free(spark):
    """The bucketed Q3 must contain ZERO shuffle exchanges: the fact-fact
    join is satisfied bucket-for-bucket, the groupBy(l_orderkey,
    o_orderdate) is satisfied by HashPartitioning(l_orderkey), and the
    only data movement left is the customer-keys broadcast and the top-10
    heap merge. (count_in_plan's header regex counts `Exchange` — shuffle
    — and not `BroadcastExchange`.)"""
    df = _q("pipeline_shipping_priority_bucketed", spark)
    plan = formatted_plan(df)
    assert count_in_plan(df, "Exchange") == 0, plan
    assert "BroadcastExchange" in plan, plan  # the customer keys still broadcast
    assert "TakeOrderedAndProject" in plan, plan


def test_enrich_region_grid_is_hash_join(spark):
    """The grid rewrite must upgrade bbox containment from nested-loop to
    an equi hash join — the thousands-of-regions scale path."""
    df = _q("enrich_region_grid", spark)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_region_dim_plans_no_broadcast(spark):
    """Every op built on ``enrich`` carries the locations dim inside its
    plan as one generator: no broadcast of it (a Spark job per action, and
    per micro-batch of a stream) and no scan of it at all, local or
    RDD-backed."""
    for key in ("enrich_region", "agg_window_count", "route_by_key", "sink_kafka"):
        lines = [l.lstrip(" :+-*") for l in plan_snapshot(_q(key, spark)).splitlines()]
        assert lines.count("Generate") == 1, (key, lines)
        for needle in ("BroadcastExchange", "BroadcastNestedLoopJoin", "ExistingRDD", "LocalTableScan"):
            assert not any(needle in l for l in lines), (key, needle, lines)


def test_sim_search_ivf_scan_is_partition_pruned(spark):
    """The probe must read only the probed cell partitions of the
    materialized inverted file — at 100 TB this IS the IVF win: the scan
    touches nprobe/N_CELLS of the corpus and does zero per-query cell
    assignment work."""
    df = _q("sim_search_ivf", spark)
    plan = formatted_plan(df)
    # the IN-list on the partition column reaches the file index
    assert "PartitionFilters: [cell" in plan, plan
    assert ".ivf_index" in plan, plan  # reads the materialized index, not the raw table
    assert df.select("query_id").distinct().count() > 0


def test_text_chunk_is_map_only(spark):
    """Chunking must be a pure map stage: sequence→transform→slice→
    posexplode inside the scan's partitioning — zero exchanges. At 100 TB
    this is what makes chunking free to scale: it inherits the input
    layout and adds no shuffle."""
    assert_not_in_plan(_q("text_chunk", spark), "Exchange")


def test_sample_ops_are_map_only(spark):
    """Deterministic split/sampling must not shuffle — they are
    projections/filters over the scan."""
    assert_not_in_plan(_q("sample_split", spark), "Exchange")
    assert_not_in_plan(_q("sample_stratified", spark), "Exchange")


def test_corpus_stats_single_exchange(spark):
    """Per-language stats: partial aggregation map-side, ONE exchange on
    the ~|languages|-key group-by."""
    df = _q("corpus_stats", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)


def test_join_range_bucketed_is_equi_join(spark):
    """The whole point of the bucket rewrite: the time-range join must
    plan as a hash-partitionable equi-join (+ residual filter), never a
    nested-loop/cartesian over purchases × clicks."""
    df = _q("join_range_bucketed", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_tfidf_no_cartesian_bounded_exchanges(spark):
    """tf⋈df is an equi-join on term; the plan is hash aggs + hash join +
    one window — bounded exchange count, nothing quadratic."""
    df = _q("tfidf_top_terms", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert count_in_plan(df, "Exchange") <= 4, plan


def test_subquery_pipelines_decorrelate_to_joins(spark):
    """Membership/EXISTS subqueries must plan as semi/anti joins, never as
    per-row re-execution; the scalar subquery is a 1-row broadcast."""
    assert_in_plan(_q("pipeline_large_volume_orders", spark), "LeftSemi")
    assert_in_plan(_q("pipeline_late_shipment_priority", spark), "LeftSemi")
    plan = assert_in_plan(_q("pipeline_dormant_accounts", spark), "LeftAnti")
    assert "BroadcastExchange" in plan  # the 1-row scalar aggregate


def test_dedup_embedding_blocks_on_cell_equi_join(spark):
    """Semantic dedup must pair within IVF cells via an equi hash join —
    never a cartesian/nested-loop over the corpus, and never a
    low-cardinality label key."""
    df = _q("dedup_embedding", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cell" in plan, plan


def test_win_sessionize_single_reused_exchange(spark):
    """Sessionization's lag window, running sum, and session aggregate
    must all reuse ONE (user_id) hash exchange — the key scale property
    of the gaps-and-islands plan."""
    df = _q("win_sessionize", spark)
    assert count_in_plan(df, "Exchange") == 1
    assert count_in_plan(df, "Window") >= 2
    assert count_in_plan(df, "HashAggregate") >= 2  # partial + final


def test_merge_upsert_single_shuffle_no_broadcast(spark):
    """The CDC merge is union + one row_number shuffle on the merge key;
    nothing unbounded (base or feed) may be broadcast."""
    df = _q("merge_upsert", spark)
    assert count_in_plan(df, "Exchange") == 1
    assert count_in_plan(df, "BroadcastExchange") == 0
    assert count_in_plan(df, "Union") == 1


def test_agg_histogram_partial_agg_one_exchange(spark):
    df = _q("agg_histogram", spark)
    assert count_in_plan(df, "Exchange") == 1
    assert count_in_plan(df, "HashAggregate") == 2


def test_corpus_pack_one_stratum_exchange(spark):
    """Packing is a per-stratum running sum: one (lang) exchange, no
    aggregation of the corpus, no broadcast."""
    df = _q("corpus_pack", spark)
    assert count_in_plan(df, "Exchange") == 1
    assert count_in_plan(df, "Window") == 1


def test_text_pii_scrub_map_only(spark):
    """The scrub pass must fuse into the scan: zero exchanges."""
    df = _q("text_pii_scrub", spark)
    assert count_in_plan(df, "Exchange") == 0
    assert count_in_plan(df, "BroadcastExchange") == 0


def test_text_boilerplate_broadcasts_topk(spark):
    """The top-K boilerplate set is a K-row dim: it must come back as a
    broadcast join, never a shuffle join against the gram stream."""
    df = _q("text_boilerplate", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert count_in_plan(df, "BroadcastExchange") >= 1
    assert count_in_plan(df, "Exchange") <= 2, plan


def test_embedding_quantize_map_only(spark):
    """Quantization is a per-vector projection: it must fuse into the
    scan with zero exchanges."""
    df = _q("embedding_quantize", spark)
    assert count_in_plan(df, "Exchange") == 0
    assert count_in_plan(df, "BroadcastExchange") == 0


def test_fn_url_map_only(spark):
    df = _q("fn_url", spark)
    assert count_in_plan(df, "Exchange") == 0


def test_text_normalize_map_only(spark):
    df = _q("text_normalize", spark)
    assert count_in_plan(df, "Exchange") == 0


def test_sink_partition_prune_uses_partition_filters(spark):
    """The predicate on the partition column must prune directories at
    planning time (PartitionFilters on the scan), not filter rows after a
    full scan."""
    from connor_fun_streamproducer_spark.sources.layout import PRUNE_KEY, pruned_scan

    plan = formatted_plan(pruned_scan(spark, SF_DIR))
    scan = plan[plan.index("PartitionFilters"):]
    head = scan[: scan.index("\n")]
    assert "event_type" in head and PRUNE_KEY in head, head
    # Pruning fully answers the predicate: no residual data filter node
    # and nothing pushed to the parquet reader itself.
    assert "PushedFilters" not in plan or "PushedFilters: []" in plan
    assert count_in_plan(_q("sink_partition_prune", spark), "Filter") == 0


def test_agg_kll_quantile_two_level_rollup(spark):
    """Per-group sketches + one merge to ALL: sketch (object) aggregates
    partial-combine on both levels, and at runtime the ALL branch reuses
    the per-group shuffle instead of re-scanning the table (production
    with_exact=False shape). The r7 verification shape (exact companion
    columns, VERDICT r6 #4) checkpoints the 5-row group frame instead —
    the sketch side must still touch the table exactly once."""
    from connor_fun_streamproducer_spark import registry as _reg

    prod = _reg.OPS["agg_kll_quantile"].fn(spark, SF_DIR, with_exact=False)
    prod.collect()
    executed = prod._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed

    df = _q("agg_kll_quantile", spark)
    # Sketch buffers aggregate via ObjectHashAggregate (partial+final);
    # exact percentile buffers ride the same aggregates.
    assert count_in_plan(df, "ObjectHashAggregate") >= 2
    assert count_in_plan(df, "Union") == 1
    # The checkpointed group frame is an RDD cut, so the only parquet
    # scan left in this plan is the scalar ALL-exact branch — the sketch
    # side never re-reads the table.
    assert count_in_plan(df, "Scan parquet") == 1
    df.collect()


def test_agg_theta_setops_broadcasts_sketch_frame(spark):
    """The 3-row sketch frame self-joins under a theta condition — it must
    broadcast, never shuffle or cartesian the fact table."""
    df = _q("agg_theta_setops", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert count_in_plan(df, "BroadcastExchange") >= 1


def test_pipeline_nation_volume_broadcasts_nation_only(spark):
    """Q7 shape: the 25-row nation dim broadcasts (twice); the fact joins
    stay strategy-free for AQE; nothing is a cartesian."""
    df = _q("pipeline_nation_volume", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_win_range_interval_single_exchange(spark):
    df = _q("win_range_interval", spark)
    assert count_in_plan(df, "Exchange") == 1
    assert count_in_plan(df, "Window") == 1


def test_graph_pagerank_no_cartesian_and_bounded_shape(spark):
    """The distributed phase runs once (edges collected, dim-scale); the
    five unrolled iterations are equi-joins over local bounded frames —
    no cartesian, no re-derivation of the event-log window tower."""
    df = _q("graph_pagerank", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert count_in_plan(df, "Window") == 0  # log phase done pre-collect
    assert "parquet" not in plan.lower()  # iterations never rescan the log


def test_join_runtime_filter_bloom_injects_at_scale_conditions(spark):
    """Under 100 TB conditions (shuffle join, large probe side) Spark must
    inject a bloom runtime filter from the selective orders side into the
    lineitem scan. Fixture tables are tiny, so the size thresholds are
    scoped down for the assertion and restored after."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = _q("join_runtime_filter", spark)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized, optimized[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_embedding_pool_partial_aggs(spark):
    """Pooling exchanges only (label, pos) partial sums — two agg stages,
    each with a map-side partial."""
    df = _q("embedding_pool", spark)
    assert count_in_plan(df, "Exchange") == 2
    assert count_in_plan(df, "HashAggregate") == 4


def test_graph_pagerank_distributed_path_matches_collected(spark, monkeypatch):
    """The un-collected keyed-shuffle recurrence must agree with the
    collected fast path to the rounded digit, and the size-threshold
    routing must actually switch paths (threshold parameterized to 0)."""
    from connor_fun_streamproducer_spark.operators import graph

    collected = {(r["node"], r["rank"]) for r in _q("graph_pagerank", spark).collect()}
    forced = {(r["node"], r["rank"]) for r in _q("graph_pagerank_dist", spark).collect()}
    assert forced == collected

    monkeypatch.setattr(graph, "DIST_NODE_THRESHOLD", 0)
    routed = {
        (r["node"], r["rank"])
        for r in registry.OPS["graph_pagerank"].fn(spark, SF_DIR).collect()
    }
    assert routed == collected


def test_merge_scd2_single_exchange(spark):
    """The whole SCD2 history build (lag flag, running sum, version agg,
    lead close) must reuse ONE (user_id) exchange: HashPartitioning on
    user_id satisfies every downstream window and the (user_id,
    version_seq) aggregate."""
    df = _q("merge_scd2", spark)
    assert count_in_plan(df, "Exchange") == 1


def test_disjunctive_revenue_per_side_weakening_pushdown(spark):
    """Q19's OR-of-ANDs predicate must split: the quantity-only weakening
    reaches the lineitem scan's PushedFilters, the brand/size weakening
    reaches the part scan, the join stays a partkey equi-join with the
    full disjunction as residual, and the filtered part side broadcasts."""
    plan = formatted_plan(_q("pipeline_disjunctive_revenue", spark))
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, "lineitem weakening not pushed"
    assert "EqualTo(p_brand,Brand#1)" in plan, "part weakening not pushed"
    assert "BroadcastHashJoin" in plan


def test_join_asof_sorted_single_exchange_no_join(spark):
    """The merge-sort as-of must be join-free: union tape, ONE (user_id)
    exchange, running-window carry-forward — no candidate materialization
    however long per-user order history gets."""
    df = _q("join_asof_sorted", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, "merge-asof must not contain a join"
    assert count_in_plan(df, "Exchange") == 1


def test_aqe_skew_join_split_activates(spark):
    """SCALE.md leans on AQE's skew-join splitting for hot keys; prove the
    machinery actually engages rather than citing it. A 400k-row frame
    with 90% of rows on one key sort-merge-joins a small dim under
    scaled-down skew thresholds; the FINAL adaptive plan must mark the
    join skew=true (hot partition split into parallel subpartitions)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(50_000).select(F.col("id").alias("k"), F.lit("d").alias("tag"))
        joined = left.join(right, "k").groupBy("tag").count()
        joined.collect()  # AQE decides skew handling at runtime
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_market_share_dims_broadcast_facts_not(spark):
    """Q8's six-join snowflake: nation (twice) and region ride broadcast
    joins; no cartesian product; the fact-fact orderkey join must NOT be
    a broadcast of lineitem or orders (either sort-merge or AQE-elected
    shuffle side is fine — the point is no unbounded broadcast hint)."""
    plan = formatted_plan(_q("pipeline_market_share", spark))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # n1, n2, region at minimum
    import re

    # No broadcast exchange may sit directly on a raw lineitem/orders scan
    # (dim broadcasts all operate on projected/filtered small frames).
    for big in ("lineitem", "orders"):
        assert not re.search(
            rf"BroadcastExchange[^\n]*\n[^\n]*Scan parquet[^\n]*{big}", plan
        ), f"unbounded broadcast of {big}"


def test_product_profit_partial_aggregates_before_exchange(spark):
    """Q9's (nation × year) aggregate must partial-combine map-side: a
    partial_sum HashAggregate appears below the final exchange, so the
    shuffle carries dim-scale partials at any input size."""
    plan = formatted_plan(_q("pipeline_product_profit", spark))
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_sink_compaction_reduces_file_count(spark):
    """The compaction rewrite must actually shrink the layout: 16
    fragmented data files in, COMPACT_TARGET out, same rows."""
    import glob

    from connor_fun_streamproducer_spark.sources.layout import (
        COMPACT_TARGET,
        FRAGMENT_FILES,
        compacted_events_path,
    )

    frag, comp = compacted_events_path(spark, SF_DIR)
    n_frag = len(glob.glob(f"{frag}/part-*.parquet"))
    n_comp = len(glob.glob(f"{comp}/part-*.parquet"))
    assert n_frag == FRAGMENT_FILES
    assert n_comp == COMPACT_TARGET
    assert (
        spark.read.parquet(frag).count() == spark.read.parquet(comp).count()
    )


def test_mincost_supplier_single_window_exchange_dims_broadcast(spark):
    """Q2's two-key correlated min decorrelates to ONE window pass: a
    single (partkey, year) exchange feeds the min-window, and
    nation/region/part all ride broadcast joins — no self-join of the
    offers frame, no second fact scan."""
    plan = formatted_plan(_q("pipeline_mincost_supplier", spark))
    assert "Window" in plan
    assert plan.count("BroadcastHashJoin") >= 3  # nation, region, part
    assert "CartesianProduct" not in plan


def test_important_part_share_threshold_is_broadcast_scalar(spark):
    """Q11's global-share HAVING: the total reduces to one row and rides
    a broadcast nested-loop (1-row cross) join — the per-part frame is
    NOT re-aggregated or shuffled a second time for the threshold."""
    plan = formatted_plan(_q("pipeline_important_part_share", spark))
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_sum" in plan  # part agg combines map-side


def test_supplier_part_counts_anti_join_broadcasts(spark):
    """Q16's NOT IN denylist must be a broadcast LEFT-ANTI join on the
    fact — no shuffle for the exclusion — with expand/distinct machinery
    only at the (brand,type,size) count-distinct."""
    plan = formatted_plan(_q("pipeline_supplier_part_counts", spark))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_small_qty_revenue_correlation_never_shuffles_filtered_fact(spark):
    """Q17: the per-part avg frame joins back WITHOUT forcing a fact
    shuffle — the brand-filtered fact side stays scan→broadcast-join;
    the correlation costs one partkey aggregate of the full fact only."""
    plan = formatted_plan(_q("pipeline_small_qty_revenue", spark))
    assert "CartesianProduct" not in plan
    assert "partial_avg" in plan  # the decorrelated aggregate combines map-side


def test_promotion_suppliers_all_semi_joins(spark):
    """Q20's membership chain must stay semi: both the part-name filter
    and the final supplier membership are LeftSemi joins (no DISTINCT
    inflation), with part/nation/region broadcast."""
    plan = formatted_plan(_q("pipeline_promotion_suppliers", spark))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_waiting_suppliers_single_fact_pass_one_orderkey_exchange(spark):
    """Q21's EXISTS/NOT-EXISTS decorrelation: ONE explicit l_orderkey
    repartition must serve the (orderkey, suppkey) aggregate (subset
    clustering) AND the per-order window stats — no self-join of the
    per-(order,supplier) frame (which Spark would compute twice), no
    second orderkey exchange."""
    df = _q("pipeline_waiting_suppliers", spark)
    plan = formatted_plan(df)
    assert "LeftAnti" not in plan and "LeftSemi" not in plan  # decorrelated, not re-probed
    assert "Window" in plan
    assert plan.count("hashpartitioning(l_orderkey") == 1, plan[:3000]
    # single pass: the lineitem scan appears exactly once
    assert plan.count("lineitem.parquet") == 1


def test_forecast_revenue_all_three_predicates_pushed(spark):
    """TPC-H Q6: the pure pushdown query — all three filters must reach
    the parquet reader, the projection must prune to the 4 used columns,
    and the global aggregate must be partial-before-exchange."""
    df = _q("pipeline_forecast_revenue", spark)
    plan = formatted_plan(df)
    assert "PushedFilters: [" in plan
    for pf in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity",
               "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount"):
        assert pf in plan, (pf, plan)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema
    assert count_in_plan(df, "HashAggregate") >= 2


def test_shipmode_priority_partial_conditional_counts(spark):
    """TPC-H Q12: ship-window pushed to the lineitem scan; the tiny
    category group-by partial-aggregates before its exchange."""
    df = _q("pipeline_shipmode_priority", spark)
    plan = formatted_plan(df)
    assert "GreaterThanOrEqual(l_shipdate" in plan and "LessThan(l_shipdate" in plan
    assert count_in_plan(df, "HashAggregate") >= 2


def test_timeseries_ops_bounded_exchanges(spark):
    """The time-series tier's exchange budget, pinned: win_ewma rides ONE
    (user_id) exchange (row_number + count + final agg all reuse it);
    ts_resample pays exactly two (span agg, bucket agg — the grid join
    reuses them); the four interpolation anchor windows share one sort."""
    assert count_in_plan(_q("win_ewma", spark), "Exchange") == 1
    assert count_in_plan(_q("ts_resample", spark), "Exchange") == 2
    df = _q("ts_interpolate_linear", spark)
    assert count_in_plan(df, "Exchange") == 2
    assert count_in_plan(df, "Window") == 1


def test_zorder_layout_locality_and_fidelity(spark):
    """The Z-order claim, measured: every bucket's span in BOTH clustered
    dimensions is at most half the global key range (a hash or random
    layout spans ~the full range in each), and bucket counts sum to the
    table size — the rewrite dropped nothing."""
    import duckdb

    rows = _q("sink_zorder", spark).collect()
    n_total = sum(r["n"] for r in rows)
    expected = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/lineitem.parquet')"
    ).fetchone()[0]
    assert n_total == expected
    gmin_p = min(r["min_p"] for r in rows)
    gmax_p = max(r["max_p"] for r in rows)
    gmin_s = min(r["min_s"] for r in rows)
    gmax_s = max(r["max_s"] for r in rows)
    for r in rows:
        assert (r["max_p"] - r["min_p"]) <= (gmax_p - gmin_p) / 2 + 1, r
        assert (r["max_s"] - r["min_s"]) <= (gmax_s - gmin_s) / 2 + 1, r


def test_zorder_two_sided_predicate_prunes_to_one_bucket(spark):
    """A conjunctive range predicate on both clustered dims must prune the
    partitioned z-layout to a single zbucket directory — the data-skipping
    payoff the layout exists for."""
    from pyspark.sql import functions as F

    from connor_fun_streamproducer_spark.sources.layout import zorder_events_path

    path = zorder_events_path(spark, SF_DIR)
    back = spark.read.parquet(path)
    # bucket 0 rectangle at sf0.001: partkey 0-49, suppkey 0-2 (quarter x
    # quarter of the scaled key space); predicate inside it.
    probe = back.filter(
        (F.col("l_partkey") < 40) & (F.col("l_suppkey") < 2)
        & (F.col("zbucket") == 0)
    )
    plan = formatted_plan(probe)
    part_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "zbucket" in part_line, plan


def test_heavy_hitters_candidate_filter_is_broadcast(spark):
    """Phase 2 must semi-join the bounded candidate set as a BROADCAST —
    the whole point is that the exact pass never shuffles the token
    stream on token."""
    df = _q("agg_heavy_hitters", spark)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_anomaly_zscore_single_keyed_sort(spark):
    """The three RANGE-frame window aggregates must share one (user_id)
    exchange + sort — a second window pass would double the op's cost."""
    df = _q("win_anomaly_zscore", spark)
    assert count_in_plan(df, "Exchange") == 1
    assert count_in_plan(df, "Window") == 1


def test_linreg_trend_partial_moments_before_exchange(spark):
    """regr_* are moment aggregates: map-side partials must appear below
    the single keyed exchange."""
    df = _q("agg_linreg_trend", spark)
    assert count_in_plan(df, "HashAggregate") >= 2
    assert count_in_plan(df, "Exchange") == 1


def test_retention_cohort_single_user_exchange(spark):
    """The retention triangle must build its per-user week sets in ONE
    user_id exchange (collect_set with map-side partials) and pay only
    the bounded (cohort, offset) agg after it — a (user, week)-distinct
    + window formulation would re-shuffle a full-volume frame twice."""
    df = _q("pipeline_retention_cohort", spark)
    assert count_in_plan(df, "Exchange") == 2  # user_id agg + final agg
    assert count_in_plan(df, "HashAggregate") >= 2  # partial collect_set
    assert count_in_plan(df, "Window") == 0


def test_funnel_reuses_user_partitioning_and_shrinks(spark):
    """Every rung of the funnel ladder keys on user_id; the three stage
    aggregates and both rung joins must not introduce a cartesian or a
    nested-loop, and the final union-marker count is one extra agg."""
    df = _q("pipeline_funnel_conversion", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_covariance_shuffles_partials_not_vectors(spark):
    """The Gramian op's only exchange must carry the d^2-row integer
    partials from mapInPandas — never embedding vectors: the plan has
    exactly one aggregate exchange and one Arrow eval node."""
    df = _q("embedding_covariance", spark)
    assert count_in_plan(df, "Exchange") == 1
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_interval_overlap_sweep_has_no_join_at_all(spark):
    """The sweep-line count replaces pair enumeration entirely: the plan
    must contain NO join of any kind (a fortiori no O(n^2) nested-loop
    fallback) — one window sort per supplier plus the final aggregate.
    This is what removes the r5 hot-cell watch item: a hot supplier
    costs n*log n in its sort partition, never a quadratic cell."""
    df = _q("join_interval_overlap", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    assert count_in_plan(df, "Window") == 1, plan


def test_cumulative_distinct_single_exchange(spark):
    """Both window passes — (user_id, event_type) first-flag and
    (user_id) running sum — must ride ONE hash(user_id) exchange:
    hash(user_id) satisfies both ClusteredDistributions."""
    df = _q("win_cumulative_distinct", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)
    assert count_in_plan(df, "Window") >= 2


def test_sample_reservoir_is_topk_not_global_sort(spark):
    """Hash-priority sampling must plan as distributed top-k
    (TakeOrderedAndProject), never a full global Sort + Limit."""
    plan = formatted_plan(_q("sample_reservoir", spark))
    assert "TakeOrderedAndProject" in plan, plan


def test_triangle_count_all_equi_joins(spark):
    """Wedge build and closure are equi-joins; the plan must contain no
    nested-loop fallback and aggregate partially before the final
    exchange."""
    df = _q("graph_triangle_count", spark)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "CartesianProduct")
    assert count_in_plan(df, "HashAggregate") >= 2


def test_rfm_three_windows_one_segment_exchange(spark):
    """All three ntile windows share the hash(segment) partitioning —
    exactly one exchange on segment after the per-customer aggregate."""
    plan = formatted_plan(_q("pipeline_rfm_segments", spark))
    # formatted mode prints each Exchange's partitioning once, in its
    # Arguments detail line — count those, and require the segment
    # partitioning to actually appear (guards against a vacuous match).
    assert plan.count("hashpartitioning(segment") == 1, plan


def test_fuzzy_join_is_hash_equi_join_over_vocab(spark):
    """The blocking token must carry the join (hash/broadcast equi-join);
    levenshtein is a post-join filter, never a join condition that
    forces a nested loop."""
    df = _q("join_fuzzy_blocked", spark)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_snapshot_diff_is_single_full_outer_sortmerge(spark):
    """Equal-size snapshot diff: one co-partitioned full-outer
    sort-merge join, and only one — the classification must be a
    projection, not further joins."""
    df = _q("snapshot_diff", spark)
    plan = assert_in_plan(df, "SortMergeJoin FullOuter")
    n_joins = count_in_plan(df, "SortMergeJoin") + count_in_plan(
        df, "ShuffledHashJoin"
    ) + count_in_plan(df, "BroadcastHashJoin")
    assert n_joins == 1, plan


def test_split_assignments_are_map_only(spark):
    """Group-holdout and k-fold assignment are pure projections — zero
    exchanges at any corpus size (the split hash is a codegen'd scan
    expression, partitionable downstream)."""
    for key in ("sample_group_holdout", "sample_kfold"):
        df = _q(key, spark)
        assert count_in_plan(df, "Exchange") == 0, (key, formatted_plan(df))


def test_chunk_dedup_never_all_pairs(spark):
    """Chunk dedup is explode → digest hash-agg → digest equi-join;
    the plan must never fall back to a nested-loop pairing."""
    df = _q("dedup_chunk_exact", spark)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_table_profile_single_scan(spark):
    """Profiling N columns must read the table ONCE: one parquet scan
    feeding an Expand (unpivot), not one aggregation subtree per
    column."""
    df = _q("stats_table_profile", spark)
    assert count_in_plan(df, "Scan parquet") == 1, formatted_plan(df)
    assert_in_plan(df, "Expand")


def test_versioned_manifest_time_travel_and_append_only(spark):
    """Snapshot protocol invariants: manifest-1 reads reproduce the
    pre-cut filter (time travel); v1's file list is a strict prefix of
    v2's (appends never rewrite committed files); the VERSION pointer
    resolves to the complete table."""
    import os

    from pyspark.sql import functions as F

    from connor_fun_streamproducer_spark.catalog import load
    from connor_fun_streamproducer_spark.sources.layout import (
        SNAPSHOT_CUT,
        read_snapshot,
        versioned_orders_root,
    )

    root = versioned_orders_root(spark, SF_DIR)
    o = load(spark, SF_DIR, "orders")
    n_pre = o.filter(F.col("o_orderdate") < SNAPSHOT_CUT).count()
    assert read_snapshot(spark, root, version=1).count() == n_pre
    assert read_snapshot(spark, root).count() == o.count()
    with open(os.path.join(root, "manifest-1.txt")) as fh:
        v1 = fh.read().splitlines()
    with open(os.path.join(root, "manifest-2.txt")) as fh:
        v2 = fh.read().splitlines()
    assert v2[: len(v1)] == v1 and len(v2) > len(v1)
    with open(os.path.join(root, "VERSION")) as fh:
        assert fh.read().strip() == "2"


def test_asof_nearest_single_exchange_no_joins(spark):
    """The bidirectional nearest as-of runs on ONE tape: a single
    user-keyed exchange feeding both window carries, zero join nodes —
    same cost envelope as the one-directional tape."""
    df = _q("join_asof_nearest", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert_not_in_plan(df, j)


def test_attribution_is_binned_equi_join(spark):
    """The 2-day lookback predicate must ride an equi-join on
    (user, bin) — never the nested-loop theta fallback."""
    df = _q("pipeline_attribution_touch", spark)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_yoy_broadcasts_both_dims(spark):
    """customer and nation ride broadcast; the orders fact is never
    broadcast and the lag window runs on the post-aggregate rollup."""
    df = _q("pipeline_yoy_growth", spark)
    assert count_in_plan(df, "BroadcastHashJoin") == 2, formatted_plan(df)
    assert_in_plan(df, "Window")


def test_shuffle_shard_minimal_exchange(spark):
    """The training shuffle is exchange → per-shard sort → window: ONE
    shuffle exchange, no global sort."""
    df = _q("corpus_shuffle_shard", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)


def test_point_in_time_join_is_tape_not_interval_join(spark):
    """PIT against SCD2 history must reduce to the as-of carry tape:
    single user-keyed shuffle exchange chain, zero join nodes, no
    interval explode."""
    df = _q("join_point_in_time", spark)
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert_not_in_plan(df, j)


# ---------------------------------------------------------------------------
# Round-6 additions


def test_ohlc_is_one_agg_no_window(spark):
    """OHLC bars must come from ONE partial-combined hash aggregate
    (struct argmin/argmax), never a per-series window sort: no Window
    node, a single exchange."""
    df = _q("ts_ohlc_candles", spark)
    assert count_in_plan(df, "Window") == 0, formatted_plan(df)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)


def test_interpurchase_window_and_agg_share_one_exchange(spark):
    """The lag window and the per-user aggregate both cluster on
    hash(user_id) — one exchange total."""
    df = _q("pipeline_interpurchase_time", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)
    assert count_in_plan(df, "Window") == 1


def test_pattern_rises_two_lags_one_window_pass(spark):
    """Both lags ride one window spec (one sort), and the count agg
    reuses the window's custkey partitioning — one exchange."""
    df = _q("win_pattern_rises", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)
    assert count_in_plan(df, "Window") == 1


def test_file_stats_pruning_opens_strict_subset(spark):
    """The manifest must prune the scan list: kept files < total files,
    and the kept set still answers the query exactly (oracle-checked in
    test_oracle.py)."""
    from connor_fun_streamproducer_spark.sources.layout import (
        _STATS_BOUND,
        range_files_root,
        stats_pruned_files,
    )

    root = range_files_root(spark, SF_DIR)
    keep, total = stats_pruned_files(root, _STATS_BOUND)
    assert 0 < len(keep) < total, (len(keep), total)
    # residual pushdown still reaches the kept files' scan
    df = _q("scan_file_stats_pruning", spark)
    assert "PushedFilters" in formatted_plan(df)


def test_delete_vectors_broadcast_anti_join(spark):
    """The DV subtraction must plan as a broadcast LEFT ANTI hash join
    (DV side is small by construction) — not a shuffle of the base."""
    df = _q("sink_delete_vectors", spark)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    ), plan


def test_partition_evolution_new_spec_dir_prunes(spark):
    """A status predicate over the spec-2 subtree must become directory
    pruning (PartitionFilters), not a row filter after the scan."""
    import os

    from connor_fun_streamproducer_spark.sources.layout import (
        evolved_partitions_root,
    )
    from pyspark.sql import functions as F

    root = evolved_partitions_root(spark, SF_DIR)
    s2 = spark.read.parquet(os.path.join(root, "spec2")).filter(
        F.col("o_orderstatus") == "F"
    )
    plan = s2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan[:1500]


def test_substring_window_dedup_all_hash_no_cartesian(spark):
    """Window-digest dedup must stay equi-join shaped end to end."""
    df = _q("dedup_substring_window", spark)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert count_in_plan(df, "HashAggregate") >= 2


def test_top_similar_user_plans_running_top1(spark):
    """The rn=1 filter must plan as WindowGroupLimit — a running top-1
    per user, never buffering a user's full candidate list."""
    df = _q("graph_top_similar_user", spark)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan


def test_asof_tolerance_same_tape_one_exchange_no_join(spark):
    """Tolerance semantics must NOT change the physical strategy: same
    single-exchange carry tape as join_asof_sorted/left, zero join
    nodes — the freshness bound is a map-side projection."""
    df = _q("join_asof_tolerance", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert count_in_plan(df, "Exchange") == 1, plan


def test_negative_pairs_broadcast_pool_and_running_top1(spark):
    """The candidate pool must broadcast (bounded B×labels rows) and the
    per-(anchor, probe) winner must plan as WindowGroupLimit."""
    df = _q("sample_negative_pairs", spark)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_phash_dedup_map_only_plus_one_hash_exchange(spark):
    """Decode+hash is one map-only Arrow pass; the cluster count is one
    window over the 16-bit hash — exactly one shuffle exchange."""
    df = _q("multimodal_phash_dedup", spark)
    plan = formatted_plan(df)
    assert count_in_plan(df, "Exchange") == 1, plan
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan


def test_clamped_cumsum_two_windows_one_exchange_no_python(spark):
    """Both window aggregates (running sum, running min of it) must ride
    ONE (user) exchange and sort — and the clamp stays in codegen: no
    Python eval node anywhere (the identity replaces the applyInPandas
    escape hatch the recurrence seems to need)."""
    df = _q("win_clamped_cumsum", spark)
    plan = formatted_plan(df)
    assert count_in_plan(df, "Exchange") == 1, plan
    assert "Python" not in plan and "MapInPandas" not in plan, plan


def test_session_paths_window_ladder_single_user_exchange(spark):
    """Session flags, session ids, and the in-session lag all cluster on
    hash(user_id) (the lag's (user, session) partition is a refinement),
    so the ladder plans ONE user exchange; the hop aggregate and the
    bounded single-partition total window add two more — and the hop
    ladder must compile ONCE (no duplicated subtree from a scalar
    subquery)."""
    df = _q("pipeline_session_paths", spark)
    assert count_in_plan(df, "Exchange") == 3, formatted_plan(df)
    plan = formatted_plan(df)
    # one scan = tree line + detail line; a duplicated subtree doubles it
    assert plan.count("Scan parquet") == 2, plan


def test_weighted_percentile_one_group_exchange(spark):
    """Both window passes and the final aggregate cluster on the group
    key — one exchange carries the whole exact-rank statistic."""
    df = _q("agg_weighted_percentile", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)


def test_interval_overlap_sweep_survives_hot_supplier(spark, tmp_path):
    """VERDICT r6 item 6: the sweep-line docstring claims "a hot supplier
    costs n·log n, never n²" — measure it. Two synthetic lineitem tables
    of identical size: one uniform (400 suppliers × 150 intervals), one
    with a single supplier holding ~30% of all intervals. A quadratic
    pair enumeration would blow the hot cell up ~5400× relative to a
    uniform cell; the sweep's hot cost is one partition's larger sort, so
    wall time must stay within 3× of the uniform case. Exactness under
    extreme density is pinned by a closed-form supplier: 50 identical
    intervals = C(50,2) = 1225 overlapping pairs."""
    import time

    from pyspark.sql import functions as F

    from connor_fun_streamproducer_spark.operators.joins import join_interval_overlap

    n_sup, per, n = 400, 150, 400 * 150

    def synth(path, hot: bool):
        if hot:
            # supplier 0 takes 30% of the tape; the rest spread evenly
            hot_n = int(n * 0.3)
            rest = n - hot_n
            sup = F.when(F.col("id") < hot_n, F.lit(0)).otherwise(
                (F.col("id") - hot_n) % (n_sup - 1) + 1
            )
        else:
            sup = F.col("id") % n_sup
        df = spark.range(n).select(
            sup.cast("bigint").alias("l_suppkey"),
            F.timestamp_seconds(
                F.lit(820454400) + (F.xxhash64("id") % 2000) * 86400
            ).alias("l_shipdate"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(40)) + 1)
            .cast("double")
            .alias("l_quantity"),
        )
        # closed-form density pin: 50 byte-identical intervals
        dense = spark.range(50).select(
            F.lit(999999).cast("bigint").alias("l_suppkey"),
            F.timestamp_seconds(F.lit(820454400)).alias("l_shipdate"),
            F.lit(10.0).alias("l_quantity"),
        )
        df.unionByName(dense).write.parquet(str(path))

    synth(tmp_path / "uniform" / "lineitem.parquet", hot=False)
    synth(tmp_path / "hot" / "lineitem.parquet", hot=True)

    def run(case):
        t0 = time.monotonic()
        rows = join_interval_overlap(spark, str(tmp_path / case)).collect()
        return time.monotonic() - t0, {r["l_suppkey"]: r["n_overlaps"] for r in rows}

    run("uniform")  # warmup (scan caches, codegen)
    t_uni, r_uni = run("uniform")
    t_hot, r_hot = run("hot")
    assert r_uni[999999] == 1225
    assert r_hot[999999] == 1225
    # the hot supplier's count must be plausible for ~18k intervals over
    # 2000 days (linear-ish in local density), and present at all
    assert r_hot[0] > r_uni[0] > 0
    assert t_hot < 3 * max(t_uni, 0.2), (t_hot, t_uni)


def test_bloom_index_prunes_files_with_no_false_negatives(spark):
    """sink_bloom_index's contract: (a) pruning bites — present probes
    keep a strict subset of the data files; (b) absent probes prune
    EVERYTHING (the 2^17-bit / 4-hash filter at this key density has
    ~zero false-positive mass); (c) no false negative is possible — every
    probe key's true rows survive the pruned read (guaranteed by using
    the same xxhash64 on build and probe; verified row-for-row here)."""
    from pyspark.sql import functions as F

    from connor_fun_streamproducer_spark.sources.layout import (
        _BLOOM_PROBES,
        bloom_candidate_files,
        bloom_files_root,
    )

    root = bloom_files_root(spark, SF_DIR)
    keep, total = bloom_candidate_files(spark, root, _BLOOM_PROBES)
    assert 0 < len(keep) < total
    absent = [p for p in _BLOOM_PROBES if p > 10**8]
    keep_absent, _ = bloom_candidate_files(spark, root, absent)
    assert keep_absent == []
    # no false negatives: pruned read == unpruned read for the probes
    import os

    full = (
        spark.read.parquet(os.path.join(root, "data"))
        .filter(F.col("l_orderkey").isin(_BLOOM_PROBES))
        .count()
    )
    pruned = (
        spark.read.parquet(*keep)
        .filter(F.col("l_orderkey").isin(_BLOOM_PROBES))
        .count()
    )
    assert full == pruned > 0


def test_benford_single_scan_partial_agg_tiny_window(spark):
    """stats_benford_profile must read lineitem ONCE (the stack unpivot
    is map-side, not a self-union), partial-aggregate the 18-key digit
    counts before the exchange, and keep the share window on the
    post-agg rows — nothing after the agg scales with the data."""
    df = _q("stats_benford_profile", spark)
    plan = formatted_plan(df)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert count_in_plan(df, "HashAggregate") >= 2
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema


def test_mad_outliers_no_cartesian_scalar_joins(spark):
    """stats_mad_outliers joins two per-user scalar frames back onto the
    events — both must stay equi-join shaped (never nested-loop) and the
    exact medians must partial-aggregate per user."""
    df = _q("stats_mad_outliers", spark)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert count_in_plan(df, "HashAggregate") + count_in_plan(
        df, "ObjectHashAggregate"
    ) >= 2


def test_seasonal_index_broadcasts_series_totals(spark):
    """ts_seasonal_index's totals join carries two scalars per series —
    it must broadcast, never shuffle the (series, hour) side again."""
    df = _q("ts_seasonal_index", spark)
    plan = assert_in_plan(df, "BroadcastHashJoin")
    assert "SortMergeJoin" not in plan


def test_containment_prefix_equi_join_shaped(spark):
    """dedup_containment_prefix's candidate and verify joins must stay
    hash-equi-join shaped (the Bayardo prefix-filter shape) — an
    all-pairs fallback would show as a nested-loop join."""
    df = _q("dedup_containment_prefix", spark)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")


def test_clustering_coefficient_single_edge_build(spark):
    """graph_clustering_coefficient's degree, wedge, and closure branches
    must all read the materialized pair-edges ARTIFACT (r10: a write-once
    .graph_index parquet) — a replayed bucket build would show as scans
    of the raw events fixture (the r6 graph_top_similar_user defect)."""
    df = _q("graph_clustering_coefficient", spark)
    plan = formatted_plan(df)
    assert ".graph_index" in plan, plan
    assert "events.parquet" not in plan, plan
    assert_not_in_plan(df, "CartesianProduct")


def test_drawdown_window_and_agg_share_one_exchange(spark):
    """win_drawdown: the running-max window and the per-user aggregate
    must share a single user_id exchange."""
    df = _q("win_drawdown", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)


def test_changepoint_one_series_sort_no_collect(spark):
    """ts_changepoint_cusum: prefix/rank and the argmax top-1 run on the
    same event_type partitioning; the totals join must broadcast."""
    df = _q("ts_changepoint_cusum", spark)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_mi_no_position_self_join(spark):
    """text_bigram_mi builds bigrams with a per-doc lead window — a
    position self-join or nested-loop would be quadratic in doc length."""
    df = _q("text_bigram_mi", spark)
    assert_not_in_plan(df, "CartesianProduct")
    plan = formatted_plan(df)
    assert "WindowExec" in plan or "Window" in plan, plan


def test_basket_affinity_single_scan_after_checkpoint(spark):
    """pipeline_basket_affinity's distinct-basket frame feeds four
    consumers — after the checkpoint the final plan must read only the
    materialized frame: zero parquet scans (the one real scan happens
    once, inside the checkpoint job; r6 planned five, zero reuse)."""
    df = _q("pipeline_basket_affinity", spark)
    plan = formatted_plan(df)
    assert plan.count("Location: InMemoryFileIndex") == 0, plan


def test_ks_support_collapses_before_window(spark):
    """stats_ks_eras must aggregate (grp, value) BEFORE the window — the
    window's input is the distinct support, not the row stream — and the
    totals join must broadcast."""
    df = _q("stats_ks_eras", spark)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # partial+final agg pair for the support collapse, before any Window
    assert count_in_plan(df, "HashAggregate") >= 2


def test_chi2_marginals_broadcast(spark):
    """stats_chi2_independence: marginals and total are dim-bounded —
    all three joins back onto the cell frame must broadcast."""
    df = _q("stats_chi2_independence", spark)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_embedding_outlier_centroid_broadcast_and_rank_window(spark):
    """embedding_outlier_distance: the (label, dim) centroid frame is
    dim-bounded and must broadcast back onto the exploded corpus; the
    quarantine gate is one rank window — no extra shuffles, no
    nested-loop join."""
    df = _q("embedding_outlier_distance", spark)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert_not_in_plan(df, "CartesianProduct")


def test_cdc_chunks_digest_shuffle_only(spark):
    """dedup_cdc_chunks: the breakpoint window and the chunk agg share
    the doc_id partitioning; cross-doc sharing shuffles digests only —
    never chunk text — and nothing is nested-loop shaped."""
    df = _q("dedup_cdc_chunks", spark)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert count_in_plan(df, "HashAggregate") >= 2


def test_extremal_by_single_agg_no_window(spark):
    """agg_extremal_by must plan as ONE partial/final hash-agg pair on a
    single exchange — no window sort (that's topk_per_group's cost)."""
    df = _q("agg_extremal_by", spark)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert count_in_plan(df, "Exchange") == 1, plan
    assert count_in_plan(df, "HashAggregate") >= 2


def test_scan_agg_pushdown_answers_from_footers(spark):
    """scan_agg_pushdown's BatchScan must carry the PushedAggregation —
    the aggregate is answered from footer statistics, no data pages —
    and building the frame must not leak the v2-reader conf into the
    session (other ops keep their pinned v1 plans)."""
    df = _q("scan_agg_pushdown", spark)
    plan = formatted_plan(df)
    assert "PushedAggregation: [COUNT(*)" in plan, plan
    assert "BatchScan" in plan, plan
    # conf restored: a fresh v1 op still plans the row-based scan
    plan2 = formatted_plan(_q("scan_parquet", spark))
    assert "BatchScan" not in plan2, plan2


def test_modularity_linear_joins_only(spark):
    """graph_modularity: edge-label scoring must stay hash-equi-join
    shaped over the materialized artifacts (r10: pair-edges + LPA labels
    from .graph_index) — no nested loops, no re-derived events scans."""
    df = _q("graph_modularity", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert ".graph_index" in plan, plan
    assert "events.parquet" not in plan, plan


def test_assortativity_single_edge_build(spark):
    """graph_assortativity: degree and both end-joins must feed from the
    materialized pair-edges artifact (r10) without re-deriving the
    bucket build — no events scan survives into the final plan, and the
    join tier stays hash-equi (no nested loops)."""
    df = _q("graph_assortativity", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the und frame is checkpointed AFTER reading the artifact, so the
    # final plan reads either the .graph_index parquet or the checkpoint
    # RDD — never the raw events fixture
    assert ".graph_index" in plan or "ExistingRDD" in plan, plan
    assert "events.parquet" not in plan, plan


def test_rolling_corr_one_exchange_one_window(spark):
    """win_rolling_corr: all six frame moments + row_number must plan
    into ONE suppkey exchange feeding WindowExec — no joins, no second
    shuffle (the shared-frame-spec guarantee the docstring claims)."""
    df = _q("win_rolling_corr", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert count_in_plan(df, "Exchange") == 1, plan
    assert "Window" in plan


def test_vocab_coverage_running_topk(spark):
    """corpus_vocab_coverage: the rk <= K cut must plan as
    WindowGroupLimit (running top-K, no full per-lang sort
    materialization of the vocabulary)."""
    df = _q("corpus_vocab_coverage", spark)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_hashing_vectorizer_map_side_only(spark):
    """text_hashing_vectorizer: vocabulary-free means join-free — the
    plan is explode + hash + aggregate, with the scan pruned to the
    two consumed columns."""
    df = _q("text_hashing_vectorizer", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_sma_crossover_one_exchange(spark):
    """ts_sma_crossover: the trailing-sum window and the lag window
    share the custkey partitioning — one exchange, two sorts at most,
    no join."""
    df = _q("ts_sma_crossover", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert count_in_plan(df, "Exchange") == 1, plan


def test_psi_single_scan_no_join(spark):
    """stats_psi_stability: era totals come from a whole-frame window
    over the bounded cells frame — orders is scanned exactly once and
    no join appears (the re-derived-subtree cross-join shape is the
    anti-pattern this pins against)."""
    df = _q("stats_psi_stability", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_minhash_banded_no_pair_blowup(spark):
    """dedup_minhash_banded: keeper-star assignment, never in-bucket
    pairing — the plan must stay hash-equi-join shaped (no nested
    loops, no cartesian) all the way through verify."""
    df = _q("dedup_minhash_banded", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zipf_running_topk(spark):
    """text_zipf_alpha: the rank <= 50 cut must plan as WindowGroupLimit
    (running top-K over counts, no full vocabulary sort)."""
    df = _q("text_zipf_alpha", spark)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_reciprocity_dim_bounded_join(spark):
    """graph_reciprocity: after the per-user lag scan, everything runs
    on the |event_type|²-bounded distinct edge set — the reverse-edge
    probe must not be a cartesian product."""
    df = _q("graph_reciprocity", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_cramers_v_single_cell_agg(spark):
    """stats_cramers_v: one corpus-sized aggregation (the cell count);
    marginals and the fold run on the bounded cell frame — no window,
    no cartesian, and the scan pruned to the two consumed columns."""
    df = _q("stats_cramers_v", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_dedup_eval_truth_only_on_slice(spark):
    """dedup_eval_tiers: the all-pairs ground truth (a deliberate
    budget² cartesian) is sanctioned ONLY because every input is first
    cut to the fixed 500-doc eval budget. Since r12 the op itself serves
    three artifacts (truth + both detected tiers), so the budget cut is
    asserted on the BUILDER subtree itself — dedup._eval_truth_frame,
    the exact frame materialize_once writes (ADVICE r12: the previous
    hand-kept replica could diverge from build() while this guard kept
    passing): its plan must show the TakeOrdered budget cut feeding the
    pair join — the entire scale argument for an O(budget²) harness —
    and the op's own plan must be artifact scans, no corpus-sized joins
    left."""
    from connor_fun_streamproducer_spark.catalog import load
    from connor_fun_streamproducer_spark.llm import dedup as D
    from tests.conftest import SF_DIR

    d = load(spark, SF_DIR, "documents")
    plan = formatted_plan(D._eval_truth_frame(d))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" in plan, plan

    served = formatted_plan(_q("dedup_eval_tiers", spark))
    assert "SortMergeJoin" not in served and "CartesianProduct" not in served, served


def test_backfill_broadcast_affected_set(spark):
    """pipeline_backfill_incremental: both the affected-month semi-join
    and the untouched anti-join must broadcast the dimension-bounded
    month set — no shuffle of the fact side on the splice path."""
    df = _q("pipeline_backfill_incremental", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin LeftSemi" in plan.replace("  ", " ") or (
        "LeftSemi" in plan and "BroadcastExchange" in plan
    ), plan
    assert "LeftAnti" in plan, plan


def test_trigrams_one_user_exchange(spark):
    """pipeline_event_trigrams: both lags ride one per-user window (no
    self-joins — the naive 3-way sequence join is events³); downstream
    aggregation is |types|³-bounded."""
    df = _q("pipeline_event_trigrams", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_twap_single_exchange(spark):
    """win_time_weighted_avg: the lead window and the per-user agg must
    share one user exchange — no second shuffle, no join."""
    df = _q("win_time_weighted_avg", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert count_in_plan(df, "Exchange") == 1, plan


def test_corrupt_quarantine_survives_and_counts(spark):
    """scan_corrupt_quarantine: the torn file must be invisible to the
    scan (ignoreCorruptFiles as a per-read option) AND identified by
    the footer probe; a plain read of the same dir must still FAIL —
    proving the tolerance did not leak into the session."""
    import pytest as _pytest

    from connor_fun_streamproducer_spark.catalog import scratch_dir

    row = _q("scan_corrupt_quarantine", spark).collect()[0]
    assert row.n_files_total == 3 and row.n_files_corrupt == 1
    path = scratch_dir(SF_DIR, "events_parquet_torn")
    with _pytest.raises(Exception):
        spark.read.parquet(path).count()


def test_audience_overlap_wedge_join(spark):
    """pipeline_audience_overlap: the intersection must be the
    middle-vertex equi-join on user (bounded C(k,2) fanout), with
    degree joins broadcast — no cartesian, no shuffle of the pair
    frame against degrees."""
    df = _q("pipeline_audience_overlap", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_ab_proportions_single_fold(spark):
    """stats_ab_proportions: one scan, one partial-combined 4-sum
    aggregate to a single row — no joins, no windows."""
    df = _q("stats_ab_proportions", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_skyline_no_dominance_join(spark):
    """pipeline_skyline_frontier: the 2-D skyline must be the
    sort-window identity, never a pairwise dominance join — exactly
    one join in the plan (frontier membership back to suppliers),
    broadcast."""
    df = _q("pipeline_skyline_frontier", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin Inner") == 1, plan
    assert "SortMergeJoin" not in plan


def test_label_distances_dim_bounded(spark):
    """embedding_label_distances: the shuffle must carry |labels|×d sum
    rows, never vectors — one explode pass, dim-key equi-join of
    bounded frames, broadcast count joins, no cartesian."""
    df = _q("embedding_label_distances", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_knn_purity_budget_bounded(spark):
    """embedding_knn_label_purity: the LOO all-pairs distance matrix is
    sanctioned only under the fixed md5 eval budget — the plan must
    show the TakeOrdered budget cut feeding the pair join."""
    df = _q("embedding_knn_label_purity", spark)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_segment_migration_cust_level_pivot(spark):
    """pipeline_segment_migration: the era pivot joins per-customer
    aggregates (|customers| input), never raw orders — one scan, the
    full outer join on the customer key, no cartesian."""
    df = _q("pipeline_segment_migration", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan, plan


def test_dup_rate_map_side_digests(spark):
    """corpus_dup_rate_by_source: the distinct aggregation must shuffle
    md5 digests, not documents — no window, no join, one scan."""
    df = _q("corpus_dup_rate_by_source", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_key_integrity_broadcast_fk_probes(spark):
    """stats_key_integrity: FK orphan checks must probe a broadcast
    distinct parent-key set — the child side never shuffles; PK checks
    are two-phase distinct aggs. No cartesian anywhere."""
    df = _q("stats_key_integrity", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin LeftOuter" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_event_lateness_sharded_frontier(spark):
    """stats_event_lateness (r13, VERDICT r12 #3): the exact global
    frontier is the two-pass sharded running max — the corpus-sized
    window must be PARTITIONED (by the event_id range shard; no
    single-partition WindowExec over events), and the |shards| prefix
    frame must come back as a broadcast, never a shuffled join of the
    event side."""
    plan = formatted_plan(_q("stats_event_lateness", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # every Window over the event stream names the shard partition key;
    # the partition-less windows are the |shards|-bounded prefix max and
    # the share total over the <= 5 band rows
    wins = [
        line for line in plan.splitlines() if "windowspecdefinition" in line
    ]
    corpus_wins = [w for w in wins if "event_id" in w]
    assert corpus_wins, plan
    assert all("shard" in w for w in corpus_wins), "\n".join(corpus_wins)


def test_gini_family_rank_is_range_partitioned(spark):
    """agg_gini_concentration / win_lorenz_deciles /
    corpus_doc_length_gini (r13, VERDICT r12 #4): exact entity ranks
    come from scale_patterns.distributed_rank — every corpus-sized
    row_number window must be partitioned by the _rank_shard quantile
    shard (no whole-corpus single-partition sort), with the RANK_PARTS
    prefix frame broadcast back."""
    for key in (
        "agg_gini_concentration",
        "win_lorenz_deciles",
        "corpus_doc_length_gini",
    ):
        plan = formatted_plan(_q(key, spark))
        assert "CartesianProduct" not in plan, key
        rank_wins = [
            line for line in plan.splitlines() if "row_number()" in line
        ]
        assert rank_wins, (key, plan)
        assert all("_rank_shard" in w for w in rank_wins), (key, "\n".join(rank_wins))
        assert "BroadcastHashJoin" in plan, (key, plan)


def test_mutual_info_single_scan_bounded_cells(spark):
    """stats_mutual_info_cat: documents scanned once; marginals are
    windows over the |A|x|B|-bounded cell frame, never a second scan or
    a join back."""
    plan = formatted_plan(_q("stats_mutual_info_cat", spark))
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_epoch_plan_broadcasts_the_plan_frame(spark):
    """corpus_epoch_plan: the |sources|-bounded plan frame broadcasts
    into the remainder-prefix pass — the corpus side never shuffles for
    the join — and nothing is a cartesian beyond the 1-row scalar
    cross."""
    plan = formatted_plan(_q("corpus_epoch_plan", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_estimate_no_pair_blowup(spark):
    """dedup_minhash_estimate: the audit joins signatures/tokens onto
    the keeper-star candidate frame by doc id — equi-joins only, no
    cartesian, no bucket-internal pairing."""
    plan = formatted_plan(_q("dedup_minhash_estimate", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_recall_join_is_broadcast(spark):
    """sim_search_lsh: the exact-top-k recall companion joins as a
    broadcast of the tiny truth set (N_QUERIES*K rows) — the candidate
    side never shuffles for it."""
    plan = formatted_plan(_q("sim_search_lsh", spark))
    assert "BroadcastHashJoin LeftOuter" in plan.replace("  ", " ") or (
        "LeftOuter" in plan and "BroadcastExchange" in plan
    ), plan


def test_hits_rounds_are_linear_joins(spark):
    """graph_hits: 3 unrolled rounds = edge-list equi-joins + hash aggs
    on the ARTIFACT edge frame (r13: _hits_edges, a write-once parquet)
    — no cartesian, and no round may re-derive the orders x lineitem
    edge build from the raw fixtures."""
    plan = formatted_plan(_q("graph_hits", spark))
    assert "CartesianProduct" not in plan
    assert ".graph_index" in plan, plan
    assert "orders.parquet" not in plan, plan
    assert "lineitem.parquet" not in plan, plan


def test_holt_single_scan_bounded_fold(spark):
    """ts_holt_forecast: one events scan into the |types|x|days| rollup;
    the recurrence is an array fold, never a self-join or per-step
    shuffle."""
    plan = formatted_plan(_q("ts_holt_forecast", spark))
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_capture_recapture_single_scan(spark):
    """stats_capture_recapture: both captures derive from ONE distinct
    (doc, token) pass — the halves are flags, not separate scans."""
    plan = formatted_plan(_q("stats_capture_recapture", spark))
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_ngram_novelty_copartitioned_join(spark):
    """text_ngram_novelty: the first-seen join reuses the (gram) key the
    min-agg already shuffled on — the plan must show the join without a
    cartesian and with one documents scan feeding both branches."""
    plan = formatted_plan(_q("text_ngram_novelty", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_new_returning_single_scan_shape(spark):
    """pipeline_new_returning_users: first-seen is a (user)-keyed agg
    joined back on user — equi-join only, no cartesian."""
    plan = formatted_plan(_q("pipeline_new_returning_users", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_simhash_banded_keeper_star_shape(spark):
    """dedup_simhash_banded: band pairing is keeper-star equi-joins —
    no cartesian / nested-loop pair materialization anywhere, one
    documents scan feeding the fingerprint build."""
    plan = formatted_plan(_q("dedup_simhash_banded", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hamming_broadcast_query_side(spark):
    """sim_search_hamming: corpus scan × broadcast signatures — the
    query side must never shuffle the corpus."""
    plan = formatted_plan(_q("sim_search_hamming", spark))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dim_profile_partial_aggregation(spark):
    """embedding_dim_profile: the 64-key moment agg must partial-combine
    before its exchange (map-side sums absorb the posexplode blowup)."""
    plan = formatted_plan(_q("embedding_dim_profile", spark))
    assert "partial_sum" in plan or "HashAggregate" in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_peak_concurrency_single_exchange_on_day(spark):
    """ts_peak_concurrency: the sweep is windowed on the day key; no
    cartesian, and the max join stays an equi-join."""
    plan = formatted_plan(_q("ts_peak_concurrency", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_croston_fold_no_self_join(spark):
    """ts_croston: the recurrence is an array fold over the dense grid —
    the only join is the grid left-join, never a per-step shuffle."""
    plan = formatted_plan(_q("ts_croston", spark))
    assert "CartesianProduct" not in plan
    # dense grid = types x span: one broadcast of the 1-row span frame
    assert "raise_error" in _q("ts_croston", spark)._jdf.queryExecution().optimizedPlan().toString()


def test_trimmed_mean_single_rank_exchange(spark):
    """stats_trimmed_mean: one exchange on the series key serves rank,
    count and cut windows; no join at all."""
    plan = formatted_plan(_q("stats_trimmed_mean", spark))
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_systematic_sample_single_window(spark):
    """sample_systematic: stratum rank + modulus filter — no join, one
    scan."""
    plan = formatted_plan(_q("sample_systematic", spark))
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_lead_time_one_fact_join_one_window(spark):
    """pipeline_order_lead_time: the orderkey equi-join is the only
    fact-fact shuffle; no cartesian."""
    plan = formatted_plan(_q("pipeline_order_lead_time", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_revenue_hhi_broadcasts_dims(spark):
    """pipeline_revenue_hhi: customer/nation dims broadcast — the fact
    side never shuffles for them."""
    plan = formatted_plan(_q("pipeline_revenue_hhi", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_dow_effects_totals_from_cells(spark):
    """ts_dow_effects: one events scan — type totals derive from the
    (type, dow) cells, never a second pass."""
    plan = formatted_plan(_q("ts_dow_effects", spark))
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_theil_sen_pair_join_is_equi_on_type(spark):
    """ts_theil_sen: the |days|^2 pair frame builds from an equi-join on
    the type key over the bounded daily rollup — never a cartesian over
    events."""
    plan = formatted_plan(_q("ts_theil_sen", spark))
    assert "CartesianProduct" not in plan
    # the daily rollup is checkpointed: events scans once, the three
    # consumers read the materialized |types|x|days| frame
    assert plan.count("Location: InMemoryFileIndex") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_forecast_backtest_single_scan_fold(spark):
    """ts_forecast_backtest: same one-scan rollup + array fold shape as
    ts_holt_forecast — the train split is a list slice, not a second
    scan; the bounded-series guard is in the plan."""
    df = _q("ts_forecast_backtest", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "raise_error" in df._jdf.queryExecution().optimizedPlan().toString()


def test_cluster_label_mix_bounded_join(spark):
    """embedding_cluster_label_mix: the label join runs on the
    assignment frame (vec_id equi-join), no cartesian."""
    plan = formatted_plan(_q("embedding_cluster_label_mix", spark))
    assert "CartesianProduct" not in plan


def test_sim_doc_topk_serves_signature_artifact(spark):
    """sim_doc_topk_minhash must read the materialized .neardup_index
    signature parquet — a replayed md5-lane signature build would show
    as a documents scan feeding the lane join."""
    plan = formatted_plan(_q("sim_doc_topk_minhash", spark))
    assert ".neardup_index" in plan, plan
    assert "documents.parquet" not in plan, plan
    assert "CartesianProduct" not in plan


def test_cluster_separation_serves_lloyd_artifact(spark):
    """embedding_cluster_separation: the assignment comes from the
    .kmeans_index artifact (no Lloyd replay — the 4 iterative rounds
    must not appear), and the k-row centroid self-join broadcasts."""
    plan = formatted_plan(_q("embedding_cluster_separation", spark))
    assert ".kmeans_index" in plan, plan
    assert "CartesianProduct" not in plan


def test_two_hop_reach_serves_pair_edge_artifact(spark):
    """graph_two_hop_reach: wedge join + anti-join both read the
    .graph_index pair-edge parquet (or its checkpoint), never the raw
    events fixture."""
    plan = formatted_plan(_q("graph_two_hop_reach", spark))
    assert ".graph_index" in plan or "ExistingRDD" in plan, plan
    assert "events.parquet" not in plan, plan
    assert "CartesianProduct" not in plan


def test_containment_positional_filter_in_join(spark):
    """dedup_containment_prefix: the PPJoin positional bound must
    evaluate INSIDE the candidate hash join (a residual predicate on the
    position columns), not as a post-join filter over materialized
    fan-out — and the join stays equi-shaped."""
    df = _q("dedup_containment_prefix", spark)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the residual predicate rides the join condition: both position
    # columns appear in a join's condition line, not in a Filter above it
    import re

    join_conds = [
        ln for ln in plan.splitlines()
        if "Join" in ln or re.search(r"condition", ln, re.I)
    ]
    assert any("ia" in ln and "jb" in ln for ln in join_conds), plan


def test_rank_sum_pair_single_exchange(spark):
    """stats_mann_whitney / stats_cliff_delta: the rank window and the
    tie-group PEER-frame window share the per-type partitioning AND the
    (cents, event_id) sort — one exchange, one sort, then the final agg
    reuses the partitioning (a (type, cents) partitionBy would cost a
    second exchange; the RANGE CURRENT ROW..CURRENT ROW frame is the
    single-exchange form of per-tie-group min/max/count)."""
    for key in ("stats_mann_whitney", "stats_cliff_delta"):
        df = _q(key, spark)
        assert count_in_plan(df, "Exchange") == 1, key
        plan = formatted_plan(df)
        assert plan.count("Sort ") <= 1, (key, plan)


# (Exchange, Scan parquet) of every op that runs one SQL text on both
# engines through sql_front.run_sql: each count is the one its
# Column-DSL body planned before the text replaced it, except where
# noted.
_SQL_FRONT_PLAN_SHAPE = {
    # the two-era suite
    "stats_welch_ttest": (2, 1),
    "stats_cohens_d_eras": (2, 1),
    "stats_brown_forsythe": (2, 1),
    "stats_mood_median": (1, 1),
    "stats_mann_whitney": (1, 1),
    "stats_cliff_delta": (1, 1),
    "stats_power_mde": (2, 1),
    "stats_cohens_h": (1, 1),
    "stats_mcnemar": (4, 2),
    "stats_wilcoxon_signed_rank": (2, 1),
    "stats_cvm_eras": (1, 1),
    # the event time-series battery
    "ts_autocorr": (1, 1),
    "stats_ljung_box": (3, 3),
    "ts_pacf": (2, 2),
    "ts_changepoint_cusum": (2, 2),
    "ts_sma_crossover": (1, 1),
    "ts_event_gaps": (1, 1),
    "ts_mann_kendall": (8, 4),
    "ts_var_es": (2, 1),
    "ts_outage_windows": (1, 1),
    "ts_hour_of_week_profile": (2, 1),
    "ts_dispersion_index": (2, 1),
    "ts_seasonal_naive_error": (2, 1),
    "ts_turning_points": (2, 1),
    # contingency and rank statistics
    "stats_join_cardinality": (5, 4),
    "stats_profile_drift": (2, 2),
    "stats_label_impurity": (2, 1),
    "stats_quantile_ci": (1, 1),
    "stats_gk_lambda": (14, 5),
    "stats_cohens_kappa": (1, 1),
    # profiling and event-statistics ops
    "stats_table_profile": (2, 1),
    "stats_benford_profile": (2, 1),
    "stats_mad_outliers": (3, 4),
    "stats_ks_eras": (4, 2),
    "stats_chi2_independence": (7, 4),
    "stats_psi_stability": (2, 1),
    "stats_ab_proportions": (1, 1),
    "stats_key_integrity": (8, 6),
    # one exchange more than the DataFrame plan: the total the shares
    # divide by is a window over the <= 5 band rows, not a count job
    "stats_event_lateness": (5, 2),
    "stats_trimmed_mean": (1, 1),
    "stats_srm_check": (1, 1),
    "stats_jarque_bera": (1, 1),
    "stats_trend_proportions": (1, 1),
    # fewer than the DataFrame plan's (10, 16): opens and closes come
    # from one unpivot of events, and the per-day peak is a window, not a
    # self-join
    "ts_peak_concurrency": (5, 4),
    "ts_bollinger_breakout": (2, 1),
    "ts_burstiness": (1, 1),
    "ts_seasonality_strength": (3, 1),
    # warehouse pipelines
    "join_runtime_filter": (1, 2),
    "pipeline_nation_volume": (1, 6),
    "pipeline_promo_share": (1, 2),
    "pipeline_market_share": (1, 7),
    "pipeline_product_profit": (1, 5),
    "pipeline_disjunctive_revenue": (1, 2),
    "pipeline_top_supplier": (3, 3),
    "pipeline_customer_distribution": (2, 2),
    "pipeline_forecast_revenue": (1, 1),
    "pipeline_shipmode_priority": (2, 2),
    "pipeline_part_velocity": (2, 2),
    "pipeline_order_aging": (2, 2),
    "pipeline_discount_depth": (1, 2),
    "pipeline_returns_rate": (1, 2),
    "pipeline_repeat_buyers": (3, 2),
    # one scan and one exchange more than the DataFrame plan: the era
    # boundary is a scalar subquery over lineitem, not a collect() job
    # run while the op is built
    "pipeline_price_volume_bridge": (3, 3),
    "pipeline_discount_elasticity": (1, 2),
    "pipeline_backlog_burndown": (4, 3),
    "pipeline_nation_trade_balance": (2, 5),
    "pipeline_fill_rate": (1, 2),
    "pipeline_brand_supplier_hhi": (4, 4),
    "pipeline_price_dispersion": (2, 1),
    "pipeline_new_vs_repeat_revenue": (2, 1),
    "pipeline_vendor_consolidation_savings": (3, 1),
    # subquery pipelines
    "pipeline_large_volume_orders": (2, 4),
    "pipeline_dormant_accounts": (2, 3),
    "pipeline_late_shipment_priority": (1, 2),
    "pipeline_mincost_supplier": (1, 5),
    "pipeline_important_part_share": (4, 6),
    "pipeline_supplier_part_counts": (3, 3),
    "pipeline_small_qty_revenue": (2, 3),
    "pipeline_promotion_suppliers": (2, 5),
    "pipeline_waiting_suppliers": (2, 3),
    # set operations
    "set_union": (1, 2),
    "set_union_all": (0, 2),
    "set_intersect": (1, 2),
    "set_intersect_all": (1, 2),
    "set_except": (1, 2),
    "set_except_all": (1, 2),
    # projection, filter, sort, limit
    "project_select": (0, 1),
    "filter_pred": (0, 1),
    "sort_global": (1, 1),
    "limit_topk": (0, 1),
    # extended windows
    "win_range_interval": (1, 1),
    "win_distribution": (1, 1),
    "win_fill_forward": (1, 1),
    "win_rolling_stats": (1, 1),
    "win_cumulative_distinct": (1, 1),
    "win_islands_consecutive": (2, 1),
    "win_pattern_rises": (1, 1),
    "win_clamped_cumsum": (1, 1),
    "win_drawdown": (1, 1),
    "win_rolling_corr": (1, 1),
    "win_time_weighted_avg": (1, 1),
    "win_ratio_to_report": (2, 1),
    "win_active_streak_latest": (2, 1),
    # behavioral pipelines
    "pipeline_funnel_conversion": (6, 6),
    "pipeline_basket_affinity": (5, 0),
    "pipeline_rfm_segments": (2, 2),
    "pipeline_abc_pareto": (2, 2),
    "pipeline_yoy_growth": (2, 3),
    "pipeline_attribution_touch": (1, 2),
    "pipeline_event_transitions": (3, 1),
    "pipeline_dau_mau_stickiness": (4, 2),
    "pipeline_cohort_ltv": (3, 1),
    "pipeline_interpurchase_time": (1, 1),
    "pipeline_session_paths": (3, 1),
    "pipeline_event_trigrams": (2, 1),
    "pipeline_audience_overlap": (7, 4),
    "pipeline_skyline_frontier": (4, 2),
    "pipeline_segment_migration": (5, 2),
    "pipeline_new_returning_users": (3, 2),
    "pipeline_order_lead_time": (1, 2),
    # rank tests over a checkpointed cell frame (a run_sql stage): the
    # main text reads the checkpoint, so it scans no parquet file
    "stats_kendall_tau_binned": (6, 0),
    "stats_spearman_binned": (9, 0),
    "stats_friedman": (13, 0),
    "stats_page_trend": (9, 0),
    "stats_jonckheere_terpstra": (7, 0),
    "stats_cochran_q": (6, 0),
}


@pytest.mark.parametrize("key", sorted(_SQL_FRONT_PLAN_SHAPE))
def test_era_ops_scan_events_once_per_use(spark, key):
    """Each op runs one SQL text on both engines, and its Spark plan
    keeps the exchange and scan counts of the DataFrame plan it
    replaced. For the two-era ops this also pins that the Spark
    rendering takes the era boundary as a literal, not the oracle's
    scalar subquery, so no span scan or exchange joins the plan."""
    df = _q(key, spark)
    assert (
        count_in_plan(df, "Exchange"),
        count_in_plan(df, "Scan parquet"),
    ) == _SQL_FRONT_PLAN_SHAPE[key], formatted_plan(df)


def test_brand_pipelines_broadcast_part(spark):
    """price_volume_bridge / discount_elasticity: part is a dim — the
    fact side must not shuffle for the join."""
    for key in ("pipeline_price_volume_bridge", "pipeline_discount_elasticity"):
        plan = formatted_plan(_q(key, spark))
        assert "BroadcastHashJoin" in plan, (key, plan)
        assert "SortMergeJoin" not in plan, (key, plan)


def test_bollinger_window_is_day_grain(spark):
    """ts_bollinger_breakout: the trailing-band window must consume the
    (type, day) AGGREGATE, not the event stream — partial+final agg
    pair below the Window, and exactly two exchanges (day agg, final
    type agg reuses the window partitioning)."""
    df = _q("ts_bollinger_breakout", spark)
    plan = formatted_plan(df)
    wpos = plan.find("Window")
    assert wpos > 0, plan
    assert "HashAggregate" in plan[wpos:], plan  # agg below the window
    assert count_in_plan(df, "Exchange") <= 2, plan


def test_pps_single_stratum_exchange(spark):
    """sample_pps_systematic: running sum, stratum total, and quota are
    three frames over ONE source-key partitioning — one exchange."""
    df = _q("sample_pps_systematic", spark)
    assert count_in_plan(df, "Exchange") == 1, formatted_plan(df)


def test_seasonal_naive_single_window_pass(spark):
    """ts_seasonal_naive_error: both day-value lags must come from ONE
    window pass over the daily aggregate — no self-joins (the join form
    scanned events three times) and exactly one file scan."""
    df = _q("ts_seasonal_naive_error", spark)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert count_in_plan(df, "Scan parquet") == 1, plan
    assert count_in_plan(df, "Window") == 1, plan  # both frames, one operator


def test_centroid_drift_dim_bounded_join(spark):
    """embedding_centroid_drift: the (label, dim) era self-join runs on
    dim-bounded frames (2·64·|labels| rows) — broadcast, never a
    corpus-sized shuffle join."""
    df = _q("embedding_centroid_drift", spark)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_every_whole_frame_window_is_dim_window_marked():
    """Convention guard (VERDICT r11 blemish #2): every DELIBERATELY
    partition-less window — ``Window.orderBy(...)`` or the empty
    ``Window.partitionBy()`` — must be wrapped in ``catalog.dim_window``
    with its bound stated inline, so "No Partition Defined for Window"
    warnings are all accounted for and a new whole-frame window cannot
    land unreviewed. Source scan, not runtime: the marker is identity at
    runtime by design.

    The SQL texts Spark runs through ``sql_front.run_sql`` are held to
    the same rule: every ``OVER (...)`` or ``WINDOW w AS (...)`` spec
    without ``PARTITION BY`` needs a ``-- dim_window: <bound>`` comment
    within the 4 lines before it. DuckDB-only oracle strings are not
    scanned: only the texts named in a ``run_sql`` call are."""
    import pathlib
    import re

    root = (
        pathlib.Path(__file__).parent.parent / "connor_fun_streamproducer_spark"
    )
    pat = re.compile(r"Window\.orderBy\(|Window\.partitionBy\(\)")
    offenders = []
    for path in sorted(root.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if not pat.search(line):
                continue
            ctx = "\n".join(lines[max(0, i - 4) : i + 1])
            if "dim_window(" not in ctx:
                offenders.append(f"{path.name}:{i + 1}: {line.strip()}")
    for where, text in _run_sql_texts(root):
        offenders += [f"{where}: {spec}" for spec in _unmarked_whole_frame_specs(text)]
    assert not offenders, (
        "whole-frame windows missing the dim_window bound marker:\n"
        + "\n".join(offenders)
    )


def _run_sql_texts(root):
    """(``module.NAME``, text) for every ``run_sql(spark, sf_dir, NAME)``
    call in the package, NAME resolved in the calling module, and for
    every stage text its ``stages=`` argument names (a dict literal of
    names, or the name of a dict)."""
    import ast
    import importlib

    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        names, stage_args = set(), []
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None)) == "run_sql"
            ):
                continue
            if len(node.args) > 2 and isinstance(node.args[2], ast.Name):
                names.add(node.args[2].id)
            stage_args += [kw.value for kw in node.keywords if kw.arg == "stages"]
        if not names and not stage_args:
            continue
        module = ".".join(path.relative_to(root.parent).with_suffix("").parts)
        mod = importlib.import_module(module)
        for name in sorted(names):
            yield f"{path.name}:{name}", getattr(mod, name)
        for arg in stage_args:
            if isinstance(arg, ast.Name):
                for stage, text in getattr(mod, arg.id).items():
                    yield f"{path.name}:{arg.id}[{stage!r}]", text
            else:
                for value in arg.values:
                    yield f"{path.name}:{value.id}", getattr(mod, value.id)


def _unmarked_whole_frame_specs(text):
    """The window specs in ``text`` with no PARTITION BY and no
    ``-- dim_window:`` comment within the 4 lines before them."""
    import re

    out = []
    for m in re.finditer(r"\bOVER\s*\(|\bWINDOW\s+\w+\s+AS\s*\(", text, re.IGNORECASE):
        depth, end = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(text[end], 0)
            end += 1
        spec = text[m.start() : end]
        if re.search(r"\bPARTITION\s+BY\b", spec, re.IGNORECASE):
            continue
        before = text[: m.start()].split("\n")
        if not any(re.match(r"\s*--\s*dim_window:\s*\S", ln) for ln in before[-5:]):
            out.append(" ".join(spec.split()))
    return out
