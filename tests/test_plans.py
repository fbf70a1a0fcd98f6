"""Physical-plan audits: the properties that keep these queries viable
at 100 TB must hold structurally, not by luck — pushdown reaches the
scan, dims broadcast, top-k never sorts globally, projections prune."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def _plan(spark, sf_dir, name) -> str:
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_watermark_filter_pushes_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "watermark_incremental_filter")
    # the range predicate must reach the parquet reader, not sit above
    # a conversion expression
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts," in plan


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "star_join_revenue")
    # every dim side is a broadcast join — the fact is never shuffled
    # for a dim lookup
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_star_join_never_forces_broadcast_of_scaled_tables(spark, sf_dir):
    """Broadcast HINTS are allowed only on fixed-cardinality dims
    (nation=25, region=5). customer/part scale with SF — a forced
    broadcast OOMs at the 100 TB design point, so their strategy must
    come from size stats / AQE (which still broadcasts them at small
    SF, as the physical-plan tests above assert)."""
    for name, n_hints in (
        ("star_join_revenue", 2),     # nation + region only
        ("top_orders_by_revenue", 0),  # filtered customer: AQE's call
        ("gold_hours_watched", 0),     # part projection: stats' call
        ("supplier_diversity_by_type", 0),
    ):
        df = entry.queries()[name](spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        hints = analyzed.count("ResolvedHint")
        assert hints == n_hints, f"{name}: {hints} broadcast hints, want {n_hints}"
        # and the hint-free sides still end up broadcast at this SF
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in phys


def test_global_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "global_topk_events")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # per-partition heaps, no shuffle


def test_cosine_topk_never_shuffles_corpus(spark, sf_dir):
    plan = _plan(spark, sf_dir, "similarity_cosine_topk")
    assert "TakeOrderedAndProject" in plan
    # the only exchange is broadcasting the 1-row query vector
    assert "Exchange hashpartitioning" not in plan


def test_join_prunes_columns_at_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "gold_hours_watched")
    # lineitem scan must read only the 3 referenced columns
    import re

    m = re.search(r"lineitem\.parquet\].*?ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_partkey", "l_quantity", "l_shipdate"}


def test_rollup_uses_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "gold_daily_rollup")
    # map-side combine before the exchange: the shuffle carries
    # (key, partial-agg) rows, not events
    assert "partial_" in plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_minhash_lsh_join_is_hash_join_on_band_keys(spark, sf_dir):
    """The near-dup self-join must be an equi join on (band, key) —
    a cartesian/BNL join here means comparing all pairs, which is
    exactly what LSH exists to avoid."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_embedding_near_dup_join_is_equi_on_bucket(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Co-located join: same key, same bucket count → no Exchange on
    either side (the bucketing scale story, sources/writers.py)."""
    from wistia_etl_pipeline_spark.session import load_table
    from wistia_etl_pipeline_spark.sources.writers import write_bucketed

    events = load_table(spark, sf_dir, "events")
    write_bucketed(events.select("event_id", "user_id", "value"),
                   "ev_bucketed", buckets=4, key="user_id", sort_by="user_id")
    write_bucketed(events.select("user_id", "event_type"),
                   "et_bucketed", buckets=4, key="user_id", sort_by="user_id")
    a = spark.table("ev_bucketed")
    b = spark.table("et_bucketed")
    joined = a.join(b, "user_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() > 0


def test_simhash_pairs_join_is_equi_on_bands(spark, sf_dir):
    """SimHash pair production must band-join, never compare all pairs."""
    plan = _plan(spark, sf_dir, "dedup_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_degree_folds_pairs_with_partial_agg(spark, sf_dir):
    """The bounded degree twin must keep the pair miner's equi-band
    join (no cartesian) AND fold the symmetrized pair stream through a
    hash aggregate with a map-side partial (two HashAggregate levels
    on the degree key), so nothing quadratic reaches the sink."""
    plan = _plan(spark, sf_dir, "dedup_simhash_degree")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial_min" in plan


def test_correlated_subquery_decorrelates(spark, sf_dir):
    """The Q2-shaped correlated MIN must plan as aggregate + rejoin
    (decorrelation), never nested-loop re-execution per outer row."""
    plan = _plan(spark, sf_dir, "min_cost_supplier_q2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_q7_date_window_pushes_to_scan(spark, sf_dir):
    """The Q7 ship-date window must reach the lineitem parquet scan
    (l_shipdate is micros-NTZ — no conversion expression hides it)."""
    plan = _plan(spark, sf_dir, "volume_shipping_q7")
    # (the executed-plan string truncates long filter lists, so assert
    # the lower bound only — both bounds push together or not at all)
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_tpch_subquery_pack_decorrelates_to_hash_joins(spark, sf_dir):
    # Q4 EXISTS -> semi; Q16 NOT IN -> null-aware anti; Q18 IN -> semi;
    # Q22 NOT EXISTS -> anti. All must be hash joins — a
    # BroadcastNestedLoopJoin here means decorrelation failed and the
    # query re-executes the inner block per row at scale.
    for name in (
        "order_priority_q4",
        "supplier_cnt_q16",
        "large_volume_customers_q18",
        "global_sales_opportunity_q22",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "LeftSemi" in plan or "LeftAnti" in plan, name


def test_q13_outer_join_keeps_zero_order_customers(spark, sf_dir):
    plan = _plan(spark, sf_dir, "customer_distribution_q13")
    assert "LeftOuter" in plan


def test_cc_star_rounds_are_hash_joins(spark):
    from wistia_etl_pipeline_spark.functions.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 30)], "src long, dst long")
    out = connected_components(edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "stratified_sample_docs")
    assert "Exchange" not in plan


def test_wave3_subqueries_decorrelate_to_hash_joins(spark, sf_dir):
    # Q17 correlated scalar AVG -> per-partkey aggregate + rejoin;
    # Q20 nested IN -> semi chain; Q15 scalar max -> window over the
    # aggregate (Spark side has no subquery at all). None may fall
    # back to a per-row nested loop.
    for name in (
        "top_supplier_q15",
        "small_qty_revenue_q17",
        "excess_stock_suppliers_q20",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    assert "LeftSemi" in _plan(spark, sf_dir, "excess_stock_suppliers_q20")


def test_q19_disjunction_derives_scan_filters(spark, sf_dir):
    # The OR-of-conjunctions must still produce derivable single-table
    # predicates at the part scan (brand in-set / size envelope) —
    # without them the join reads the whole dimension.
    plan = _plan(spark, sf_dir, "disjunctive_pushdown_q19")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # derived branch envelopes reach BOTH parquet scans as pushed ORs
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity" in plan
    assert "Or(Or(And(EqualTo(p_brand" in plan


def test_q21_window_form_scans_lineitem_once(spark, sf_dir):
    # The hand-decorrelated Q21 computes both correlated probes as
    # windows over the single l_orderkey shuffle — the aggregate+rejoin
    # alternative scans lineitem twice (late-filter pushdown makes the
    # subtrees non-identical, defeating ReusedExchange).
    plan = _plan(spark, sf_dir, "waiting_suppliers_q21")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_decontaminate_is_semi_join_on_shingles(spark, sf_dir):
    # Training x benchmark overlap must stay an equi semi join on the
    # shingle value — never a pairwise document comparison.
    plan = _plan(spark, sf_dir, "decontaminate_ngrams")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_centroid_profile_partial_aggregates_before_shuffle(spark, sf_dir):
    # The posexplode multiplies rows by n_dims; the partial aggregate
    # must sit below the exchange so only |labels|x|dims| rows shuffle.
    plan = _plan(spark, sf_dir, "embedding_centroid_profile")
    assert plan.count("HashAggregate") >= 2
    gen = plan.index("Generate")
    ex = plan.index("Exchange")
    # Exchange appears above (before, in toString order) the Generate
    # only if partial aggregation separates them; the Generate must not
    # feed the exchange directly.
    assert "HashAggregate" in plan[ex:gen]


def test_sequence_packing_single_shuffle(spark, sf_dir):
    # window(source) and groupBy(source, bin) share the source
    # partitioning: one exchange total.
    plan = _plan(spark, sf_dir, "sequence_packing")
    assert plan.count("Exchange") == 1


def test_q6_is_pure_scan_aggregate(spark, sf_dir):
    # No join; every predicate is a pushed single-column comparison and
    # the scan reads only the 4 referenced columns. (The default plan
    # toString truncates scan metadata at 100 chars — widen it so the
    # PushedFilters list is actually inspectable.)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(spark, sf_dir, "forecast_revenue_q6")
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "Join" not in plan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate" in plan


def test_q3_q10_topk_avoid_global_sort(spark, sf_dir):
    for name in ("unshipped_orders_q3", "returned_items_q10"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "GlobalSort" not in plan and "Sort [revenue" not in plan, name


def test_q5_cycle_join_carries_nation_residual(spark, sf_dir):
    # The supplier join must carry BOTH equalities (suppkey + the
    # same-nation constraint) as hash-join keys/residual — never a
    # nested loop closing the cycle.
    plan = _plan(spark, sf_dir, "local_supplier_volume_q5")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "s_nationkey" in plan and "c_nationkey" in plan


def test_vocab_topk_avoids_global_sort(spark, sf_dir):
    """Vocabulary top-100 must plan per-partition heaps over the
    aggregated counts (TakeOrderedAndProject), never a full sort of a
    corpus-sized vocabulary."""
    plan = _plan(spark, sf_dir, "vocab_top_tokens")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_commonness_join_has_no_forced_broadcast(spark, sf_dir):
    """The token→vocab join must not hint a broadcast: a corpus
    vocabulary scales with the corpus (same policy as SF-scaled dims).
    Partial counts must still combine below the exchange."""
    df = entry.queries()["doc_token_commonness"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in phys  # map-side combine before shuffle


def test_suites_have_no_cartesian_or_bnl(spark, sf_dir):
    """The compound suites union four/five branches under one plan —
    every branch must stay an equi hash join / aggregate; a planner
    regression to nested-loop in any branch would poison the shared
    hash silently at the driver."""
    for name in ("rank_set_suite", "behavioral_suite"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_behavioral_suite_retention_joins_on_day_grain(spark, sf_dir):
    """Retention must self-join the deduped (user, day) grain, never raw
    events: the plan's join inputs must both sit above distinct
    aggregates (HashAggregate), keeping the join |users|x|days|-sized."""
    plan = _plan(spark, sf_dir, "behavioral_suite")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    # the event-level anti-pattern would show a join keyed only on
    # user_id with raw FileScan children and no distinct aggregate
    assert plan.count("HashAggregate") >= 4


def test_canary_window_nulls_single_exchange(spark, sf_dir):
    """The null-order canary must stay one shuffle (the user window) —
    it exists to isolate a rendering axis, not to cost anything."""
    plan = _plan(spark, sf_dir, "canary_window_nulls")
    assert plan.count("Exchange hashpartitioning") == 1


def test_mixture_epochs_is_shuffle_free(spark, sf_dir):
    # replication is a scan-local explode(sequence) — any Exchange here
    # means the mixing step added a corpus-sized shuffle it never needs
    plan = _plan(spark, sf_dir, "dataset_mixture_epochs")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode actually happens


def test_semantic_dedup_pair_join_is_equi_on_cluster(spark, sf_dir):
    # the within-cluster self-join must plan as a hash/merge equi join
    # on cluster_id — a nested-loop fallback is the all-pairs scan the
    # blocking key exists to prevent
    plan = _plan(spark, sf_dir, "semantic_dedup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_has_no_broadcast_hint_on_vocab(spark, sf_dir):
    # the df (vocabulary) side scales with the corpus — strategy must
    # come from stats/AQE, never a forced broadcast (same policy as the
    # SF-scaled star-join sides)
    df = entry.queries()["doc_tfidf_keywords"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pareto_frontier_windows_only_the_aggregated_points(spark, sf_dir):
    """The skyline's only window must run over the (n_chars → max
    n_tok) aggregate — value-cardinality-bounded — never the raw
    corpus, and the winners must flow back via a semi join (no
    dominance self-join / BNL anywhere)."""
    df = entry.queries()["pareto_doc_frontier"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    # the window's input is the aggregated points: a partial/final
    # aggregate pair sits below it (max per n_chars), and the raw
    # doc-grain frame reaches the output only through a semi join
    assert "partial_max" in plan or "max(" in plan
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cdc_window_is_per_document(spark, sf_dir):
    """The CDC cumulative-boundary window must be partitioned (by doc)
    — a global window here would serialize the corpus through one
    task."""
    df = entry.queries()["cdc_shared_passages"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    for m in re.finditer(r"Window \[[^\]]*\]", plan):
        assert "windowspecdefinition" in m.group(0)
    # every Window node partitions on the doc key (no empty PARTITION BY)
    assert "Window [" in plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "windowspecdefinition(__id" in analyzed or "windowspecdefinition('__id" in analyzed


def test_ssjoin_blocks_on_tokens_no_bnl(spark, sf_dir):
    """Candidate generation must be an equi join on prefix tokens with
    the size-ratio residual — never a nested-loop/cartesian pairing."""
    df = entry.queries()["ssjoin_prefix_filter"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_reuses_persisted_edges(spark, sf_dir):
    """Each PageRank round must read the edge+degree frame from the
    persisted copy (InMemoryTableScan), not re-mine the MinHash pairs
    three times."""
    df = entry.queries()["pagerank_dup_graph"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """VERDICT r4 #5: prove AQE's OptimizeSkewedJoin actually fires on
    the engine's deliberately skewed join — the runtime alternative to
    the manual salted paths. The pin requires the EXECUTED adaptive
    plan to carry the skew markers; lessons encoded in the query body:
    the non-skewed side must be a plain shuffle stage (aggregates in
    between block partition duplication), and the skewed side needs >1
    mapper (splits are [startMapIndex, endMapIndex) ranges)."""
    from wistia_etl_pipeline_spark import registry

    df = registry._QUERIES["aqe_skew_join_rollup"](
        spark, "/root/testdata/sf0.01"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan
    assert "skewed" in plan  # AQEShuffleRead ... skewed
    # and the session's defaults were NOT left lowered for the next
    # query: apply_runtime_confs resets the demo's threshold overrides
    from wistia_etl_pipeline_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    assert (
        spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        )
        == "256m"
    )


def test_bucketed_join_rollup_plan_is_exchange_free(spark):
    """The registry's layout-family row: with broadcast disabled (the
    100 TB regime where neither side fits), the bucketed fact⋈profile
    join must read matching buckets pairwise — no Exchange under the
    join, no Sort either (bucket files are pre-sorted on the key)."""
    from wistia_etl_pipeline_spark import registry

    # Build FIRST, then disable broadcast: the query callable applies
    # RUNTIME_CONFS (which now pins the default broadcast threshold for
    # the bloom demo's leak-proofing), so a threshold set before the
    # build would be clobbered. Physical planning happens at collect(),
    # which sees the -1.
    df = registry._QUERIES["bucketed_join_rollup"](
        spark, "/root/testdata/sf0.001"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    # the join inputs scan bucketed tables directly: the only exchanges
    # allowed are AFTER the join (the event_type aggregate)
    import re

    smj = re.search(r"SortMergeJoin.*", plan, re.S)
    assert smj is not None, plan[:800]
    below = smj.group(0)
    # no hash-exchange on the join key below the join
    assert "Exchange hashpartitioning(user_id" not in below
    assert "SelectedBucketsCount" in plan


def test_bloom_filter_join_prunes_fact_scan(spark):
    """Runtime-filter demo pin: InjectRuntimeFilter must turn the
    selective orders predicate into (a) a bloom_filter_agg built over
    the urgent orderkeys and (b) a might_contain filter evaluated on
    the LINEITEM side before its shuffle — the row-level pruning that
    replaces broadcast-join pruning once the dimension side outgrows
    broadcast range. Also pins the leak-proofing: the size-gate
    override must be reset by the next apply_runtime_confs."""
    from wistia_etl_pipeline_spark import registry

    df = registry._QUERIES["bloom_filter_join_prune"](
        spark, "/root/testdata/sf0.01"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    assert "l_orderkey" in plan.split("might_contain", 1)[1][:200]
    from wistia_etl_pipeline_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
        == "10GB"
    )
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10MB"


def test_dpp_prunes_fact_partitions(spark):
    """DPP demo pin: the executed fact scan must carry a
    dynamicpruningexpression partition filter (runtime pruning via the
    reused dim broadcast), and the scan's partitions-read metric must
    show only the Monday partitions were touched (5 of 30 at sf0.01) —
    the quantitative proof that 6/7 of the IO never happened."""
    from wistia_etl_pipeline_spark import registry

    df = registry._QUERIES["dpp_partition_prune_join"](
        spark, "/root/testdata/sf0.01"
    )
    # collect() (not count()) — count() spawns a SEPARATE query
    # execution, leaving this df's own executed plan unrun and its
    # scan metrics at zero.
    assert len(df.collect()) == 5  # number of Mondays

    def walk(n):
        yield n
        ch = n.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))
        if "QueryStage" in n.nodeName():
            yield from walk(n.plan())

    final = df._jdf.queryExecution().executedPlan().executedPlan()
    fact_scans = [
        n
        for n in walk(final)
        if n.nodeName().strip() == "Scan parquet"
        and "/fact" in n.toString()
    ]
    assert fact_scans, "fact FileSourceScan not found in final plan"
    scan = fact_scans[0]
    assert "dynamicpruning" in scan.toString()
    metrics = scan.metrics()
    it = metrics.keysIterator()
    kv = {}
    while it.hasNext():
        k = it.next()
        kv[k] = metrics.apply(k).value()
    # "numPartitions" is FileSourceScanExec's partitions-read metric
    assert kv.get("numPartitions") == 5, kv


def test_aqe_converts_smj_to_broadcast_at_runtime(spark):
    """The third member of the runtime-replanning trio (skew split,
    bloom/DPP runtime filters, and THIS — join-strategy conversion):
    an aggregate derived from a big fact has no trustworthy static
    size estimate, so the planner picks a sort-merge join; AQE then
    sees the materialized shuffle stage is tiny and rewrites the join
    to broadcast-hash mid-query. Pin: SMJ in the initial plan, BHJ in
    the final adaptive plan. The conf split is the documented
    mechanism: the STATIC threshold (-1) models the 100 TB regime
    where compile-time estimates of derived frames can't be trusted,
    while the ADAPTIVE threshold keeps the default 10MB so only
    MEASURED post-shuffle sizes may trigger a broadcast."""
    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    # derived dim: post-shuffle size is a few KB, static estimate isn't
    purchasers = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .where(F.col("n_purchases") >= 10)
    )
    joined = (
        events.join(purchasers, "user_id")
        .groupBy("event_type")
        .agg(F.sum("n_purchases").alias("s"))
    )
    try:
        joined.collect()
        exec_ = joined._jdf.queryExecution().executedPlan()
        initial = exec_.initialPlan().toString()
        final = exec_.toString()
        assert "SortMergeJoin" in initial
        assert "BroadcastHashJoin" in final
        assert "isFinalPlan=true" in final
    finally:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        apply_runtime_confs(spark)  # restores autoBroadcastJoinThreshold


def test_lateral_join_decorrelates_to_window_group_limit(spark, sf_dir):
    """The r8 correlated LATERAL (... ORDER BY ... LIMIT 3) must plan
    as ONE window top-k over a single hash exchange plus a broadcast
    of the 25-row dim — never per-outer-row subquery execution (no
    nested loop, no cartesian). WindowGroupLimit is the marker that
    the rank<=3 filter was pushed into the sort itself."""
    plan = _plan(spark, sf_dir, "lateral_join_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_recursive_cte_plans_as_union_loop(spark, sf_dir):
    """The r8 WITH RECURSIVE query must plan through the engine-owned
    loop operator (UnionLoop anchor + UnionLoopRef per-round frontier),
    with the 9-root seed filter pushed into the anchor's scan and the
    final per-depth aggregate partial (map-side) before its exchange."""
    plan = _plan(spark, sf_dir, "recursive_cte_bom")
    assert "UnionLoop" in plan
    assert "UnionLoopRef" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_pivot_sql_two_level_agg_no_distinct_prescan(spark, sf_dir):
    """SQL PIVOT with an explicit IN list plans as the measured
    two-level aggregate — count at (group, pivot-key) grain, then
    pivotfirst at group grain — with NO distinct-values pre-scan job
    (the implicit-values DataFrame pivot pays one): exactly two
    exchanges, the second at already-aggregated group grain, one scan.
    The UNPIVOT side is a shuffle-free Expand."""
    plan = _plan(spark, sf_dir, "sql_pivot_unpivot_syntax")
    assert plan.count("Exchange") == 2, plan
    assert "pivotfirst" in plan
    assert plan.count("FileScan") == 1  # no distinct pre-scan
    assert "Expand" in plan  # the UNPIVOT side, generator not shuffle


def test_dynamic_gap_session_plan_shuffles_once_on_user(spark, sf_dir):
    """The per-row gap expression must not change the exchange bill:
    one shuffle on user_id feeding the session-window aggregate (plus
    AQE reads), never a cartesian or a second data shuffle."""
    plan = _plan(spark, sf_dir, "session_window_dynamic_gap")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SessionWindow" in plan or "session_window" in plan


def test_sql_udf_scalar_inlines_to_scan_filter(spark, sf_dir):
    """A SQL scalar UDF is macro-expanded by the optimizer — the
    `WHERE played(value) = 1` predicate must reach the parquet scan
    as a plain `value > 100.0` data filter (no function boundary, no
    Python worker, unbroken codegen), the property that makes the
    surface first-class at 100 TB."""
    plan = _plan(spark, sf_dir, "sql_udf_scalar_surface")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and any("100.0" in ln for ln in scan), plan
    assert plan.count("Exchange hashpartitioning") == 1, plan  # one agg shuffle


def test_sql_udf_table_lateral_is_plain_generate(spark, sf_dir):
    """The RETURNS TABLE UDF under LATERAL must compile to the same
    Generate(explode(sequence)) the inline spelling would — no Python
    stage, no nested-loop join against a materialized function
    result; the spine explodes the anchors frame only."""
    plan = _plan(spark, sf_dir, "sql_udf_table_surface")
    assert "Generate explode" in plan, plan
    assert "BatchEvalPython" not in plan and "PythonUDTF" not in plan
    assert "CartesianProduct" not in plan
