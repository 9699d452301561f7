"""Physical-plan assertions: the scale properties we claim (pushdown,
broadcast, rank-limit, top-N, single-expand multi-distinct) must be
visible in the optimized plan, not just intended. These are the
codified `.explain` audits — if a refactor regresses a plan shape, a
test fails, not a benchmark."""

import contextlib
import io

from impala_hashset_count_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan(spark, name: str) -> str:
    return explain_str(all_queries()[name].fn(spark, SF))


def test_filter_and_projection_reach_parquet_scan(spark):
    plan = _plan(spark, "filter_project_pushdown")
    assert "PushedFilters" in plan
    # the quantity predicate is pushed, not evaluated post-scan only
    assert "GreaterThanOrEqual(l_quantity,45" in plan
    # column pruning: the scan schema carries only the needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema


def test_star_join_broadcasts_bounded_dims(spark):
    plan = _plan(spark, "join_star_revenue")
    assert "BroadcastHashJoin" in plan  # nation/region explicitly hinted
    # fact-side partial re-aggregation happens BEFORE the join chain:
    # the orderkey-grain HashAggregate must appear under the first join
    assert plan.count("HashAggregate") >= 4  # partial+final x (pre-agg, final agg)


def test_topk_plans_rank_limit_pushdown_and_topn(spark):
    plan = _plan(spark, "topk_per_customer_and_global")
    # Spark's WindowGroupLimit keeps <=k rows per partition pre-shuffle
    assert "WindowGroupLimit" in plan
    # the global branch is TakeOrderedAndProject, never a full sort
    assert "TakeOrderedAndProject" in plan


def test_multi_distinct_expand_arm_is_single_pass(spark):
    # N DISTINCT aggregates rewritten by Catalyst via one Expand node
    # over one parquet scan — for the arm and the registered entry
    import re

    from impala_hashset_count_spark.plans.parity import multi_distinct_expand

    for fn in (multi_distinct_expand, all_queries()["multi_distinct_lineitem"].fn):
        plan = explain_str(fn(spark, SF))
        assert "Expand" in plan
        scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
        assert len(scans) == 1


def test_faithful_udaf_preceded_by_jvm_distinct(spark):
    plan = _plan(spark, "hashset_count_faithful")
    # the pandas UDAF (ArrowAggregatePython in Spark 4.x) must sit on
    # top of a codegen'd distinct (partial dedup), not raw rows
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert "HashAggregate" in plan


def test_chunking_is_shuffle_free(spark):
    # chunk_documents is a pure per-row explode: any Exchange in the
    # plan means a regression to a shuffling formulation. Asserted on
    # the operator's own plan (the registry entry now also carries the
    # shard-export 'epoch' branch, whose range write/order window
    # shuffles by design).
    from impala_hashset_count_spark.operators.packing import chunk_documents
    from impala_hashset_count_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    fixed = chunk_documents(d, "doc_id", "text", chunk_tokens=64)
    slide = chunk_documents(d, "doc_id", "text", chunk_tokens=32, overlap=8)
    for df in (fixed, slide):
        plan = explain_str(df)
        assert "Exchange" not in plan
        assert "Generate explode" in plan or "Generate" in plan


def test_packing_shuffles_once_on_group_key(spark):
    plan = _plan(spark, "train_pack_greedy")
    # one hash-partitioning exchange on the group key feeds the Arrow
    # grouped-map; token counting stays JVM-side below it
    import re

    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) == 1
    assert "hashpartitioning(lang" in plan
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan


def test_q3_filters_reach_all_scans(spark):
    plan = _plan(spark, "tpch_q3_shipping_priority")
    # each of the three scans carries its own pushed predicate
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert plan.count("PushedFilters: [") >= 3
    assert "TakeOrderedAndProject" in plan


def test_correlated_subquery_is_decorrelated(spark):
    plan = _plan(spark, "subquery_corr_avg_qty")
    # Catalyst rewrites the per-row scalar subquery into an aggregate
    # joined on the correlation key — no per-row subplan execution
    assert "Subquery" not in plan
    assert "HashAggregate" in plan


def test_window_family_single_exchange(spark):
    import re

    plan = _plan(spark, "window_customer_orders")
    # five window members (row_number, running sum, lag, rank, RANGE
    # trailing spend) share one partitioning: exactly ONE shuffle
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) == 1
    assert "hashpartitioning(o_custkey" in plan


def test_text_analysis_single_scan_no_shuffle(spark):
    import re

    plan = _plan(spark, "text_analysis_documents")
    # the whole per-document text family is one projection pass: no
    # hash/range shuffle anywhere. The only permissible Exchange is
    # spread_small's size-gated ROUND-ROBIN local-parallelism
    # repartition (absent above its size cap), same convention as
    # test_simhash_signatures_no_groupby_shuffle.
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    exchanges = re.findall(r"Exchange \w+", plan)
    assert all("RoundRobin" in e for e in exchanges), exchanges
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 1


def test_simhash_signatures_no_groupby_shuffle(spark):
    from impala_hashset_count_spark.operators.dedup import simhash_signatures
    from impala_hashset_count_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    plan = explain_str(simhash_signatures(d, "doc_id", "text"))
    # columnar formulation: the signature derives per-row from the token
    # hash array — no explode+groupBy shuffle of the O(total tokens)
    # stream. The only permissible Exchange is spread_small's size-gated
    # round-robin local-parallelism repartition (absent at scale).
    assert "hashpartitioning" not in plan
    assert "Generate" not in plan  # no explode anywhere


def test_bruteforce_topk_broadcasts_queries_not_corpus(spark):
    plan = _plan(spark, "similarity_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the corpus must not be globally sorted — ranking is windowed
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_text_analysis_no_hof_inlining_regression(spark):
    """Regression lock for the quadratic HOF-inlining bug (150x at
    sf0.1): tokenization must appear exactly once in the plan (the
    staged __toks projection), and the winnowing block lambda must
    slice a materialized attribute — never an inline transform that
    would recompute the whole rolling-hash array per block."""
    import re

    plan = _plan(spark, "text_analysis_documents")
    assert len(re.findall(r"split\(trim\(", plan)) == 1, "tokenize once"
    assert not re.search(r"array_min\(slice\(transform", plan), (
        "winnowing must slice the materialized hash array"
    )


def test_simhash_md5_tier_same_shuffle_free_shape(spark):
    """The oracle-checkable md5 hash tier must keep the columnar
    zero-shuffle plan shape of the production xxhash64 tier — the
    tiering changes only the token hash expression."""
    from impala_hashset_count_spark.operators.dedup import simhash_signatures
    from impala_hashset_count_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    plan = explain_str(simhash_signatures(d, "doc_id", "text", hash_fn="md5"))
    assert "hashpartitioning" not in plan
    assert "Generate" not in plan


def test_sketch_tier_passes_and_broadcast_only_joins(spark):
    """approx_distinct_lineitem: the exact oracle anchor (one Expand
    multi-distinct pass) appears EXACTLY ONCE in the plan and joins
    the unioned tiers as one 3-row broadcast (r9: the tiers union
    first, then one join reference — two references re-ran the Expand
    pass because their Expand projections canonicalize with flipped
    column order and exchange reuse never fires; the single reference
    also removed the serial driver-side collect job, so all three
    fact passes overlap in one job). Broadcast-only joins (a shuffled
    join would drag the fact table into an exchange it doesn't
    need)."""
    import re

    plan = _plan(spark, "approx_distinct_lineitem")
    # 3 scans in one plan: HLL++ agg, fine sketch pass, exact anchor
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 3
    # the exact anchor's Expand multi-distinct pass — exactly once
    assert len(re.findall(r"^\(\d+\) Expand", plan, flags=re.M)) == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, flags=re.M)) == 1


def test_runtime_bloom_filter_injected_on_non_broadcast_dim_join(spark):
    """When a selective dim join CANNOT broadcast (at 100 TB a 'small'
    side easily exceeds the broadcast threshold), Spark's runtime
    bloom-filter injection must kick in: the dim side aggregates a
    bloom_filter_agg and the fact scan pre-filters with might_contain
    BEFORE the shuffle — the row-level analogue of the dynamic
    partition pruning proven in tests/test_sources.py. Thresholds are
    lowered to model the big-fact regime at test scale; with broadcast
    re-enabled the filter correctly does NOT inject (broadcast joins
    don't need it)."""
    from impala_hashset_count_spark.sources.tables import load_table

    fact = load_table(spark, SF, "lineitem")
    dim = load_table(spark, SF, "part").filter("p_size < 5")

    def make():
        return fact.join(dim, fact.l_partkey == dim.p_partkey).select(
            "l_orderkey", "p_name"
        )

    baseline = make().count()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    try:
        j = make()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        assert j.count() == baseline  # the filter only prunes, never drops
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
    plan_bc = make()._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" not in plan_bc


def test_join_strategy_hints_are_honored(spark):
    """The three join-strategy hints must reach the physical plan —
    at 100 TB strategy choice is an operator-level decision (broadcast
    for small dims, shuffle-hash when one side fits a task's memory
    but not the driver's broadcast, sort-merge for big-big) and the
    hint is the API that pins it. Results are identical under all
    three (asserted), only the physical strategy moves."""
    from impala_hashset_count_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")

    def joined(hint):
        return li.join(orders.hint(hint), li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )

    plans = {
        h: joined(h)._jdf.queryExecution().executedPlan().toString()
        for h in ("broadcast", "shuffle_hash", "merge")
    }
    assert "BroadcastHashJoin" in plans["broadcast"]
    assert "ShuffledHashJoin" in plans["shuffle_hash"]
    assert "SortMergeJoin" in plans["merge"]
    counts = {h: joined(h).count() for h in plans}
    assert len(set(counts.values())) == 1 and counts["merge"] > 0


def test_aggstate_accumulate_one_scan_one_shuffle(spark):
    """The composite state table builds in ONE scan and ONE exchange
    (partial/final hash agg) — every component (moments, HLL,
    frequent-items sketch, bottom-k array) rides the same aggregate.
    At 100 TB this is the whole cost of maintaining the summary."""
    from impala_hashset_count_spark.operators.aggstate import (
        agg_state_accumulate,
    )
    from impala_hashset_count_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    plan = (
        agg_state_accumulate(ev, ["event_type"], "value", "user_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1


def test_aggstate_merge_touches_only_state_rows(spark):
    """Rolling the state table to a coarser grain plans ONE aggregate
    over the state rows — no scan of the raw table appears."""
    from impala_hashset_count_spark.operators.aggstate import (
        agg_state_accumulate,
        agg_state_merge,
    )
    from impala_hashset_count_spark.sources.tables import load_table

    from pyspark.sql import functions as SF_fn

    ev = load_table(spark, SF, "events").withColumn(
        "day", SF_fn.to_date(SF_fn.col("ts").cast("timestamp"))
    )
    fine = agg_state_accumulate(ev, ["event_type", "day"], "value", "user_id")
    fine.write.mode("overwrite").parquet("/tmp/ihc_state_plan_probe")
    stored = spark.read.parquet("/tmp/ihc_state_plan_probe")
    plan = (
        agg_state_merge(stored, ["event_type"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one scan (the state table), one shuffle, and the events table is
    # nowhere in the plan
    assert plan.count("Scan parquet") == 1
    assert "events" not in plan
    assert plan.count("Exchange") == 1


def test_zorder_stats_join_is_broadcast(spark):
    """The min/max normalization stats attach via a BROADCAST of the
    1-row aggregate — the data side is never shuffled for the key."""
    from impala_hashset_count_spark.operators.zorder import zorder_key
    from impala_hashset_count_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    joined, z = zorder_key(li, ["l_partkey", "l_suppkey"], bits=16)
    plan = explain_str(joined.select(z.alias("z")))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_broadcasts_word_table(spark):
    """The Bloom word table must join BROADCAST — the probed batch is
    never shuffled against history (the operator's whole point)."""
    from impala_hashset_count_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    hist = spark.range(0, 1000).selectExpr("cast(id as string) as key")
    batch = spark.range(0, 100).selectExpr("concat('n', id) as key")
    bloom = bloom_build(hist, "key", 1024)
    plan = explain_str(bloom_probe(batch, "key", bloom, 1024))
    assert "BroadcastHashJoin" in plan
    # the verdict joins back over the batch keys only; no sort-merge
    # join of batch against history anywhere
    assert "SortMergeJoin" not in plan


def test_pagerank_broadcasts_node_count(spark):
    """Every iteration's node-count join is a broadcast of a 1-row
    aggregate; the only repeated shuffles are the O(edges) contribution
    sums."""
    from impala_hashset_count_spark.operators.graph import pagerank_fixed

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_1 bigint, id_2 bigint"
    )
    plan = explain_str(pagerank_fixed(pairs, iters=2))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_drift_totals_join_is_broadcast_and_single_scan_per_slice(spark, sf_small):
    """The 1-row totals table joins broadcast; the corpus text is
    scanned once per slice (token-count aggregates), never shuffled as
    text."""
    from impala_hashset_count_spark.operators.drift import distribution_drift

    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = explain_str(
        distribution_drift(d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"))
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # text appears only under scan/generate stages, not in any Exchange
    # partitioning expression
    for line in plan.splitlines():
        if "Exchange" in line and "text" in line:
            raise AssertionError(f"text column shuffled: {line}")


def test_fanout_keeps_argument_order_and_raises(spark):
    """``fanout`` returns results in argument order even when later
    thunks finish first, and a thunk's exception reaches the caller."""
    import time

    import pytest

    from impala_hashset_count_spark.session import fanout

    def after(delay, value):
        def thunk():
            time.sleep(delay)
            return value

        return thunk

    assert fanout(after(0.3, "a"), after(0.1, "b"), after(0.0, "c")) == ["a", "b", "c"]

    def boom():
        raise ValueError("thunk failed")

    with pytest.raises(ValueError, match="thunk failed"):
        fanout(after(0.1, "a"), boom)


def test_build_jobs_carry_callers_job_group(spark):
    """Every job an entry runs while its plan is built — including the
    jobs submitted from ``fanout`` threads — carries the caller's job
    group, so per-entry job accounting sees all of them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("build-under-group", "build-under-group")
    try:
        all_queries()["dedup_minhash_lsh"].fn(spark, SF)
        all_queries()["hashset_count_tiers"].arms["auto"](spark, SF)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    labelled = set(tracker.getJobIdsForGroup("build-under-group"))
    unlabelled = set(tracker.getJobIdsForGroup(None)) - before
    assert labelled, "the builds ran no job, so the test checks nothing"
    assert not unlabelled, f"build jobs without the caller's job group: {sorted(unlabelled)}"
