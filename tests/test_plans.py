"""Physical-plan shape tests — the 100 TB insurance the row-level
oracle cannot give. Each test pins a property of the executed plan
that must survive a 1000-executor scale-up:

* filters/projections reach the parquet scan (pushdown + pruning);
* small-dim joins broadcast; no join ever degenerates to a cartesian
  or nested-loop product;
* aggregations keep their map-side partial phase;
* JVM-only operators stay JVM-only (no Python batch eval sneaking in);
* whole-stage codegen covers the expression hot paths.
"""

from __future__ import annotations

import os
import re

import pytest

from kafka_s3_etl_spark.plans.etl import REFERENCE_INPUTS
from kafka_s3_etl_spark.plans.registry import all_queries

_CAT = all_queries()

# Join-shaped queries that must never plan a cartesian/nested-loop join.
_JOIN_QUERIES = [
    "q_join_inner",
    "q_join_left",
    "q_join_full",
    "q_join_semi",
    "q_join_anti",
    "q_join_broadcast",
    "q_join_theta_range",
    "q_join_multiway",
    "q_dedup_fuzzy",
    "q_dedup_simhash",
    "q_ngram_jaccard",
]

# Pure-expression operators that must stay entirely JVM-side.
_JVM_ONLY = [
    "q_text_stats",
    "q_text_langid",
    "q_text_quality",
    "q_text_fingerprint",
    "q_dedup_exact",
    "q_dedup_fuzzy",
    "q_dedup_simhash",
    "q_sim_topk",
    "q_sim_ann_lsh",
    "q_expr_arith",
    "q_string_funcs",
]


def plan_of(spark, sf_dir, name: str) -> str:
    df = _CAT[name].fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_projection_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_scan_project")
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," in plan
    # none of the 12 unprojected lineitem columns may reach the scan
    assert "l_shipdate" not in plan and "l_comment" not in plan


def test_flagship_filters_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_filter_conj")
    assert "EqualTo(o_orderstatus,O)" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan


def test_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_theta_range_join_keeps_equi_key(spark, sf_dir):
    # equi hash join with the range as a residual condition — NOT a
    # nested-loop over the cross product
    plan = plan_of(spark, sf_dir, "q_join_theta_range")
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# Queries whose builder already executes work (streaming runs, ML fit,
# driver-side reference-file reads) — excluded from the cheap whole-
# catalog plan sweep.
_EAGER = {n for n in _CAT if n.startswith("s_")} | {
    "q_sim_ivf",
    "x_json_to_xml",
    "q_resample_ffill",  # localCheckpoints the daily rollup at build
    "q_graph_pagerank",  # localCheckpoints every iteration at build
    "q_compact_files",  # writes + compacts its scratch table at build
    "q_observed_metrics",  # runs its noop-sink pass at build (uncached)
    "x_s3_object_scan",  # boots the moto S3 server + stages objects at build
    "x_s3_object_sink",  # executes the S3 write at build
}


@pytest.mark.parametrize("name", _JOIN_QUERIES)
def test_no_cartesian_anywhere(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_whole_catalog_never_plans_cartesian(spark, sf_dir):
    """Sweep every lazily-buildable catalog query: none may plan a
    cartesian product or a row-at-a-time Python eval. Entries whose
    reference file is absent cannot be built and are left out; every
    other entry is still planned."""
    no_reference = {
        n for n, path in REFERENCE_INPUTS.items() if not os.path.exists(path)
    }
    for name in sorted(set(_CAT) - _EAGER - no_reference):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_group_agg_has_partial_phase(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_agg_group")
    assert "partial_" in plan  # map-side combine before the shuffle
    assert "HashAggregate" in plan


def test_minhash_reuses_selfjoin_exchange(spark, sf_dir):
    # both sides of the LSH band self-join are the identical subplan
    # shuffled on the same key -> one exchange, reused. AQE only decides
    # this at runtime, so execute first and read the final plan.
    df = _CAT["q_dedup_fuzzy"].fn(spark, sf_dir)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


@pytest.mark.parametrize("name", _JVM_ONLY)
def test_jvm_only_paths_have_no_python(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "EvalPython" not in plan, name  # no Batch/ArrowEvalPython


@pytest.mark.parametrize("name", ["q_udf_scalar", "q_multimodal_meta"])
def test_udf_paths_use_arrow_not_row_python(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert ("ArrowEvalPython" in plan) or ("MapInPandas" in plan), name
    assert "BatchEvalPython" not in plan, name  # row-at-a-time path


def test_asof_join_is_a_merge_not_a_join(spark, sf_dir):
    # the union-merge as-of join must plan as window-over-union — no
    # join operator, no pair fan-out; one exchange per union branch
    # means every row is shuffled exactly once
    plan = plan_of(spark, sf_dir, "q_asof_join")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2
    assert "Window" in plan and "Union" in plan


def test_sessionize_single_partitioning(spark, sf_dir):
    # both window passes and the final agg share the user_id hash
    # partitioning: one shuffle for the windows + the agg's exchange
    plan = plan_of(spark, sf_dir, "q_sessionize")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_expression_path_is_codegened(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_expr_arith")
    assert "codegen id" in plan


def test_knn_join_is_shuffle_free_on_the_corpus(spark, sf_dir):
    # candidates travel as a 1-row broadcast array and each vector's
    # top-3 is one projection + explode: NO hash shuffle, NO window —
    # the corpus side stays scan-parallel at any size
    plan = plan_of(spark, sf_dir, "q_knn_join")
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


def test_scd2_single_partitioning(spark, sf_dir):
    # both window functions (row_number, lead) share the user_id hash
    # partitioning: exactly one shuffle of the event stream (formatted
    # mode prints each node twice: tree + detail)
    plan = plan_of(spark, sf_dir, "q_scd2")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_time_weighted_avg_partial_agg(spark, sf_dir):
    # lead-window on (user_id) then groupBy(user_id): the agg reuses the
    # window's partitioning (no second exchange) and keeps a partial phase
    plan = plan_of(spark, sf_dir, "q_time_weighted_avg")
    assert plan.count("Exchange") <= 2  # one physical node, printed twice
    assert "partial_" in plan


def test_lang_entropy_aggregates_map_side(spark, sf_dir):
    # the corpus explode must combine to (lang, len) counts before any
    # shuffle; the float log work runs on the tiny rollup
    plan = plan_of(spark, sf_dir, "q_lang_entropy")
    assert "partial_count" in plan


def test_view_backed_query_stays_bound_to_its_sf(spark):
    """q_grouping_sets registers a temp view; building the query for a
    second sf_dir must NOT rebind the first DataFrame (spark.sql
    analyzes eagerly, so each df captures its own scan). Guards the
    global-state trap of createOrReplaceTempView."""
    from pyspark.sql import functions as F

    from kafka_s3_etl_spark.sources.tables import load_table

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    df_a = _CAT["q_grouping_sets"].fn(spark, sf_a)
    df_b = _CAT["q_grouping_sets"].fn(spark, sf_b)  # overwrites the view

    def grand_total(df):
        row = [r for r in df.collect() if r.l_returnflag is None and r.l_linestatus is None]
        return row[0].sum_qty

    want_a = load_table(spark, sf_a, "lineitem").agg(
        F.round(F.sum("l_quantity"), 2)
    ).first()[0]
    want_b = load_table(spark, sf_b, "lineitem").agg(
        F.round(F.sum("l_quantity"), 2)
    ).first()[0]
    assert want_a != want_b  # different scales really differ
    assert grand_total(df_a) == want_a  # still bound to sf_a
    assert grand_total(df_b) == want_b


def test_vocab_topk_uses_take_ordered(spark, sf_dir):
    # top-N must plan as TakeOrdered (per-partition heap + driver merge),
    # never a global sort of the counts table
    plan = plan_of(spark, sf_dir, "q_vocab_topk")
    assert "TakeOrderedAndProject" in plan


def test_decontaminate_joins_on_hashes(spark, sf_dir):
    # leakage check = semi join on the 8-byte shingle hash; no raw-text
    # join key, no cartesian
    plan = plan_of(spark, sf_dir, "q_decontaminate")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join(spark):
    """100 TB insurance for skewed keys: with one hot key holding ~99%
    of rows, AQE must re-plan the sort-merge join with skew splitting
    (SortMergeJoin(skew=true) in the final plan) — the runtime half of
    the skew story, complementing q_join_salted's explicit salting."""
    from pyspark.sql import functions as F

    conf = spark.conf
    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: conf.get(k, None) for k in keys}
    try:
        # thresholds scaled down so test-size partitions count as skewed
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.shuffle.partitions", "8")
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 99, 0)
            .otherwise(F.col("id") % 40)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = left.join(right, "k")
        assert len(joined.collect()) == 200_000
        plan = spark._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_scalar_subquery_stays_bound_to_its_sf(spark):
    """Same view-rebinding guard as q_grouping_sets, for the other
    temp-view-backed query: building it for a second sf_dir must not
    rebind the first DataFrame."""
    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    df_a = _CAT["q_scalar_subquery"].fn(spark, sf_a)
    n_a = df_a.count()
    df_b = _CAT["q_scalar_subquery"].fn(spark, sf_b)  # overwrites the view
    assert df_b.count() != n_a  # scales really differ
    assert df_a.count() == n_a  # still bound to sf_a


def test_sweep_order_oracle_first_cheap_first():
    """The driver sweep contract: every hash-checkable entry precedes
    every rows-only entry, and costs never decrease within a tier — so
    a time-budgeted correctness run maximizes hash-checked coverage."""
    entries = list(all_queries().values())
    tiers = [(q.oracle is None, q.cost) for q in entries]
    assert tiers == sorted(tiers), "registry sweep order violated"
    first_rows_only = next(
        (i for i, q in enumerate(entries) if q.oracle is None), len(entries)
    )
    assert all(q.oracle is not None for q in entries[:first_rows_only])
    assert all(q.oracle is None for q in entries[first_rows_only:])


def test_merge_upsert_single_join_no_window(spark, sf_dir):
    """MERGE apply = one full-outer join + coalesce projection; a
    row_number-based formulation would add a Window + extra sort."""
    plan = plan_of(spark, sf_dir, "q_merge_upsert")
    assert "FullOuter" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_sample_per_group_cut_is_map_side(spark, sf_dir):
    """The rank<=n cut must run BEFORE the group-key shuffle (partial
    WindowGroupLimit) so each map task forwards at most n rows per
    group — the property that keeps the sample one cheap shuffle at
    100 TB."""
    plan = plan_of(spark, sf_dir, "q_sample_per_group")
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "Exchange" in plan


def test_bm25_stats_broadcast_and_jvm_only(spark, sf_dir):
    """df/doc-len/corpus-constant joins broadcast (never shuffle the
    term-frequency side on a stats key) and the whole path is JVM
    expressions."""
    plan = plan_of(spark, sf_dir, "q_bm25")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan  # tf aggregation keeps map-side combine


def test_exists_correlated_decorrelates_to_joins(spark, sf_dir):
    """EXISTS / NOT EXISTS must decorrelate into semi + anti hash joins
    (one pass over orders each) — never a per-row subquery or a
    nested-loop product."""
    plan = plan_of(spark, sf_dir, "q_exists_correlated")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_shuffle_window_is_shard_partitioned(spark, sf_dir):
    """The shuffle-position window must partition on the shard key: a
    global ORDER BY formulation would funnel the corpus through one
    partition (Exchange SinglePartition), the classic 100 TB killer."""
    plan = plan_of(spark, sf_dir, "q_global_shuffle")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_stats_moments_one_shuffle_partial_agg(spark, sf_dir):
    """Exact-moments stats = one hash exchange on the group key with
    map-side partial sums; every float combination happens on the
    25-row post-aggregate."""
    plan = plan_of(spark, sf_dir, "q_stats_moments")
    assert "partial_" in plan
    assert plan.count("hashpartitioning(") == 1
    assert "BatchEvalPython" not in plan


def test_islands_single_shuffle(spark, sf_dir):
    """The up-front repartition(user_id) must be the ONLY exchange:
    hashpartitioning(user_id) already clusters the (user_id, hr)
    distinct, the per-user window, and the (user_id, grp) aggregate."""
    plan = plan_of(spark, sf_dir, "q_islands")
    assert plan.count("hashpartitioning(") == 1
    assert "Window" in plan


def test_tpch_pricing_pushdown_and_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_tpch_pricing")
    assert "LessThanOrEqual(l_shipdate," in plan  # filter reaches the scan
    assert "partial_" in plan
    assert plan.count("hashpartitioning(") == 1


def test_tpch_shipping_broadcasts_dim_and_takeordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_tpch_shipping")
    assert "BroadcastHashJoin" in plan  # customer dim never shuffles
    assert "TakeOrderedAndProject" in plan  # top-10 without a global sort
    assert "CartesianProduct" not in plan


def test_window_funnel_single_repartition(spark, sf_dir):
    """The up-front repartition(user_id) must be the only exchange: all
    three stage aggregations and the two left joins are co-located on
    it."""
    plan = plan_of(spark, sf_dir, "q_window_funnel")
    assert plan.count("hashpartitioning(") == 1


def test_tpch_market_share_all_dims_broadcast(spark, sf_dir):
    """Q8 shape: part/region/nation/supplier (and the semi-filters they
    feed) must all arrive as broadcasts; lineitem is the only big side
    and its scan reads exactly the 5 needed columns."""
    plan = plan_of(spark, sf_dir, "q_tpch_market_share")
    assert "EqualTo(p_type,ECONOMY)" in plan  # dim filter reaches the scan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "CartesianProduct" not in plan
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,"
        "l_suppkey:bigint,l_extendedprice:double,l_discount:double>"
    ) in plan
    # per-year grouped agg is partial (map-side combined)
    assert "partial_" in plan


def test_tpch_big_orders_aggregates_before_joining(spark, sf_dir):
    """Q18 shape: the per-order quantity rollup (with its map-side
    partial) must run BEFORE any join — the HAVING filter then shrinks
    the join input, which is the whole point of the shape at scale."""
    plan = plan_of(spark, sf_dir, "q_tpch_big_orders")
    assert "partial_sum(cast(round(l_quantity" in plan
    # one exchange: the order-key agg; the join reuses its partitioning
    # (broadcast at test SF) and no other shuffle exists pre-AQE
    assert plan.count("hashpartitioning(") == 1
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_frequent_pairs_never_self_joins_the_fact(spark, sf_dir):
    """Pair generation must happen INSIDE per-order baskets (Generate
    over the collected set), never as a lineitem self-join: no sort-
    merge join and exactly 4 exchanges (item distinct, item support,
    basket agg, pair count), with the frequent-item filter arriving as
    a broadcast semi-join."""
    plan = plan_of(spark, sf_dir, "q_frequent_pairs")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Generate" in plan  # in-basket pair explode
    assert "BroadcastHashJoin LeftSemi" in plan
    assert plan.count("hashpartitioning(") == 4


def test_attribution_single_window_shuffle(spark, sf_dir):
    """First-touch and last-touch must come from ONE per-user window
    sort: a single exchange on user_id, no join."""
    plan = plan_of(spark, sf_dir, "q_attribution")
    assert plan.count("hashpartitioning(") == 1
    assert "Window" in plan
    assert "Join" not in plan


def test_runtime_bloom_filter_prunes_selective_join(spark, sf_dir):
    """100 TB insurance for selective big-big joins: with a filtered
    build side, Spark's runtime row-level filtering must inject a bloom
    filter (might_contain on the probe side) so the big scan drops
    non-joining rows BEFORE the shuffle. Disabled by size thresholds at
    test SF (the application side must scan ~10 GB in production), so
    the thresholds are forced down here — the pin is that the rewrite
    engages on this engine's join shapes, same pattern as the AQE
    skew-split test."""
    from pyspark.sql import functions as F

    from kafka_s3_etl_spark.sources.tables import load_table

    conf = spark.conf
    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    saved = {k: conf.get(k, None) for k in keys}
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
        li = load_table(spark, sf_dir, "lineitem")
        ords = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = li.join(ords, li.l_orderkey == ords.o_orderkey)
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan  # bloom probe reached the big side
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_tpch_priority_semi_join_probes_filtered_orders(spark, sf_dir):
    """Q4 shape: the EXISTS must plan as a (semi) join keyed on the
    order key — never a per-order correlated re-scan — with the date
    filter pushed to the orders scan."""
    plan = plan_of(spark, sf_dir, "q_tpch_priority")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan  # pushed to scan
    assert "CartesianProduct" not in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp>" in plan


def test_tpch_small_qty_threshold_broadcasts_back(spark, sf_dir):
    """Q17 shape: the brand dim and the per-part threshold agg must
    both re-enter as broadcasts; lineitem reads only its 3 needed
    columns and the threshold agg keeps its map-side partial."""
    plan = plan_of(spark, sf_dir, "q_tpch_small_qty")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(p_brand,Brand#23)" in plan  # dim filter at the scan
    assert "partial_avg" in plan
    assert (
        "ReadSchema: struct<l_partkey:bigint,l_quantity:double,"
        "l_extendedprice:double>" in plan
    )


def test_tpch_waiting_one_orderkey_shuffle_family(spark, sf_dir):
    """Q21 shape: the EXISTS/NOT-EXISTS reformulation must never
    correlated-re-scan or self-join the raw fact — every join is keyed
    (no cartesian), the supplier+nation dim arrives broadcast, and both
    per-order aggregates keep map-side partials."""
    plan = plan_of(spark, sf_dir, "q_tpch_waiting")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # supplier x nation dim
    assert "partial_count(distinct" in plan.lower()
    assert "EqualTo(o_orderstatus,F)" in plan  # status filter at the scan


def test_tpch_top_supplier_argmax_is_broadcast_not_sort(spark, sf_dir):
    """Q15 shape: the global max re-enters as a 1-row broadcast
    (BroadcastNestedLoopJoin over a single row is fine); no global
    Sort of the per-supplier aggregate appears."""
    plan = plan_of(spark, sf_dir, "q_tpch_top_supplier")
    assert "Broadcast" in plan
    assert "TakeOrdered" not in plan
    # the only sorts allowed are inside SMJ (none expected at this size)
    assert "Sort [rev_e4" not in plan


def test_tpch_idle_customers_anti_join_and_scalar_broadcast(spark, sf_dir):
    """Q22 shape: NOT EXISTS plans as LeftAnti on the customer key; the
    threshold is a broadcast; the orders date filter reaches the scan."""
    plan = plan_of(spark, sf_dir, "q_tpch_idle_customers")
    assert "LeftAnti" in plan
    assert "Broadcast" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan
    assert "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp>" in plan


def test_tpch_forecast_all_predicates_pushed(spark, sf_dir):
    """Q6 shape: a pure scan-filter-agg — the date and quantity
    predicates must reach the parquet scan as PushedFilters, the scan
    reads only the 4 needed columns, and no exchange beyond the final
    single-row agg exists."""
    plan = plan_of(spark, sf_dir, "q_tpch_forecast")
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)" in plan
    assert "GreaterThanOrEqual(l_shipdate," in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp>" in plan
    )
    assert "partial_" in plan


def test_tpch_custdist_left_join_keeps_zero_customers(spark, sf_dir):
    """Q13 shape: the priority filter must live INSIDE the left join
    (a post-filter would drop zero-order customers); both aggregation
    levels keep map-side partials."""
    plan = plan_of(spark, sf_dir, "q_tpch_custdist")
    assert "LeftOuter" in plan
    assert plan.count("partial_count") >= 2
    assert "CartesianProduct" not in plan


def test_tpch_disjunctive_or_stays_in_join_filter(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs must evaluate as the broadcast join's
    filter — a plain key-equality join followed by the disjunction, no
    nested-loop fan-out; the brand/size legs prune the part scan."""
    plan = plan_of(spark, sf_dir, "q_tpch_disjunctive")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the disjunction survives into the plan (brand legs visible)
    assert "Brand#12" in plan and "Brand#23" in plan


def test_heavy_hitters_arrow_only_and_broadcast_verify(spark, sf_dir):
    """Pass 1 is Arrow mapInPandas (never row-at-a-time Python); the
    verify pass re-enters as a broadcast LEFT join whose conditional
    group key folds n_total into the same aggregation (r6 advice: the
    corpus is touched exactly TWICE — pinned by the scan count); the
    count agg keeps its map-side partial."""
    plan = plan_of(spark, sf_dir, "q_heavy_hitters")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "partial_count" in plan
    # MG pass + verify pass, no 3rd scan (each node prints twice in
    # formatted mode: once in the tree, once in the details)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2


def test_skyline_never_all_pairs(spark, sf_dir):
    """The frontier join-back is a broadcast semi-join; no cartesian/
    nested-loop dominance join exists anywhere in the plan."""
    plan = plan_of(spark, sf_dir, "q_skyline")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftSemi" in plan
    assert "partial_min" in plan  # min-per-x is map-side combined


def test_tpch_min_supplier_argmin_is_struct_min_not_sort(spark, sf_dir):
    """Q2 shape: the per-part argmin must be a map-side-combined
    struct-min aggregate, never a window sort; lineitem is semi-pruned
    by broadcast part and supplier filters BEFORE its one agg."""
    plan = plan_of(spark, sf_dir, "q_tpch_min_supplier")
    assert "partial_min" in plan
    assert "row_number" not in plan.lower()
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_tpch_dominant_supplier_fact_touched_once(spark, sf_dir):
    """Q20 shape: exactly one scan of lineitem feeds the rollup chain
    (the psy aggregate is reused for py via its exchange, not by
    re-scanning), and the region-filtered supplier dim broadcasts."""
    plan = plan_of(spark, sf_dir, "q_tpch_dominant_supplier")
    assert plan.count("ReadSchema: struct<l_orderkey") == 0  # pruned away
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ds_net_returns_outer_join_on_rollups_only(spark, sf_dir):
    """TPC-DS sales/returns shape: both fact rollups keep map-side
    partials, the part dimension broadcasts into BOTH, and the FULL
    OUTER join runs on the rollup outputs (a SortMergeJoin FullOuter
    over |brands| rows) — the fact is never outer-joined row-to-row."""
    plan = plan_of(spark, sf_dir, "q_ds_net_returns")
    assert "partial_sum" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # part dim into each side
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_ds_window_comparisons_aggregate_before_window(spark, sf_dir):
    """Q2/Q74 shapes: the corpus is reduced by a map-combined aggregate
    FIRST; the LAG window then sorts only the rollup rows (window
    appears ABOVE the final HashAggregate, and the window partition key
    matches the rollup key — no whole-corpus sort)."""
    for name in ("q_ds_channel_wow", "q_ds_yoy_growth"):
        plan = plan_of(spark, sf_dir, name)
        assert "partial_count" in plan or "partial_sum" in plan
        assert "Window" in plan
        # exactly the two agg exchanges + the window's repartition over
        # rollup rows; no extra corpus shuffles
        assert "CartesianProduct" not in plan
        assert plan.count("Scan parquet") <= 2  # tree+detail of ONE scan


def test_bucketed_join_runs_with_zero_exchanges(spark, sf_dir):
    """x_bucketed_join: both scans read the bucketed layout
    (Bucketed: true, all 8 buckets selected), the sort-merge join and
    the per-key rollup reuse the on-disk hash distribution, and NO
    exchange of any kind appears — the pay-once layout, shuffle-free
    join pattern that motivates bucketing at 100 TB."""
    plan = plan_of(spark, sf_dir, "x_bucketed_join")
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # column pruning reaches the bucketed scans too
    assert "o_orderstatus" not in plan


def test_dpp_join_prunes_partitions_dynamically(spark, sf_dir):
    """x_dpp_join: the dim filter is on tier (NOT the join key), so no
    static partition filter is possible — the fact scan must carry a
    dynamicpruningexpression fed from the broadcast dim, and only the
    dim-surviving event_type directories are ever read."""
    plan = plan_of(spark, sf_dir, "x_dpp_join")
    assert re.search(
        r"PartitionFilters: \[isnotnull\(event_type#\d+\), "
        r"dynamicpruningexpression\(event_type#\d+ IN dynamicpruning#\d+\)\]",
        plan,
    ), plan
    assert "BroadcastHashJoin" in plan
    # the dim is a 5-row local relation — exactly ONE parquet scan
    # (formatted plans print each scan twice: tree + detail)
    assert plan.count("Scan parquet") <= 2


def test_bloom_filter_join_injects_and_restores(spark, sf_dir):
    """x_bloom_filter_join: the lineitem scan carries
    might_contain(xxhash64(l_orderkey)) built from the filtered orders
    keys, and the conf pinning is invisible outside the builder — the
    session's broadcast threshold and bloom thresholds read back
    unchanged after the build."""
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    plan = plan_of(spark, sf_dir, "x_bloom_filter_join")
    assert "might_contain" in plan
    assert "xxhash64(l_orderkey" in plan
    # the bloom build side is the SELECTIVE side: filter pushed to scan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan
    after = {k: spark.conf.get(k) for k in before}
    assert after == before


def test_feature_hash_is_map_only(spark, sf_dir):
    """q_feature_hash: pure row-local JVM expressions — no exchange of
    any kind, no Python eval; embarrassingly parallel at any scale."""
    plan = plan_of(spark, sf_dir, "q_feature_hash")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "codegen id" in plan  # whole-stage codegen covers the plan


def test_feature_scaling_single_shuffle(spark, sf_dir):
    """q_feature_minmax / q_target_encode: the scaling stats ride ONE
    hash-partitioning exchange on the group key (the window shuffle) —
    no second scan, no join back."""
    for name in ("q_feature_minmax", "q_target_encode"):
        plan = plan_of(spark, sf_dir, name)
        # formatted plans print each node twice (tree + detail)
        assert plan.count("Exchange") == 2, name
        assert "hashpartitioning(o_orderpriority" in plan, name
        assert plan.count("Scan parquet") <= 2, name


def test_partitioned_write_prunes_directories(spark, sf_dir):
    """x_partitioned_write: the event_type equality lands in
    PartitionFilters (directory-level pruning before IO), and the
    partition column is NOT read from the data files."""
    plan = plan_of(spark, sf_dir, "x_partitioned_write")
    assert re.search(
        r"PartitionFilters: \[isnotnull\(event_type#\d+\), "
        r"\(event_type#\d+ = click\)\]",
        plan,
    ), plan
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint," in plan
    assert "event_type" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_timeband_counts_single_scan(spark, sf_dir):
    """q_ds_timeband_counts: all four time bands + the banded value sum
    are conditional aggregates over ONE events read (Q88 writes 8
    self-joined subqueries; at 100 TB that is 8 reads of the fact) —
    and the partial-aggregate phase combines map-side."""
    plan = plan_of(spark, sf_dir, "q_ds_timeband_counts")
    assert plan.count("Scan parquet") <= 2  # tree + detail of ONE scan
    assert "partial_" in plan
    assert "Join" not in plan


def test_nullsafe_join_stays_hash_join(spark, sf_dir):
    """q_join_nullsafe: null-safe equality keys hash like equi-keys —
    the join must be a broadcast hash join, never a nested loop over
    the null group."""
    plan = plan_of(spark, sf_dir, "q_join_nullsafe")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """q_not_in_null: NOT IN over a nullable subquery column must
    execute as a null-aware anti HASH join — Spark 4 prints the
    isNullAwareAntiJoin flag as the trailing boolean on the simple-mode
    BroadcastHashJoin line (and the null-aware OR-isnull condition is
    absorbed into the join itself, not left as a filter)."""
    plan = plan_of(spark, sf_dir, "q_not_in_null")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    df = _CAT["q_not_in_null"].fn(spark, sf_dir)
    simple = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert re.search(
        r"BroadcastHashJoin .*LeftAnti, BuildRight, true", simple
    ), simple


def test_agg_pushdown_answers_from_footers(spark, sf_dir):
    """x_agg_pushdown: COUNT/MIN/MAX land in the DSv2 scan's
    PushedAggregation (row-group statistics, no data pages), and the
    conf pinning is invisible outside the builder."""
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.parquet.aggregatePushdown",
            "spark.sql.sources.useV1SourceList",
        )
    }
    plan = plan_of(spark, sf_dir, "x_agg_pushdown")
    assert re.search(
        r"PushedAggregation: \[COUNT\(\*\), MIN\(o_orderkey\), "
        r"MAX\(o_orderkey\), MIN\(o_totalprice\), MAX\(o_totalprice\)\]",
        plan,
    ), plan
    assert {k: spark.conf.get(k) for k in before} == before


def test_contamination_rate_joins_on_hashes(spark, sf_dir):
    """q_contamination_rate: the train-membership check is a semi join
    on the 8-byte shingle hash (fixed-width shuffle key) — raw shingle
    text never rides a join."""
    plan = plan_of(spark, sf_dir, "q_contamination_rate")
    assert "LeftSemi" in plan
    assert "xxhash64(shingle" in plan
    assert "CartesianProduct" not in plan


def test_bloom_decontaminate_broadcasts_bitmap(spark, sf_dir):
    """q_decontaminate_bloom: the (word, bits) bitmap is built by a
    bit_or aggregation and shipped as a BROADCAST join (the whole
    point — eval shingles die against the broadcast before any big
    shuffle), and the exact verify semi-join survives downstream."""
    plan = plan_of(spark, sf_dir, "q_decontaminate_bloom")
    assert "bit_or" in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_simjoin_prefix_plan_shape(spark, sf_dir):
    """q_simjoin_prefix: the prefix wedge and verify joins are hinted
    shuffled-hash equi joins — never a nested loop over the pair
    space, and the sort-merge sorts the unordered output would waste
    are absent."""
    plan = plan_of(spark, sf_dir, "q_simjoin_prefix")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_codebook_and_lut_broadcast(spark, sf_dir):
    """q_sim_pq: the codebook (encode) and the query-side ADC LUT (scan)
    both ride broadcast joins over one-row constants — the corpus is
    never shuffled to meet them — and nothing falls back to
    row-at-a-time Python."""
    plan = plan_of(spark, sf_dir, "q_sim_pq")
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in tree
    assert "ShuffledHashJoin" not in tree
    assert "BatchEvalPython" not in plan


def test_jaccard_cap_is_broadcast_anti_join(spark, sf_dir, monkeypatch):
    """q_jaccard_neighbors: the max_degree hub exclusion must be a
    BROADCAST anti join (the hub set is <= 2m/cap nodes by
    construction) in front of the wedge join. localCheckpoint (which
    cuts the lineage before explain sees the exclusion) is stubbed to
    identity — the PLAN is under test, not materialization."""
    concrete = type(spark.range(1))
    monkeypatch.setattr(
        concrete, "localCheckpoint", lambda self, *a, **k: self
    )
    plan = plan_of(spark, sf_dir, "q_jaccard_neighbors")
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "ShuffledHashJoin" in plan  # wedge + adjacency keep hints


def test_countmin_topk_broadcasts_sketch(spark, sf_dir):
    """q_approx_topk: the depth*width counter table is broadcast to
    the distinct-token probe, and the top-k is TakeOrdered — never a
    global sort of the estimates."""
    plan = plan_of(spark, sf_dir, "q_approx_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_fk_orphans_broadcasts_dimension_parents(spark, sf_dir):
    """q_fk_orphans: six of the seven FK parents are dimensions and
    must broadcast; the fact-sized parent (orders) must NOT force a
    broadcast of a fact table. Child keys roll up (HashAggregate)
    before any join, and the scan never feeds a row-level join."""
    plan = plan_of(spark, sf_dir, "q_fk_orphans")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_rfm_windows_are_segment_partitioned(spark, sf_dir):
    """q_rfm_scores: every NTILE window partitions by market segment —
    no global (empty-partition-spec) window sort of the customer
    rollup survives into the plan."""
    import re

    plan = plan_of(spark, sf_dir, "q_rfm_scores")
    assert "ntile(4)" in plan
    # A window with an empty partition spec prints as
    # "windowspecdefinition(<order>..." with no partition columns
    # before the first ORDER-BY column; every spec here must lead
    # with the c_mktsegment partition column.
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the plan"
    for spec in specs:
        assert spec.lstrip().startswith("c_mktsegment"), spec


def test_bootstrap_ci_is_one_replicated_scan(spark, sf_dir):
    """q_bootstrap_ci: the Poisson bootstrap must NOT plan B
    resampling passes — the replicate axis comes from one Generate
    (explode) over a single orders scan, the per-replicate sums keep
    their map-side partial phase, and the weight CASE stays JVM."""
    plan = plan_of(spark, sf_dir, "q_bootstrap_ci")
    assert plan.count("Generate") >= 1
    # reps scan + point-estimate scan; never one per replicate.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_incremental_merge_scans_facts_once(spark, sf_dir):
    """q_incremental_agg_merge: the daily->monthly merge is two
    stacked HashAggregates over ONE events scan (the partials are the
    only input to the merge step, exactly the nightly-rollup shape)."""
    plan = plan_of(spark, sf_dir, "q_incremental_agg_merge")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert plan.count("HashAggregate") >= 4  # partial+final, twice
    assert "BatchEvalPython" not in plan


def test_diff_in_diff_single_scan_two_level_agg(spark, sf_dir):
    """q_diff_in_diff: one events scan feeds the per-user rollup; the
    four cohort-period cells collapse in a second (global) aggregate —
    no self-join of pre vs post periods."""
    plan = plan_of(spark, sf_dir, "q_diff_in_diff")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "partial_sum" in plan


def test_percentile_cont_windows_stay_partitioned(spark, sf_dir):
    """q_percentile_cont: every window spec partitions by priority —
    no global-sort (empty partition spec) window survives."""
    plan = plan_of(spark, sf_dir, "q_percentile_cont")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the plan"
    for spec in specs:
        assert spec.lstrip().startswith("o_orderpriority"), spec


def test_permutation_test_is_one_rollup_explode(spark, sf_dir):
    """q_permutation_test: all B replicates come from one explode of
    the per-user rollup (one events scan feeds both the replicate path
    and the observed statistic), the observed side joins as a 1-row
    broadcast, and the md5 pseudo-cohorts stay JVM."""
    plan = plan_of(spark, sf_dir, "q_permutation_test")
    assert plan.count("Generate") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row constant join
    assert "BatchEvalPython" not in plan


def test_chi_square_windows_run_over_rollup(spark, sf_dir):
    """q_chi_square: the contingency rollup is map-side combined
    (partial_count before the exchange) and the row/col/grand totals
    are windows over the k x 2 rollup — one fact scan total."""
    plan = plan_of(spark, sf_dir, "q_chi_square")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "partial_count" in plan


def test_gap_fill_interpolate_has_no_grid_join(spark, sf_dir):
    """q_gap_fill_interpolate: the dense grid comes from a sequence
    explode of observation pairs, never a calendar-spine join — no
    Join operator anywhere in the plan."""
    plan = plan_of(spark, sf_dir, "q_gap_fill_interpolate")
    assert "Join" not in plan
    assert plan.count("Generate") >= 1


def test_scalable_decile_lift_has_no_global_data_sort(spark, sf_dir):
    """q_decile_lift_scalable: the scored frame is ranked via
    per-bucket windows (specs lead with __bucket) plus ONE
    empty-partition-spec prefix window over the bucket ROLLUP; the
    post-decile gains windows run over the 10-row decile rollup. No
    window spec over the data may have an empty partition spec, and
    the offsets come back as a broadcast join."""
    plan = plan_of(spark, sf_dir, "q_decile_lift_scalable")
    assert "BroadcastHashJoin" in plan
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert "__bucket" in specs
    # A window spec's first token is its partition column, else its
    # first ORDER BY column, else the bare frame (unordered OVER () —
    # no sort at all). The ONLY ordered specs allowed are the
    # __bucket-partitioned local rank, the __bucket-ordered prefix sum
    # over the bucket ROLLUP, and the decile-ordered cum window over
    # the 10-row rollup. The data's (c DESC, k) order must never
    # appear globally — that's the single-task sort this entry exists
    # to remove.
    for s in specs:
        assert s in {"__bucket", "decile", "specifiedwindowframe"}, s


def test_scalable_interval_overlap_has_no_global_data_sort(spark, sf_dir):
    """q_interval_overlap_scalable: the running concurrency sum splits
    into a bucket-partitioned local window plus ONE empty-partition
    prefix window over the 4096-row bucket rollup, offsets broadcast
    back. The single-task RANGE window over all boundary points (the
    original q_interval_overlap sweep) must not appear: every ordered
    window spec leads with `bucket` (local run + rollup prefix sum) or
    `user_id` (sessionize's per-user boundary windows, partitioned)."""
    plan = plan_of(spark, sf_dir, "q_interval_overlap_scalable")
    assert "BroadcastHashJoin" in plan
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs, "expected window specs in the plan"
    assert "bucket" in specs
    for s in specs:
        assert s in {"bucket", "user_id", "specifiedwindowframe"}, s


def test_skew_diagnostic_windows_touch_only_value_histogram(spark, sf_dir):
    """q_skew_diagnostic (r9 rewrite): the only window input is the
    value HISTOGRAM (one row per distinct per-key count) — the r8
    unpartitioned row_number over the O(n_keys) key rollup is gone.
    Every window spec's first column must be `cnt` (the histogram
    prefix sum) or a bare frame; `user_id` (the key rollup's sort
    tiebreak) must appear in no window spec, and two aggregations
    (keys, then histogram) must precede the windows."""
    plan = plan_of(spark, sf_dir, "q_skew_diagnostic")
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs, "expected window specs in the plan"
    for s in specs:
        assert s in {"cnt", "specifiedwindowframe"}, s
    assert "row_number" not in plan


def test_cache_reuse_scans_memory_not_parquet_twice(spark, sf_dir):
    """x_cache_reuse: the cached rollup feeds two consumers — the plan
    must show InMemoryTableScan (both branches read the cache) and only
    ONE parquet scan of orders."""
    plan = plan_of(spark, sf_dir, "x_cache_reuse")
    assert "InMemoryTableScan" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 1


def test_winsorize_scalable_uses_bucketed_rank(spark, sf_dir):
    """q_winsorize_scalable: the cut stage must go through the
    two-phase bucketed rank (a __bucket-led window spec present) and
    the cuts come back by broadcast join — the naive per-flag
    single-reducer rank spec shape (l_returnflag leading an ORDER BY
    over the raw price with no __bucket anywhere) must not be the only
    window."""
    plan = plan_of(spark, sf_dir, "q_winsorize_scalable")
    assert "BroadcastHashJoin" in plan
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert any(s == "__bucket" or s == "l_returnflag" for s in specs)
    assert "__bucket" in plan


def test_filter_funnel_is_one_scan_explode_agg(spark, sf_dir):
    """q_filter_funnel: per-doc word stats come from explode + map-side
    agg over ONE documents scan; stage math is integer flags on the
    one-row collapse — no per-row division, no Python."""
    plan = plan_of(spark, sf_dir, "q_filter_funnel")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert plan.count("Generate") >= 1  # the word explode + stack
    assert "BatchEvalPython" not in plan


def test_dedup_survivorship_joins_on_hash(spark, sf_dir):
    """q_dedup_survivorship: the docs-keepers join key is md5(text) —
    the raw text column must never appear as a join key (hash keys
    shuffle 32 bytes, documents shuffle kilobytes)."""
    plan = plan_of(spark, sf_dir, "q_dedup_survivorship")
    assert "md5" in plan
    keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert keys, plan[:500]
    for cond in keys:
        assert "text" not in cond, cond
        assert cond.startswith("h#") or "md5" in cond, cond


def test_token_fertility_single_scan_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_token_fertility")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_position_attribution_shares_user_partitioning(spark, sf_dir):
    """q_attribution_position: touches and conversions roll up
    map-side and join on user_id (no cartesian, no Python); the
    ledger never window-sorts the raw fact."""
    plan = plan_of(spark, sf_dir, "q_attribution_position")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_" in plan


def test_ar_aging_broadcasts_dim_and_reference(spark, sf_dir):
    """q_ar_aging: the customer dim joins broadcast and the max-date
    reference arrives as a 1-row broadcast constant join; the status
    filter reaches the orders scan."""
    plan = plan_of(spark, sf_dir, "q_ar_aging")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Not(EqualTo(o_orderstatus,F))" in plan  # pushed filter
    assert "BatchEvalPython" not in plan


def test_rolling_stats_window_over_rollup_only(spark, sf_dir):
    """q_rolling_median / q_rolling_corr: the rolling frames run over
    the (priority, day) ROLLUP (aggregate below the window in the
    plan), partitioned by priority — never a window over the raw
    orders fact, never unpartitioned."""
    for name in ("q_rolling_median", "q_rolling_corr"):
        plan = plan_of(spark, sf_dir, name)
        assert "partial_" in plan, name
        specs = re.findall(r"windowspecdefinition\((\w+)", plan)
        assert specs and all(s.startswith("pri") for s in specs), (name, specs)
        assert "BatchEvalPython" not in plan, name


def test_arrow_token_stats_uses_arrow_eval_not_pandas(spark, sf_dir):
    """q_arrow_token_stats: the Python stage must be the Arrow-native
    map (MapInArrow/ArrowEvalPython / PythonMapInArrow node), never a
    row-at-a-time BatchEvalPython, and there is exactly one scan."""
    plan = plan_of(spark, sf_dir, "q_arrow_token_stats")
    assert "Arrow" in plan
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_decile_transition_uses_partitioned_bucketed_rank(spark, sf_dir):
    """q_decile_transition: per-period deciles must come from the
    partitioned two-phase rank — every window spec leads with `period`
    (the offsets prefix sum and the (period, __bucket) local ranks all
    carry the group column first); a naive NTILE's spec would lead
    with the order column `c`. Offsets return by broadcast join."""
    plan = plan_of(spark, sf_dir, "q_decile_transition")
    assert "BroadcastHashJoin" in plan
    assert "ntile" not in plan  # closed-form integer NTILE, no window fn
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs, "expected window specs in the plan"
    for s in specs:
        assert s == "period", s


def test_md5_minhash_reuses_selfjoin_exchange(spark, sf_dir):
    """q_dedup_fuzzy_exact: same LSH band self-join discipline as the
    xxhash64 pipeline — both join sides are the identical signature
    subplan shuffled on the band key, so the executed plan must reuse
    one exchange (AQE decides at runtime: execute, then read)."""
    df = _CAT["q_dedup_fuzzy_exact"].fn(spark, sf_dir)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_md5_simhash_joins_on_chunks_with_integer_hamming(spark, sf_dir):
    """q_dedup_simhash_exact: candidates come from the chunk equi join
    (hash join, never a nested-loop product) and the Hamming filter is
    the bit_count(xor) integer form — the 64-term substring chain falls
    out of whole-stage codegen (measured ~50us/row interpreted)."""
    df = _CAT["q_dedup_simhash_exact"].fn(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan and "substring" not in plan.split("Join")[-1]


def test_hash_sample_prunes_to_two_columns(spark, sf_dir):
    """q_sample_hash: the md5-threshold filter uses only doc_id and
    lang, so the scan must read exactly those two columns — a sampling
    operator that drags the text column through the scan would read
    the whole corpus to keep 1/8 of the rows."""
    plan = plan_of(spark, sf_dir, "q_sample_hash")
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan
    assert "text" not in plan


def test_image_phash_joins_on_chunks_no_python_after_decode(spark, sf_dir):
    """q_dedup_image_phash (batch 40): the only Python in the plan is
    the decode/hash mapInPandas; candidates come from the 16-bit-chunk
    equi join with the bit_count(xor) integer Hamming — never a
    nested-loop product, never a per-pair Python eval."""
    df = _CAT["q_dedup_image_phash"].fn(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_frame_phash_is_one_pass_group(spark, sf_dir):
    """q_dedup_frame_phash: decode fan-out then ONE hash aggregation —
    no join at all (the linear-output representative grouping)."""
    df = _CAT["q_dedup_frame_phash"].fn(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in plan
    assert "MapInPandas" in plan
    # HASH aggregate, not SortAggregate: the representative is a min
    # over a packed bigint key precisely so the rollup stays in
    # whole-stage codegen (min(struct) would force sort-based agg)
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_containment_capped_broadcasts_toplists(spark, sf_dir):
    """q_containment_join_capped (batch 41): candidate generation is a
    BROADCAST join of the |vocab|*17 toplist against the prefix rows —
    the quadratic candidate set is never materialized, and the toplist
    rank is the bucketed two-phase form (no PARTITION BY token
    single-task window over the dense corpus)."""
    df = _CAT["q_containment_join_capped"].fn(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pinned_ann_twins_broadcast_constants(spark, sf_dir):
    """Every IVF/PQ entry, fitted or pinned: the centroid/codebook row
    is broadcast (a fixed-size constant at any corpus scale) and there
    is no Python anywhere in the plan — encode, LUT and ADC are pure
    JVM expressions, and the codebook row itself is a LocalTableScan
    feeding the BroadcastExchange, not a pickled Python RDD (which
    plans as ``Scan ExistingRDD`` and runs a Python task per slot)."""
    for name in (
        "q_sim_ivf",
        "q_sim_pq",
        "q_sim_ivfpq",
        "q_sim_ivf_pinned",
        "q_sim_pq_pinned",
        "q_sim_ivfpq_pinned",
    ):
        df = _CAT[name].fn(spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastExchange" in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "ExistingRDD" not in plan, name
        assert re.search(
            r"BroadcastExchange \(\d+\)\n[ :]*\+- LocalTableScan \(\d+\)", plan
        ), name


@pytest.mark.parametrize(
    "name, max_jobs",
    [("q_sim_pq_pinned", 4), ("q_sim_pq", 5), ("q_sim_ivfpq", 6)],
)
def test_pq_encodes_per_row_within_job_bound(spark, sf_dir, name, max_jobs):
    """The PQ entries encode each vector and score each query as
    per-row array expressions over a one-row broadcast codebook: no
    per-subspace code window over (vec_id, sub), no per-subspace LUT
    join on (sub, code), no aggregate keyed by vec_id (neither a pivot
    back to one row per vector nor a groupBy(query_id, vec_id) ADC
    SUM), and the noop write stays within its job bound (codebook and
    query broadcasts, the probe and shortlist shuffles, the result).
    Fit jobs run at build time and are not counted."""
    import uuid

    df = _CAT[name].fn(spark, sf_dir)
    sc = spark.sparkContext
    group = f"pq_jobs_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, f"{name} noop write")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"windowspecdefinition\([^)]*\bsub#", plan)
    assert not re.search(r"HashJoin \[[^\]]*\b(sub|code)#", plan)
    assert not re.search(r"HashAggregate\(keys=\[[^\]]*\bvec_id#", plan)
    assert "Window" in plan  # the shortlist and re-rank windows remain


def test_label_propagation_kstep_rounds_run_as_one_plan(spark, sf_dir):
    """The k-step LPA rounds read the label table once each, so only
    the edge set is checkpointed and the rounds run in the noop write:
    build + write stay within 16 jobs in their own job group (26 when
    each of the 4 rounds was checkpointed)."""
    import uuid

    sc = spark.sparkContext
    group = f"lpa_kstep_jobs_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "q_label_propagation_kstep build + noop write")
    try:
        df = _CAT["q_label_propagation_kstep"].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 16


def test_collocations_single_pair_rollup(spark, sf_dir):
    """q_collocations_lift (batch 49): the corpus-sized pair rollup is
    materialized ONCE (localCheckpoint -> ExistingRDD scans downstream)
    — the three marginal re-aggregations and the lift join must read
    the tiny pair table, never re-run the scan+window lineage (the
    naive plan measured 4 parquet scans / 22 exchanges). Top-20 is a
    TakeOrdered, never a global sort."""
    plan = plan_of(spark, sf_dir, "q_collocations_lift")
    assert plan.count("Scan parquet") == 0  # pc is checkpointed
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_winnow_single_scan_single_exchange(spark, sf_dir):
    """q_winnow_fingerprints (batch 49): one parquet scan, one doc_id
    exchange shared by the gram window, the winnow frame, and the
    rollups; the gram md5 is projected once BEFORE the frame-min (no
    per-frame recompute); no joins, no Python."""
    plan = plan_of(spark, sf_dir, "q_winnow_fingerprints")
    # tree header + node detail each print the scan once -> count nodes
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_winnow_overlap_reuses_selfjoin_exchange(spark, sf_dir):
    """q_winnow_overlap (batch 50): both self-join sides are the
    identical winnow-selection subplan shuffled on the fingerprint, so
    the EXECUTED plan reuses one exchange (the minhash_near_dups
    discipline) and hash-joins (shuffle_hash hint — output needs no
    sort order)."""
    df = _CAT["q_winnow_overlap"].fn(spark, sf_dir)
    df.collect()  # AQE decides reuse at runtime: execute, then read
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ReusedExchange" in plan
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_chunk_cdc_single_scan_takeordered(spark, sf_dir):
    """q_chunk_cdc (batch 50): one parquet scan, the boundary-flag and
    prefix-sum windows plus the chunk rebuild all ride the doc_id
    exchange, and the top-50 duplicated chunks come from a TakeOrdered
    — never a global sort of the chunk table."""
    plan = plan_of(spark, sf_dir, "q_chunk_cdc")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_rrf_fusion_bounded_rank_windows(spark, sf_dir):
    """q_rrf_fusion (batch 50): both rankings reach the fusion through
    TakeOrdered top-100 extractions (the unpartitioned row_number
    windows run AFTER a limit, on a bounded constant never the
    corpus); no Python, no cartesian."""
    plan = plan_of(spark, sf_dir, "q_rrf_fusion")
    assert plan.count("TakeOrderedAndProject") >= 3  # 2 top-100 + top-20
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_drift_psi_two_rollups_broadcast_totals(spark, sf_dir):
    """q_drift_psi (batch 52): the bin rollup and the per-type totals
    are both map-side-combined HashAggregates, totals ride a broadcast
    join back onto the bin table, and nothing windows over the corpus
    (the PSI accumulation is a plain aggregation)."""
    plan = plan_of(spark, sf_dir, "q_drift_psi")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_jsonl_partitioned_prunes_listing(spark, sf_dir):
    """x_jsonl_partitioned (batch 61): the lang filter must land in the
    scan's PartitionFilters (directory pruning) — only the lang=en
    partition's JSON files parse, on a TEXT format."""
    plan = plan_of(spark, sf_dir, "x_jsonl_partitioned")
    assert "PartitionFilters" in plan
    import re as _re

    m = _re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "lang" in m.group(1), plan[:2000]


def test_round11_entries_plan_shapes(spark, sf_dir):
    """Plan discipline for the round-11 batch entries: the temperature
    rate table and the negative-sampling draw table ride broadcast
    joins (never a shuffled exchange for a languages/160-row side),
    the cross-corpus dedup has no cartesian product, and the
    quantile transform reads only the three columns it projects."""
    plan = plan_of(spark, sf_dir, "q_sample_temperature")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, sf_dir, "q_negative_sampling")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, sf_dir, "q_dedup_cross_corpus")
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, sf_dir, "q_quantile_normalize")
    assert "event_id" in plan and "value" in plan
    # unprojected events columns must not reach the scan
    assert "props" not in plan and "user_id" not in plan


def test_media_predicate_reaches_the_scan(spark, sf_dir):
    """The r11 modality pushdown: single-modality media entries filter
    doc_id % 3 BELOW documents_as_media, so the predicate must appear
    as a scan-level filter (mapInPandas would otherwise synthesize
    payloads for the whole corpus)."""
    import re

    for name in ("q_multimodal_audio", "q_dedup_audio_hash",
                 "q_dedup_frame_phash", "q_image_channel_stats"):
        plan = plan_of(spark, sf_dir, name)
        assert re.search(r"doc_id#\d+L?\)?\s*%\s*3", plan), name


def test_native_udtf_is_arrow_eval_with_pruned_input(spark, sf_dir):
    """q_udtf_native must execute through the NATIVE Python UDTF node
    in Arrow eval mode (ArrowEvalPythonUDTF — not the fallback
    BatchEvalPythonUDTF, and not the explode q_udtf rides), with the
    quantity filter and 3-column projection applied BELOW the UDTF
    (the Python boundary blocks pushdown, so they must be in its
    input subtree, reaching the parquet scan)."""
    plan = plan_of(spark, sf_dir, "q_udtf_native")
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan
    assert "Generate" not in plan  # the explode form would show one
    # filter + projection pushed to the scan below the UDTF
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
        "l_quantity:" in plan
    )


def test_batch76_plan_shapes(spark, sf_dir):
    """Round-12 batch 76: debounce's lag window is partitioned (no
    empty-partition global funnel); prefix dedup is one exchange on
    the md5 key; span corruption and dim stats keep their explode
    map-side with a partial-aggregated (combinable) rollup; regex
    funcs stay whole-stage-codegen JVM expressions (no Python)."""
    import re

    plan = plan_of(spark, sf_dir, "q_event_debounce")
    assert re.search(r"windowspecdefinition\(user_id#\d+L, event_type#\d+", plan)

    plan = plan_of(spark, sf_dir, "q_dedup_prefix_tokens")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_count" in plan  # map-side combine below the exchange

    for name in ("q_span_corruption", "q_embed_dim_stats"):
        plan = plan_of(spark, sf_dir, name)
        assert "Generate" in plan  # the explode, map-side
        assert "partial_" in plan  # combinable agg
        assert "EvalPython" not in plan and "MapInPandas" not in plan, name

    plan = plan_of(spark, sf_dir, "q_regex_funcs")
    assert "* Project" in plan  # the '*' marks whole-stage codegen
    assert "EvalPython" not in plan


def test_batch77_plan_shapes(spark, sf_dir):
    """q_asof_join_nearest is ONE union-merge: a single key exchange
    feeding one Window node computing both frames — never two as-of
    joins re-joined (no SortMergeJoin/ShuffledHashJoin anywhere);
    q_map_funcs stays JVM higher-order expressions (no Python)."""
    import re

    plan = plan_of(spark, sf_dir, "q_asof_join_nearest")
    assert "Join" not in plan  # no self-join of two asof passes
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    # one shuffle on the merge key + the union below it
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Union" in plan

    plan = plan_of(spark, sf_dir, "q_map_funcs")
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "map_filter" in plan and "transform_values" in plan


def test_batch83_skew_split_fires(spark, sf_dir):
    """q_join_skew_aqe must actually SPLIT the hot partition at runtime:
    OptimizeSkewedJoin marks the SortMergeJoin skew=true and reads the
    hot side through a skewed AQEShuffleRead (the split is by
    map-output ranges — the entry round-robins the fact first because
    the single-row-group toy parquet yields ONE mapper, see
    _SKEW_FACT_MAPS). Executed inside the builder; LAST_SKEW_PLAN
    carries the final adaptive plan. Session confs must restore."""
    from kafka_s3_etl_spark.plans import execution as ex

    keys = list(ex._SKEW_CONFS) + [
        "spark.sql.adaptive.forceOptimizeSkewedJoin"
    ]
    before = {k: spark.conf.get(k, None) for k in keys}
    df = _CAT["q_join_skew_aqe"].fn(spark, sf_dir)
    assert df.count() > 0
    t = ex.LAST_SKEW_PLAN["text"]
    assert "skew=true" in t, "OptimizeSkewedJoin did not split"
    assert "skewed" in t  # the AQEShuffleRead node on the hot side
    after = {k: spark.conf.get(k, None) for k in keys}
    assert after == before, "skew confs leaked into the session"


def test_skew_split_fires_without_force_at_sf01(spark):
    """The SIZE TEST itself must split the hot partition — no force
    flag. At sf0.1 the hot key carries ~5.7 MB of shuffle bytes vs the
    16 KB advisory, so OptimizeSkewedJoin's size test (partition >
    max(threshold, factor * median)) passes on its own merits — the
    path a production 100 TB shuffle takes, where nobody sets
    forceOptimizeSkewedJoin (VERDICT r13 #5). The registered entry
    keeps force=true only as sf0.001 driver-scale insurance."""
    from kafka_s3_etl_spark.plans import execution as ex

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 testdata absent")
    old = ex.SKEW_FORCE
    ex.SKEW_FORCE = False
    try:
        df = _CAT["q_join_skew_aqe"].fn(spark, sf01)
        assert df.count() > 0
        t = ex.LAST_SKEW_PLAN["text"]
        assert "skew=true" in t, (
            "size-test path did not split the hot partition at sf0.1"
        )
        assert "skewed" in t
    finally:
        ex.SKEW_FORCE = old


def test_batch83_cbo_static_broadcast(spark, sf_dir):
    """x_cbo_broadcast's captured plan must be a STATIC plan (no
    AdaptiveSparkPlan) whose two dim joins are BroadcastHashJoin chosen
    by the planner from ANALYZE TABLE catalog stats (rowCount
    present); session confs must restore."""
    from kafka_s3_etl_spark.plans import execution as ex

    before = {k: spark.conf.get(k, None) for k in ex._CBO_CONFS}
    df = _CAT["x_cbo_broadcast"].fn(spark, sf_dir)
    assert df.count() > 0
    t = ex.LAST_CBO_PLAN["text"]
    assert t.count("BroadcastHashJoin") == 2
    assert "AdaptiveSparkPlan" not in t
    assert "SortMergeJoin" not in t
    after = {k: spark.conf.get(k, None) for k in ex._CBO_CONFS}
    assert after == before, "CBO confs leaked into the session"
    # the stats the planner used are real catalog statistics
    tag = ex._table_tag(sf_dir)
    stats = (
        spark.sql(
            f"DESCRIBE TABLE EXTENDED graft_cbo_customer_{tag}"
        )
        .filter("col_name = 'Statistics'")
        .collect()
    )
    assert stats and "rows" in stats[0].data_type


def test_xml_document_renders_in_one_shuffle_free_job(spark, tmp_path):
    """The JSON->XML document is one fused pass over a single-partition
    scan: the caller's orderBy("idx") is a local sort (no Exchange, so
    no range-sampling job and no shuffle), and the whole render is
    exactly one Spark job."""
    import json
    import uuid

    from kafka_s3_etl_spark.operators.xml_pipeline import xml_fragments

    path = tmp_path / "products.json"
    path.write_text(json.dumps([{"ean": str(i), "price": 1.0 * i} for i in range(50)]))
    df = xml_fragments(spark, str(path)).orderBy("idx")

    sc = spark.sparkContext
    group = f"xml_one_job_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "xml_fragments single job")
    try:
        assert len(df.collect()) == 50
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "Exchange" not in plan
    assert "MapInPandas" in plan and "EvalPython" not in plan
