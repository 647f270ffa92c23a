"""Storage-layout and piggybacked-metrics shapes (round 7, batch 7c):
bucketed co-located joins, partition-pruned layouts, Observation
metrics, and ignore-nulls window navigation.

* x_bucketed_join — THE canonical 100 TB shuffle-elimination: both
  fact tables written `bucketBy(8, join_key).sortBy(join_key)` (each
  side pre-repartitioned by the same hash so every bucket is ONE file
  and the sort metadata survives), then joined and re-aggregated on
  the bucket key. The whole plan runs with ZERO hash-partitioning
  exchanges — scan, sort-merge join, and the per-key rollup all reuse
  the on-disk bucketing (pinned in tests/test_plans.py). On a real
  cluster this is the nightly-join pattern: pay the layout once at
  write time, join shuffle-free forever after.
* x_partitioned_write — Hive-style partition layout + pruning: events
  written `partitionBy(event_type)`, read back with an equality
  filter; the scan's PartitionFilters prune whole directories before
  any IO (the coarse sibling of parquet min/max pruning; pinned).
* q_observed_metrics — the Observation API: data-quality counters
  (row count, exact-cents total, status breakdown) collected DURING a
  real pass over the table (a noop-sink write) — zero extra scans, the
  100 TB way to audit a pipeline run. The metrics row is the result,
  hash-checked against plain aggregate SQL.
* x_dpp_join — dynamic partition pruning: the partitioned fact joined
  to a tiny static dimension filtered on a NON-key attribute; the
  fact-side partition filter only exists at runtime
  (dynamicpruningexpression from the broadcast dim, pinned). The
  star-schema complement of x_partitioned_write's static pruning.
* x_bloom_filter_join — runtime bloom-filter semi-join reduction: a
  selective orders filter makes Catalyst inject
  might_contain(xxhash64(l_orderkey)) into the lineitem scan so
  non-joining probe rows die before the shuffle. The injection
  heuristics assume cluster-scale sides, so the entry pins the
  thresholds for ITS optimization only (session confs saved/restored
  around a forced plan materialization; pinned by test).
* x_schema_evolution — mergeSchema over two file eras: append-only
  column adds with NULL back-fill, no history rewrite.
* q_window_first_last — ignore-nulls window navigation
  (first_value/last_value/nth_value): last-known-good and
  second-reading semantics over a deliberately nullable measure,
  running and full frames, total-ordered by (ts, event_id).

Exactness: money in BIGINT cents (house convention); the nav entry
only SELECTS existing doubles (no float arithmetic), so values are
bit-identical by construction.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.session import pinned_confs
from kafka_s3_etl_spark.sources.tables import load_table, local_frame

_O_CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
_LI_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"

_N_BUCKETS = 8


def _table_tag(sf_dir: str) -> str:
    return re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_")


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders + lineitem as bucketed, bucket-sorted tables
    (once per session+sf: the in-memory catalog entry is the cache
    key). repartition by the SAME hash Spark's bucketing uses, so each
    of the 8 buckets is exactly one file — multi-file buckets would
    void the per-bucket sort metadata and re-insert Sort nodes."""
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    to = f"graft_bkt_orders_{_table_tag(sf_dir)}"
    tl = f"graft_bkt_lineitem_{_table_tag(sf_dir)}"
    if not spark.catalog.tableExists(to):
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .repartition(_N_BUCKETS, "o_orderkey")
            .write.bucketBy(_N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", scratch_dir("bkt_orders"))
            .mode("overwrite")
            .saveAsTable(to)
        )
    if not spark.catalog.tableExists(tl):
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice")
            .repartition(_N_BUCKETS, "l_orderkey")
            .write.bucketBy(_N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", scratch_dir("bkt_lineitem"))
            .mode("overwrite")
            .saveAsTable(tl)
        )
    return to, tl


@register(
    "x_bucketed_join",
    category="lakehouse",
    cost=1,
    doc=(
        "Bucketed co-located join: orders and lineitem stored "
        "bucketBy(8, key).sortBy(key) (one file per bucket), then "
        "sort-merge joined and rolled up per order with ZERO "
        "hash-partitioning exchanges — the pay-the-layout-once, "
        "join-shuffle-free-forever pattern; plan pinned."
    ),
    oracle=f"""
        SELECT o.o_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(SUM({_LI_CENTS}) AS DOUBLE) / 100 AS line_revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey
    """,
)
def x_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    to, tl = _bucketed_tables(spark, sf_dir)
    o = spark.table(to)
    li = spark.table(tl)
    return (
        # merge hint: at toy SF Spark would otherwise broadcast one
        # side; the bucketed-SMJ shape is what this entry exists to pin
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            (F.sum(F.expr(_LI_CENTS)).cast("double") / 100).alias(
                "line_revenue"
            ),
        )
    )


# partitioned events layout per sf_dir (testdata immutable)
_PARTITIONED_CACHE: dict[str, str] = {}


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process+sf) the Hive-style
    ``partitionBy(event_type)`` events layout both pruning entries read."""
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    if sf_dir not in _PARTITIONED_CACHE:
        out = scratch_dir("events_parted")
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "value", "event_type"
        ).write.partitionBy("event_type").mode("overwrite").parquet(out)
        _PARTITIONED_CACHE[sf_dir] = out
    return _PARTITIONED_CACHE[sf_dir]


@register(
    "x_partitioned_write",
    category="lakehouse",
    cost=1,
    doc=(
        "Hive-style partition pruning: events written "
        "partitionBy(event_type), read back WHERE event_type='click' — "
        "the scan's PartitionFilters eliminate the other four "
        "directories before any IO (plan pinned); values and "
        "microsecond timestamps round-trip exactly."
    ),
    oracle="""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
               event_type
        FROM events WHERE event_type = 'click'
    """,
)
def x_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(_partitioned_events(spark, sf_dir))
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            "event_type",
        )
    )


# The five event_type values are fixed by the testdata generator
# (TESTDATA.md); the tier attribute is OUR dimension metadata, so the
# paid/free/ops split is engine-side truth, not data-derived — the same
# static dim appears as VALUES in the oracle SQL.
_TYPE_TIERS = [
    ("click", "paid"),
    ("view", "free"),
    ("purchase", "paid"),
    ("signup", "free"),
    ("error", "ops"),
]
_TIER_VALUES = ", ".join(f"('{t}', '{x}')" for t, x in _TYPE_TIERS)


@register(
    "x_dpp_join",
    category="lakehouse",
    cost=1,
    doc=(
        "Dynamic partition pruning: the partitioned events fact joined "
        "to a tiny tier dimension filtered on a NON-key attribute "
        "(tier='paid') — the partition filter on the fact cannot be "
        "written statically, so Catalyst injects a "
        "dynamicpruningexpression that prunes fact directories at "
        "runtime from the broadcast dim (plan pinned). THE star-schema "
        "scan-reduction pattern at 100 TB: only the partitions the dim "
        "survivors name are ever read."
    ),
    oracle=f"""
        SELECT e.event_type, d.tier,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE)
                   / 100 AS total_value
        FROM events e
        JOIN (VALUES {_TIER_VALUES}) AS d(event_type, tier)
          ON e.event_type = d.event_type
        WHERE d.tier = 'paid'
        GROUP BY e.event_type, d.tier
    """,
)
def x_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = spark.read.parquet(_partitioned_events(spark, sf_dir))
    # The one createDataFrame(list) left in the package (named in
    # tests/test_local_frame.py): a local_frame dim is a LocalRelation,
    # the optimizer folds the tier filter into it, and then no
    # dynamicpruningexpression is planned on the fact scan.
    dim = spark.createDataFrame(
        _TYPE_TIERS, "event_type string, tier string"
    ).filter(F.col("tier") == "paid")
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type", "tier")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).cast(
                    "double"
                )
                / 100
            ).alias("total_value"),
        )
    )


# Runtime-filter confs the bloom entry pins for ITS plan only (saved and
# restored around a forced optimization; see x_bloom_filter_join).
_BLOOM_CONFS = {
    # on by default in Spark 4, pinned anyway so the entry is explicit
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # the injection heuristics assume cluster-scale inputs: the probe
    # side must look expensive enough to be worth filtering (10 GiB
    # default) and the build side must not be broadcast-able (a
    # broadcast hash join already prunes probe rows for free). At toy
    # SF neither holds, so pin both to force the cluster-shape plan.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "x_bloom_filter_join",
    category="lakehouse",
    cost=1,
    doc=(
        "Runtime bloom-filter join (semi-join reduction): a selective "
        "filter on orders makes Catalyst inject a bloom filter built "
        "from the filtered keys into the lineitem scan "
        "(might_contain(xxhash64(l_orderkey)) — plan pinned), so probe "
        "rows that cannot join die at the scan instead of riding the "
        "shuffle. The 100 TB shuffle-starver for selective fact-fact "
        "joins; results are conf-independent (session confs restored "
        "after a forced optimization, pinned by test)."
    ),
    oracle=f"""
        SELECT l.l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                   AS sum_qty,
               CAST(SUM({_LI_CENTS}) AS DOUBLE) / 100 AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l.l_linestatus
    """,
)
def x_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            (F.sum(F.expr(_LI_CENTS)).cast("double") / 100).alias("revenue"),
        )
    )
    # Optimizer confs are read when the plan is optimized, which is
    # normally at first action — AFTER this builder returns. Force the
    # (lazy, cached) optimization now, under the pinned confs, then
    # restore the session exactly: the returned DataFrame keeps the
    # bloom-filtered plan, later catalog queries see a vanilla session.
    with pinned_confs(spark, _BLOOM_CONFS):
        df._jdf.queryExecution().executedPlan()
    return df


@register(
    "q_observed_metrics",
    category="quality",
    cost=1,
    doc=(
        "Observation API: row count, exact-cents revenue total, and "
        "open-status count collected as piggybacked metrics DURING one "
        "real pass over orders (a noop-sink write) — zero extra "
        "table scans for pipeline-run auditing. The metrics row is the "
        "query result."
    ),
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({_O_CENTS}) AS BIGINT) AS total_cents,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_open
        FROM orders
    """,
)
def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    obs = Observation()
    observed = load_table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr(_O_CENTS)).alias("total_cents"),
        F.sum(
            F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)
        ).alias("n_open"),
    )
    # the one real action the metrics ride on (a production pipeline
    # would be writing its actual output here)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_frame(
        spark,
        [(m["n_rows"], m["total_cents"], m["n_open"])],
        "n_rows bigint, total_cents bigint, n_open bigint",
    )


# DSv2 + footer-stats aggregation confs x_agg_pushdown pins for ITS
# plan only (same save/force/restore pattern as x_bloom_filter_join)
_AGG_PUSH_CONFS = {
    "spark.sql.parquet.aggregatePushdown": "true",
    # aggregate pushdown is a DSv2 feature; parquet defaults to the v1
    # path, so route it through v2 for this plan
    "spark.sql.sources.useV1SourceList": "",
}


@register(
    "x_agg_pushdown",
    category="lakehouse",
    cost=1,
    doc=(
        "Parquet footer aggregate pushdown: COUNT(*)/MIN/MAX answered "
        "from row-group statistics (PushedAggregation on the DSv2 "
        "scan, plan-pinned) — table-level audit numbers in metadata "
        "time, no data pages read. At 100 TB this is the difference "
        "between a footer sweep and a full-table scan for row counts "
        "and key bounds. Timestamp MIN/MAX stays un-pushed (Spark "
        "limitation), so the entry aggregates the long key and the "
        "double measure, both stats-supported."
    ),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
               CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM orders
    """,
)
def x_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    with pinned_confs(spark, _AGG_PUSH_CONFS):
        # the v1/v2 source choice is made when the read resolves, so
        # both the read AND the forced optimization sit inside the
        # pinned-conf window; routed through the house loader so the
        # footer-sniff/UTC/schema-pin canary contract covers this scan
        # too (r7 advice — it was the only query-path direct read)
        df = load_table(spark, sf_dir, "orders").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        df._jdf.queryExecution().executedPlan()
    return df


# schema-evolved two-batch layout per sf_dir (testdata immutable)
_EVOLVED_CACHE: dict[str, str] = {}


@register(
    "x_schema_evolution",
    category="lakehouse",
    cost=1,
    doc=(
        "Parquet schema evolution: an early-era file batch (orderkey, "
        "totalprice) and a later one that added o_orderstatus live in "
        "one dataset; mergeSchema=true unions the footers and "
        "back-fills the missing column with NULL — the append-only "
        "lakehouse contract that lets a 100 TB table add columns "
        "without rewriting history. Values pass through untouched "
        "(doubles bit-exact)."
    ),
    oracle="""
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END
                   AS o_orderstatus
        FROM orders
    """,
)
def x_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    if sf_dir not in _EVOLVED_CACHE:
        out = scratch_dir("evolved")
        o = load_table(spark, sf_dir, "orders")
        # era 1: the original two-column schema (even keys)
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(out + "/era=1")
        # era 2: the widened schema (odd keys)
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.mode("overwrite").parquet(out + "/era=2")
        _EVOLVED_CACHE[sf_dir] = out
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(_EVOLVED_CACHE[sf_dir])
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


@register(
    "q_window_first_last",
    category="window",
    doc=(
        "Ignore-nulls window navigation: last-known-good (running "
        "first_value/last_value over a nullable measure) and the "
        "second non-null reading (nth_value full-frame), total-ordered "
        "by (ts, event_id) per user. Pure selection — no float "
        "arithmetic, bit-identical by construction."
    ),
    oracle="""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               first_value(v IGNORE NULLS) OVER w_run AS v_first_seen,
               last_value(v IGNORE NULLS) OVER w_run AS v_last_good,
               nth_value(v, 2 IGNORE NULLS) OVER w_full AS v_second
        FROM (
          SELECT event_id, user_id, ts,
                 CASE WHEN event_type <> 'error' THEN value END AS v
          FROM events
        )
        WINDOW w_run AS (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ),
        w_full AS (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_full = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.first_value("v", ignoreNulls=True).over(w_run).alias("v_first_seen"),
        F.last_value("v", ignoreNulls=True).over(w_run).alias("v_last_good"),
        F.nth_value("v", 2, ignoreNulls=True).over(w_full).alias("v_second"),
    )


# Round 10, batch 48 — capability-gated Avro round-trip (the
# s_session_timeout_tws pattern): Spark
# treats Avro as an external module, and this build carries no
# spark-avro connector jar (probed r10: `format("avro")` raises
# "Failed to find data source"). The entry self-enables the moment the
# jar appears; until then registry.GATED records the live reason and
# the SURVEY totals tripwire will prompt the docs update.
import glob as _glob
import os as _os

import pyspark as _pyspark

_AVRO_JARS = _glob.glob(
    _os.path.join(_os.path.dirname(_pyspark.__file__), "jars", "spark-avro*")
)

if _AVRO_JARS:

    _AVRO_CACHE: dict[str, str] = {}

    @register(
        "x_avro_roundtrip",
        category="lakehouse",
        cost=1,
        doc=(
            "Avro row-format round-trip: events written as Avro once "
            "per process, read back and hash-matched against the "
            "parquet truth — the row-oriented interchange format a "
            "Kafka-adjacent warehouse speaks."
        ),
        oracle="""
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
                   event_type
            FROM events WHERE value >= 50.0
        """,
    )
    def x_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        from kafka_s3_etl_spark.streaming.runner import scratch_dir

        if sf_dir not in _AVRO_CACHE:
            out = scratch_dir("events_avro")
            load_table(spark, sf_dir, "events").select(
                "event_id", "user_id", "ts", "value", "event_type"
            ).write.mode("overwrite").format("avro").save(out)
            _AVRO_CACHE[sf_dir] = out
        return (
            spark.read.format("avro")
            .load(_AVRO_CACHE[sf_dir])
            .filter(F.col("value") >= 50.0)
            .select(
                "event_id",
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                "value",
                "event_type",
            )
        )

else:
    from kafka_s3_etl_spark.plans.registry import GATED

    GATED["x_avro_roundtrip"] = (
        "spark-avro connector jar absent (Avro is an external data "
        "source module since Spark 2.4; installs disallowed) — "
        "self-enables when the jar appears on the classpath"
    )
