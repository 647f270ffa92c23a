"""Round-4 lakehouse/aggregation additions.

Registered as the LAST plan module so the driver sweep's existing
first-50 window (pinned in tests/test_plans.py) is unchanged:

* q_collect_sorted — ordered list aggregation (collect_list +
  array_sort vs DuckDB's ordered string_agg);
* q_minmax_by — argmin/argmax aggregation, tie-broken determinstically
  via lexicographic struct min/max (plain max_by/arg_max is
  tie-ambiguous on BOTH engines — the testdata has a duplicate
  o_totalprice within a status);
* s_cdc_upsert — the streaming CDC-apply marquee: a change stream
  folded into a versioned parquet table with foreachBatch +
  ``merge_upsert``, one micro-batch at a time. The change-set carries
  at most one change per key, so the final state is independent of how
  the stream is micro-batched (asserted by forcing 4 single-file
  batches) and equals the batch MERGE — which is the oracle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table


@register(
    "q_collect_sorted",
    category="aggregation",
    doc=(
        "Ordered list aggregation: per customer the sorted, comma-joined "
        "list of order priorities (collect_list is unordered by contract; "
        "array_sort makes the result deterministic and engine-portable)."
    ),
    oracle="""
        SELECT o_custkey,
               string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
                   AS priorities,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey
    """,
)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("o_orderpriority"))).alias(
            "priorities"
        ),
        F.count("*").cast("bigint").alias("n_orders"),
    )


@register(
    "q_minmax_by",
    category="aggregation",
    doc=(
        "argmin/argmax: per status, the order key holding the extreme "
        "total price. Tie-broken via lexicographic struct min/max — both "
        "engines' native max_by/arg_max pick an ARBITRARY row on value "
        "ties, which the testdata actually contains."
    ),
    oracle="""
        SELECT o_orderstatus,
               (max(struct_pack(p := o_totalprice, k := o_orderkey))).k
                   AS best_key,
               (min(struct_pack(p := o_totalprice, k := o_orderkey))).k
                   AS worst_key,
               max(o_totalprice) AS best_price
        FROM orders GROUP BY o_orderstatus
    """,
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pk = F.struct(
        F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
    )
    return orders.groupBy("o_orderstatus").agg(
        F.max(pk)["k"].alias("best_key"),
        F.min(pk)["k"].alias("worst_key"),
        F.max("o_totalprice").alias("best_price"),
    )


def _cdc_changes(target: DataFrame) -> DataFrame:
    """The q_merge_upsert change-set: <= 1 change per key (5%-bumped
    updates for keys % 7, shifted-key inserts for keys % 97), so
    applying any micro-batch partition of it in any order converges to
    the same table."""
    updates = target.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.concat(F.lit("U_"), F.col("o_orderstatus")).alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.05).alias("o_totalprice"),
    )
    inserts = target.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return updates.unionByName(inserts)


@register(
    "s_cdc_upsert",
    category="streaming",
    cost=3,
    doc=(
        "Streaming CDC apply: the change stream folded into a "
        "bucket-partitioned parquet table via foreachBatch + "
        "apply_cdc_batch — each micro-batch MERGEs into and rewrites "
        "ONLY the key-range partitions its keys hash into (dynamic "
        "partition overwrite), the lakehouse upsert loop without a "
        "table format. 4 forced single-file micro-batches; result "
        "equals the one-shot batch MERGE."
    ),
    oracle="""
        WITH t AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        ), s AS (
          SELECT o_orderkey, o_custkey,
                 'U_' || o_orderstatus AS o_orderstatus,
                 o_totalprice * CAST(1.05 AS DOUBLE) AS o_totalprice
          FROM orders WHERE o_orderkey % 7 = 0
          UNION ALL
          SELECT CAST(o_orderkey + 1000000 AS BIGINT), o_custkey, 'N', o_totalprice
          FROM orders WHERE o_orderkey % 97 = 0
        )
        SELECT CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderkey ELSE t.o_orderkey END AS o_orderkey,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice
        FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
    """,
)
def s_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.merge import (
        apply_cdc_batch,
        read_partitioned_target,
        write_partitioned_target,
    )
    from kafka_s3_etl_spark.streaming.runner import (
        _SRC_CACHE,
        run_stream,
        scratch_dir,
    )

    target = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    schema = target.schema
    cols = [f.name for f in schema.fields]

    cache_key = (sf_dir, "cdc_changes")
    if cache_key not in _SRC_CACHE:
        d = scratch_dir("cdc_changes")
        # Cluster the change feed by key bucket (a key-hash-partitioned
        # CDC topic delivers exactly this locality): each of the 4
        # single-file micro-batches then touches ~1/4 of the target's
        # partitions instead of all of them, which is what makes the
        # partition-pruned apply rewrite less than the full table.
        from kafka_s3_etl_spark.operators.merge import key_bucket

        _cdc_changes(target).repartitionByRange(
            4, key_bucket("o_orderkey", 16)
        ).write.mode("overwrite").parquet(d)
        _SRC_CACHE[cache_key] = d
    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force one batch per file
        .parquet(_SRC_CACHE[cache_key])
    )

    # The pristine bucket-partitioned target is setup, not the operator:
    # materialize it once per sf_dir and file-copy per run (each run
    # rewrites its own copy in place).
    pristine_key = (sf_dir, "cdc_pristine")
    if pristine_key not in _SRC_CACHE:
        p = os.path.join(scratch_dir("cdc_pristine"), "t")
        write_partitioned_target(target, p, "o_orderkey")
        _SRC_CACHE[pristine_key] = p
    table = os.path.join(scratch_dir("cdc_target"), "t")
    shutil.copytree(_SRC_CACHE[pristine_key], table)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(batch_df.select(cols), table, "o_orderkey")

    run_stream(changes.writeStream.foreachBatch(apply_batch))
    return read_partitioned_target(spark, table, cols)


@register(
    "q_resample_ffill",
    category="temporal",
    doc=(
        "Time-series gap fill: the event stream resampled onto a dense "
        "per-user daily grid with forward fill (time_bucket_gapfill + "
        "locf shape). One corpus pass into a checkpointed daily rollup; "
        "a lead-window explode carries each observation to the next — "
        "no grid join, output rows = keys x days exactly. NULL values "
        "are skipped (locf/IGNORE-NULLS semantics) in both engines."
    ),
    oracle="""
        WITH daily AS (
          SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                 (max(struct_pack(t := ts, e := event_id, v := value))).v AS v
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ),
        bounds AS (SELECT user_id, MIN(day) AS lo FROM daily GROUP BY 1),
        mx AS (SELECT MAX(day) AS hi FROM daily),
        grid AS (
          SELECT b.user_id,
                 CAST(UNNEST(generate_series(
                     CAST(b.lo AS TIMESTAMP), CAST(mx.hi AS TIMESTAMP),
                     INTERVAL 1 DAY)) AS DATE) AS day
          FROM bounds b CROSS JOIN mx
        )
        SELECT g.user_id, g.day,
               last_value(d.v IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_ffill,
               d.v IS NOT NULL AS observed
        FROM grid g
        LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.temporal import resample_ffill

    return resample_ffill(load_table(spark, sf_dir, "events"))


@register(
    "q_graph_pagerank",
    category="dedup",
    cost=4,
    doc=(
        "PageRank centrality over the MinHash near-dup graph — the "
        "canonical-representative signal for dedup clusters (keep the "
        "hub). Pregel-lite iteration: one groupBy + one join per round, "
        "localCheckpoint lineage cuts, dangling mass redistributed via "
        "a 1-row broadcast. Rows-only (float fixpoint); matches a numpy "
        "power-iteration reference in tests."
    ),
    oracle=None,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import minhash_near_dups
    from kafka_s3_etl_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dups(docs)
    return pagerank(pairs, docs.select("doc_id"), iters=5)
