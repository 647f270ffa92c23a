"""Stream-stream OUTER and SEMI join demos (watermark-driven emission)
over the same time-bounded purchase/follow-up join.

The inner half of a time-bounded stream-stream join emits rows as they
match (batching-invariant); the OUTER halves — "this purchase had no
follow-up within the hour" and, full-outer only, "this event follows no
purchase" — can only emit once the watermark proves no match can still
arrive, and a SEMI join drops its unmatched purchases at that same
point. So the demos run live over ``runner.events_then_sentinel``:

* delivery 1 — the real events (both join sides read the same files);
* delivery 2 — one sentinel row 3 hours past max(ts), which advances
  both sides' watermarks beyond every join window and forces the
  engine to evict every surviving unmatched row in the no-data batch
  that follows.

After the sentinel the result is deterministic and equals the batch
join — the DuckDB oracle. The sentinel (negative ids) is filtered out
of the returned result.

State-scale note: both sides are watermarked and the join condition
bounds event time on both ends, so per-key state is finite — identical
to s_stream_join; the outer flavor adds only the eviction pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.streaming.runner import events_then_sentinel, run_stream


def _purchase_followups(
    left: DataFrame, right: DataFrame, how: str
) -> DataFrame:
    """Purchases joined to any same-user event in the following hour.
    OUTER flavors: unmatched rows surface with the other side NULL
    after the watermark evicts them (b_id NULL for follow-up-less
    purchases and — full outer only — a_id NULL for events following
    no purchase). LEFT SEMI: each matched purchase emits exactly once
    (left columns only — the right side is existence-checked, never
    projected); unmatched purchases are evicted WITHOUT emission once
    the watermark proves no follow-up can arrive."""
    l_side = (
        left.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("a_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", "1 hour")
    )
    r_side = right.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", "1 hour")
    joined = l_side.join(
        r_side,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )
    if how == "left_semi":
        return joined.select("a_id")
    return joined.select("a_id", "b_id")


def left_outer_join_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _outer_join_demo(spark, sf_dir, "left_outer")


def full_outer_join_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _outer_join_demo(spark, sf_dir, "full_outer")


def semi_join_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _outer_join_demo(spark, sf_dir, "left_semi")


def _outer_join_demo(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    schema, src, deliveries = events_then_sentinel(spark, sf_dir)
    left = spark.readStream.schema(schema).parquet(src)
    right = spark.readStream.schema(schema).parquet(src)
    out = run_stream(_purchase_followups(left, right, how), deliveries=deliveries)
    if how == "left_semi":
        # Only the sentinel purchase itself could have matched a
        # sentinel follow-up; drop it, keep every real matched purchase.
        return out.filter(F.col("a_id") >= 0)
    # Drop the sentinel's own rows on BOTH sides, keeping outer NULLs:
    # the -1 left sentinel may emit (-1, NULL), the right copy (NULL, -1).
    keep_a = F.col("a_id").isNull() | (F.col("a_id") >= 0)
    keep_b = F.col("b_id").isNull() | (F.col("b_id") >= 0)
    return out.filter(keep_a & keep_b)
