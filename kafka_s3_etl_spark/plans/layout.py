"""Physical-layout depth, round 2 (round 7, batch 8f): the two
write-time layouts batch 7c didn't cover — 1-D sort clustering and
nested-column storage.

* x_sorted_layout — repartitionByRange(ts) + sortWithinPartitions(ts)
  before the parquet write: the 1-D sibling of q_zorder_cluster and
  the layout behind every time-series lakehouse table. Files end up
  with DISJOINT ts min/max ranges (range partitioning sends equal keys
  to one partition), so a time-range reader skips whole files from
  footer stats and whole row groups from page stats; the readback
  range filter lands in PushedFilters. Footer disjointness + pushdown
  are pinned in tests/test_lakehouse_ops.py; the oracle hash-checks
  that the laid-out copy still answers exactly like the source table.
* x_nested_pruning — struct columns survive schema pruning: events
  re-written with the measure columns folded into a STRUCT, read back
  touching two leaves — Catalyst's nested-schema pruning narrows the
  parquet ReadSchema to exactly those leaf fields (pinned), so a
  100-column payload struct costs two columns of IO, not the struct.
  The oracle computes the same rollup from the flat source table,
  proving the nested round-trip is lossless.

Scratch copies are materialized once per (sf_dir, layout) and cached
for the session (same discipline as the bucketed tables in
plans/storage.py and streaming.runner._SRC_CACHE — testdata is
immutable, so the derived layout is too).

Scale: both entries are write-once/read-forever patterns; the write is
one range/hash exchange, every later read pays only pruned IO. Exact
outputs: counts are BIGINTs; timestamps round-trip at parquet micros.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.session import pinned_confs
from kafka_s3_etl_spark.sources.tables import load_table

_N_RANGES = 8

# (sf_dir, kind) -> scratch path, session-lifetime (testdata immutable).
_SCRATCH: dict[tuple[str, str], str] = {}


def sorted_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """events re-laid-out as range-partitioned, within-file-sorted
    parquet on ts: one file per range, disjoint (min, max) ts spans."""
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    key = (sf_dir, "sorted_ts")
    if key not in _SCRATCH:
        out = scratch_dir("sorted_events")
        # Write micros, not Spark's default INT96: INT96 carries NO
        # parquet min/max statistics, which would defeat the entire
        # point of the sorted layout (footer-based file skipping).
        with pinned_confs(
            spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
        ):
            (
                load_table(spark, sf_dir, "events")
                .repartitionByRange(_N_RANGES, "ts")
                .sortWithinPartitions("ts")
                .write.mode("overwrite")
                .parquet(out)
            )
        _SCRATCH[key] = out
    return _SCRATCH[key]


def nested_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """events re-written with measures folded into a struct column —
    the opaque-payload table shape multimodal/ML pipelines store."""
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    key = (sf_dir, "nested")
    if key not in _SCRATCH:
        out = scratch_dir("nested_events")
        (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "ts",
                F.struct("user_id", "event_type", "value", "props").alias(
                    "payload"
                ),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
        _SCRATCH[key] = out
    return _SCRATCH[key]


_RANGE_LO = "2024-01-10 00:00:00"
_RANGE_HI = "2024-01-13 00:00:00"


@register(
    "x_sorted_layout",
    category="lakehouse",
    cost=1,
    doc=(
        "Time-sorted file layout: events rewritten via "
        "repartitionByRange(ts)+sortWithinPartitions(ts) (disjoint "
        "per-file ts ranges, footer-pinned), then a 3-day range rollup "
        "read back off the layout — the range filter is pushed to the "
        "scan and non-overlapping files never produce pages."
    ),
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(MIN(event_id) AS BIGINT) AS min_event_id,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id
        FROM events
        WHERE ts >= TIMESTAMP '{_RANGE_LO}' AND ts < TIMESTAMP '{_RANGE_HI}'
        GROUP BY event_type
    """,
)
def x_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(sorted_events_dir(spark, sf_dir))
    return (
        df.filter(
            (F.col("ts") >= F.lit(_RANGE_LO).cast("timestamp"))
            & (F.col("ts") < F.lit(_RANGE_HI).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


@register(
    "x_nested_pruning",
    category="lakehouse",
    cost=1,
    doc=(
        "Nested-schema pruning: events stored with measures inside a "
        "payload STRUCT, read back touching only payload.event_type + "
        "payload.user_id — the scan's ReadSchema narrows to those two "
        "leaves (plan-pinned), so wide payload structs cost only the "
        "touched leaves in IO. Oracle: same rollup from the flat table."
    ),
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY event_type
    """,
)
def x_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(nested_events_dir(spark, sf_dir))
    return (
        df.groupBy(F.col("payload.event_type").alias("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct(F.col("payload.user_id"))
            .cast("bigint")
            .alias("n_users"),
        )
    )
