"""Timeout-driven sessionization demo (drives stateful.gap_sessions).

Why a live two-delivery stream: the LAST session of every user can
only flush when the event-time watermark passes its close-gap — and a
watermark only moves when newer data arrives. Delivery 1 is the real
events, delivery 2 the sentinel of ``runner.events_then_sentinel``,
which advances the watermark beyond every open session's timeout; the
engine then fires all timeouts in the following (no-data) micro-batch
and the emitted session set equals the batch sessionizer exactly.

The sentinel's own state never times out (its timeout sits past the
final watermark) and its user_id is negative, so it is filtered from
the returned result.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.streaming.runner import events_then_sentinel, run_stream
from kafka_s3_etl_spark.streaming.stateful import gap_sessions


def session_timeout_demo(
    spark: SparkSession,
    sf_dir: str,
    sessionizer=gap_sessions,
    conf_ctx=None,
) -> DataFrame:
    """Two-delivery close-out around a gap sessionizer.

    ``sessionizer`` is any (stream_df) -> stream_df gap sessionizer with
    gap_sessions' output schema (the transformWithStateInPandas variant
    plugs in here); ``conf_ctx`` optionally wraps the query start in an
    extra conf-pinning context (e.g. tws.pinned_rocksdb_state_store).
    """
    schema, src, deliveries = events_then_sentinel(spark, sf_dir)
    sessions = sessionizer(spark.readStream.schema(schema).parquet(src))
    with conf_ctx(sessions) if conf_ctx else contextlib.nullcontext():
        out = run_stream(sessions, deliveries=deliveries)
    return out.filter(F.col("user_id") >= 0)
