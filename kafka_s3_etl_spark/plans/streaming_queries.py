"""Structured Streaming query catalog (SURVEY.md section 2b M7).

Each entry runs a REAL streaming query (file source standing in for the
Kafka broker, ``Trigger.AvailableNow``, memory/parquet sink) and returns
the materialized result as a DataFrame, so the driver's oracle can
hash-match it:

* s_kafka_to_s3 — the north star: Kafka-wire JSON values -> from_json
  decode -> flagship A4 filter -> parquet sink -> read back. Fully
  oracle-checked (row-wise pipeline, no window semantics involved).
* s_window_tumbling / s_window_sliding — event-time windows, complete
  mode. Oracle: epoch-floor bucketing (the batch analogue of a window
  with all data inside the watermark).
* s_window_session — session windows (gap merge); complete mode.
  Oracle: batch gap-merge with session_window's strict-< semantics.
* s_dedup_watermark — dropDuplicatesWithinWatermark projected onto its
  key columns, which makes the surviving set deterministic and equal to
  SELECT DISTINCT keys.
* s_late_data — append mode + watermark on a two-batch source whose
  second batch is entirely late -> late rows are dropped from state.
  Oracle: on-time windows finalized below the advanced watermark
  (targeted drop assertion in tests/test_streaming.py).
* s_stream_join / s_stateful_counts — stream-stream inner join with
  double watermarks; applyInPandasWithState running counts.
* s_foreach_rollup — foreachBatch partial-aggregate appends + final
  re-aggregate (batch-count-invariant incremental rollup).
* s_kafka_deadletter — split_malformed quarantine on a wire with
  planted garbage; oracle = the clean table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import GATED, register
from kafka_s3_etl_spark.plans.relational import FLAGSHIP_STATUS, FLAGSHIP_THRESHOLD
from kafka_s3_etl_spark.streaming.jobs import (
    decode_orders_wire,
    dedup_within_watermark,
    flagship_filter,
    session_counts,
    sliding_counts,
    stream_stream_followups,
    tumbling_counts,
)
from kafka_s3_etl_spark.streaming.runner import (
    kafka_wire_stream,
    run_stream,
    scratch_dir,
    stream_table,
)


@register(
    "s_kafka_to_s3",
    category="streaming",
    cost=3,
    doc=(
        "North-star pipeline: Kafka-format JSON messages -> typed decode -> "
        "A4 filter -> parquet sink with checkpoint -> read back."
    ),
    oracle=f"""
        SELECT * FROM orders
        WHERE o_orderstatus = '{FLAGSHIP_STATUS}'
          AND o_orderdate >= TIMESTAMP '{FLAGSHIP_THRESHOLD} 00:00:00'
    """,
)
def s_kafka_to_s3(spark: SparkSession, sf_dir: str) -> DataFrame:
    wire = kafka_wire_stream(spark, sf_dir, "orders")
    decoded = decode_orders_wire(wire)
    filtered = flagship_filter(decoded, FLAGSHIP_STATUS, FLAGSHIP_THRESHOLD)
    out = scratch_dir("sink")
    run_stream(filtered.writeStream.format("parquet").option("path", out))
    return spark.read.schema(filtered.schema).parquet(out)


@register(
    "s_window_tumbling",
    category="streaming",
    cost=3,
    doc="Event-time 5-minute tumbling window agg with watermark.",
    oracle="""
        SELECT make_timestamp(CAST(floor(epoch(ts)/300)*300*1000000 AS BIGINT)) AS ws,
               make_timestamp(CAST((floor(epoch(ts)/300)+1)*300*1000000 AS BIGINT)) AS we,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
)
def s_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = tumbling_counts(stream_table(spark, sf_dir, "events"))
    return run_stream(agg, output_mode="complete")


@register(
    "s_window_sliding",
    category="streaming",
    cost=3,
    doc="10-minute windows sliding by 5: every event lands in 2 windows.",
    oracle="""
        SELECT make_timestamp(CAST((floor(epoch(ts)/300) - off.o)*300*1000000 AS BIGINT)) AS ws,
               make_timestamp(CAST((floor(epoch(ts)/300) - off.o + 2)*300*1000000 AS BIGINT)) AS we,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events CROSS JOIN (VALUES (0), (1)) AS off(o)
        GROUP BY 1, 2, 3
    """,
)
def s_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = sliding_counts(stream_table(spark, sf_dir, "events"))
    return run_stream(agg, output_mode="complete")


@register(
    "s_window_session",
    category="streaming",
    cost=3,
    doc=(
        "Session windows (10-minute gap merge) per user. Oracle: the batch "
        "gap-merge (lag-mark + running-sum) with session_window's exact "
        "semantics — STRICT < gap merge (intervals are half-open) and "
        "we = last event + gap."
    ),
    oracle="""
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                               PARTITION BY user_id ORDER BY ts)
                           < 600000000
                      THEN 0 ELSE 1 END AS new_session
          FROM events
        ),
        numbered AS (
          SELECT user_id, ts,
                 CAST(SUM(new_session) OVER (
                     PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS sid
          FROM marked
        )
        SELECT MIN(ts) AS ws,
               MAX(ts) + INTERVAL 10 MINUTE AS we,
               user_id,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM numbered GROUP BY user_id, sid
    """,
)
def s_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = session_counts(stream_table(spark, sf_dir, "events"))
    return run_stream(agg, output_mode="complete")


@register(
    "s_dedup_watermark",
    category="streaming",
    cost=3,
    doc=(
        "Streaming dedup with droppable state; projected to key columns the "
        "surviving set equals DISTINCT keys."
    ),
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def s_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    dedup = dedup_within_watermark(stream_table(spark, sf_dir, "events"))
    return run_stream(dedup.select("user_id", "event_type"), output_mode="append")


@register(
    "s_stream_join",
    category="streaming",
    cost=3,
    doc=(
        "Stream-stream inner join with double watermark + time-bounded "
        "condition (finite state both sides); inner emission is "
        "batching-invariant so the batch range join is the oracle."
    ),
    oracle="""
        SELECT e1.event_id AS a_id, e2.event_id AS b_id
        FROM events e1 JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts
         AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    """,
)
def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = stream_table(spark, sf_dir, "events")
    right = stream_table(spark, sf_dir, "events")
    return run_stream(stream_stream_followups(left, right))


@register(
    "s_stateful_counts",
    category="streaming",
    cost=3,
    doc=(
        "Custom stateful operator (applyInPandasWithState): per-user "
        "running event counts; the max emitted count per user equals the "
        "total, so the result is oracle-checkable."
    ),
    oracle="""
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    """,
)
def s_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.stateful import user_running_counts

    emitted = run_stream(
        user_running_counts(stream_table(spark, sf_dir, "events")),
        output_mode="update",
    )
    # update mode emits one row per (user, touched micro-batch); the
    # latest (= max) running count per user is the total.
    return emitted.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


# Shared by s_session_timeout and its transformWithStateInPandas
# variant below: both sessionizers must emit the batch gap-session set.
_SESSION_GAP_ORACLE = """
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                               PARTITION BY user_id ORDER BY ts)
                           <= 600000000
                      THEN 0 ELSE 1 END AS new_session
          FROM events
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (
                     PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM marked
        )
        SELECT user_id,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM numbered GROUP BY user_id, session_id
    """


@register(
    "s_session_timeout",
    category="streaming",
    cost=3,
    doc=(
        "Timeout-driven stateful sessionizer (applyInPandasWithState + "
        "EventTimeTimeout): sessions close exactly once when the "
        "watermark passes their gap; a sentinel delivery flushes the "
        "final sessions. Equals the batch gap-sessionizer minus the "
        "session_id label."
    ),
    oracle=_SESSION_GAP_ORACLE,
)
def s_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.session_close import (
        session_timeout_demo,
    )

    return session_timeout_demo(spark, sf_dir)


@register(
    "s_session_timeout_rocksdb",
    category="streaming",
    cost=3,
    doc=(
        "s_session_timeout with the RocksDB state-store provider "
        "pinned (RocksDBStateStoreProvider ships in OSS Spark 4; "
        "rocksdbjni is on this Spark's classpath — no protobuf "
        "needed, unlike the tws entry). Same sessionizer, same "
        "oracle, same emitted session set; what changes is WHERE "
        "state lives: RocksDB spills keyed state to local disk "
        "instead of holding the HDFS-backed provider's in-heap map — "
        "the executed (not just argued) 100 TB state story, where "
        "per-executor session state exceeds heap. tests/"
        "test_streaming.py asserts the provider actually loaded via "
        "the stream's rocksdb* progress metrics."
    ),
    oracle=_SESSION_GAP_ORACLE,
)
def s_session_timeout_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.session_close import (
        session_timeout_demo,
    )
    from kafka_s3_etl_spark.streaming.tws import pinned_rocksdb_state_store

    return session_timeout_demo(
        spark, sf_dir, conf_ctx=pinned_rocksdb_state_store
    )


# Capability-gated registration (r7 verdict #6): streaming/tws.py::
# gap_sessions_tws (the transformWithStateInPandas variant of this
# sessionizer) is complete and unit-tested, but the API's state-server
# protocol imports google.protobuf, which this container lacks (and
# installs are disallowed) — same environment-gated status as live
# Kafka/MinIO. The entry SELF-ENABLES the moment protobuf appears
# (registry.GATED records the skip reason until then, and the SURVEY
# totals tripwire will prompt the docs update when it flips);
# tests/test_tws_sessionizer.py covers the fold/timer logic offline
# against gap_sessions semantics via a mock handle either way.
try:
    import google.protobuf  # noqa: F401

    _TWS_SKIP = None
except ImportError:
    _TWS_SKIP = (
        "google.protobuf absent — transformWithStateInPandas's "
        "state-server protocol cannot import (installs disallowed); "
        "self-enables when the container gains protobuf"
    )

if _TWS_SKIP is None:

    @register(
        "s_session_timeout_tws",
        category="streaming",
        cost=3,
        doc=(
            "The same timeout-driven gap sessionizer on the Spark 4 "
            "transformWithStateInPandas API (named ValueState, "
            "explicit event-time timers, RocksDB state store) — must "
            "emit the exact session set s_session_timeout does."
        ),
        oracle=_SESSION_GAP_ORACLE,
    )
    def s_session_timeout_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        from kafka_s3_etl_spark.streaming.session_close import (
            session_timeout_demo,
        )
        from kafka_s3_etl_spark.streaming.tws import (
            gap_sessions_tws,
            pinned_rocksdb_state_store,
        )

        return session_timeout_demo(
            spark,
            sf_dir,
            sessionizer=gap_sessions_tws,
            conf_ctx=pinned_rocksdb_state_store,
        )

else:
    GATED["s_session_timeout_tws"] = _TWS_SKIP


@register(
    "s_late_data",
    category="streaming",
    cost=3,
    doc=(
        "Late-data discipline: append mode + watermark over a 2-batch file "
        "source whose second batch is entirely older than the advanced "
        "watermark -> its rows are excluded from emitted windows (targeted "
        "assertion in tests/test_streaming.py). Oracle: append-mode output "
        "is exactly the on-time windows FINALIZED below the advanced "
        "watermark — tumbling agg over ts >= cutoff, filtered to "
        "we <= max(on-time ts) - 10min."
    ),
    oracle="""
        WITH on_time AS (
          SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
        ),
        wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM on_time)
        SELECT ws, we, event_type, n, sum_value FROM (
          SELECT make_timestamp(CAST(floor(epoch(ts)/300)*300*1000000 AS BIGINT)) AS ws,
                 make_timestamp(CAST((floor(epoch(ts)/300)+1)*300*1000000 AS BIGINT)) AS we,
                 event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 ROUND(SUM(value), 2) AS sum_value
          FROM on_time GROUP BY 1, 2, 3
        ), wm WHERE we <= wm.w
    """,
)
def s_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.late import late_data_demo

    return late_data_demo(spark, sf_dir)


@register(
    "s_foreach_rollup",
    category="streaming",
    cost=3,
    doc=(
        "foreachBatch custom sink: each micro-batch appends its PARTIAL "
        "per-status aggregate to a parquet table; the final read "
        "re-aggregates partials — the incremental-rollup-into-a-lakehouse "
        "pattern, batch-count-invariant by construction (sum of partial "
        "counts/sums = the global aggregate regardless of micro-batch "
        "boundaries)."
    ),
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders GROUP BY o_orderstatus
    """,
)
def s_foreach_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    decoded = decode_orders_wire(kafka_wire_stream(spark, sf_dir, "orders"))
    out = scratch_dir("foreach_rollup")

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        # Partials accumulate integer CENTS, not doubles: float partial
        # sums re-summed at read time would make the rounded total
        # depend on micro-batch boundaries (the q_udaf rule — exact
        # integers, divide ONCE at the end).
        (
            batch_df.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "s_cents"
                ),
            )
            .write.mode("append")
            .parquet(out)
        )

    run_stream(decoded.writeStream.foreachBatch(write_partial))
    partials = spark.read.schema(
        "o_orderstatus string, n bigint, s_cents bigint"
    ).parquet(out)
    return partials.groupBy("o_orderstatus").agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        F.round(F.sum("s_cents") / 100.0, 2).alias("total_price"),
    )


@register(
    "s_kafka_deadletter",
    category="streaming",
    cost=3,
    doc=(
        "Dead-letter discipline on the wire: the orders topic plus "
        "planted garbage messages -> split_malformed -> typed rows; "
        "the oracle is the clean orders table, so the hash proves the "
        "garbage was quarantined without corrupting a single good row."
    ),
    oracle="SELECT * FROM orders",
)
def s_kafka_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from kafka_s3_etl_spark.schemas import TESTDATA_SCHEMAS
    from kafka_s3_etl_spark.sources.kafka import split_malformed, to_kafka_value
    from kafka_s3_etl_spark.sources.tables import load_table
    from kafka_s3_etl_spark.streaming.runner import _SRC_CACHE

    key = (sf_dir, "wire_orders_dirty")
    if key not in _SRC_CACHE:
        wire_dir = scratch_dir("wire_orders_dirty")
        to_kafka_value(load_table(spark, sf_dir, "orders")).write.mode(
            "overwrite"
        ).text(wire_dir)
        with open(os.path.join(wire_dir, "garbage.txt"), "w") as fh:
            fh.write("{not json at all\n\nBROKEN{]}\n")
        _SRC_CACHE[key] = wire_dir
    stream = spark.readStream.text(_SRC_CACHE[key])
    good, _bad = split_malformed(stream, TESTDATA_SCHEMAS["orders"])
    decoded = good.withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    return run_stream(decoded)


@register(
    "s_enrich_static",
    category="streaming",
    cost=3,
    doc=(
        "Stream-static enrichment: the events stream joined to the "
        "customer dimension via a broadcast hash join — stateless (no "
        "watermark, no state store), the dimension is re-broadcast per "
        "micro-batch, so the streaming plan is the batch plan applied "
        "incrementally. Oracle = the equivalent batch join."
    ),
    oracle="""
        SELECT e.event_id, e.user_id, e.event_type, e.value,
               c.c_mktsegment, c.c_nationkey
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def s_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.sources.tables import load_table

    ev = stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    joined = ev.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment", "c_nationkey"
    )
    return run_stream(joined)


@register(
    "s_stream_left_join",
    category="streaming",
    cost=3,
    doc=(
        "Stream-stream LEFT OUTER join: purchases joined to any "
        "same-user event in the following hour; unmatched purchases "
        "emit (a_id, NULL) only after the watermark proves no match can "
        "arrive. A sentinel delivery advances both watermarks past "
        "every join window so the outer half is fully emitted and the "
        "result equals the batch LEFT JOIN (streaming/outer_join.py)."
    ),
    oracle="""
        SELECT e1.event_id AS a_id, e2.event_id AS b_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') e1
        LEFT JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts
         AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    """,
)
def s_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.outer_join import left_outer_join_demo

    return left_outer_join_demo(spark, sf_dir)


@register(
    "s_stream_full_join",
    category="streaming",
    cost=3,
    doc=(
        "Stream-stream FULL OUTER join (completes the streaming join "
        "matrix): purchases x following-hour events; unmatched "
        "purchases emit (a_id, NULL) and unmatched follow-ups "
        "(NULL, b_id), each only after the watermark proves no partner "
        "can arrive. Same sentinel-driven eviction harness as the left "
        "join; equals the batch FULL JOIN (streaming/outer_join.py)."
    ),
    oracle="""
        SELECT e1.event_id AS a_id, e2.event_id AS b_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') e1
        FULL JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts
         AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    """,
)
def s_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.outer_join import full_outer_join_demo

    return full_outer_join_demo(spark, sf_dir)


@register(
    "s_stream_semi_join",
    category="streaming",
    cost=3,
    doc=(
        "Stream-stream LEFT SEMI join — the last cell of the streaming "
        "join matrix (inner/left/full exist above; batch analogue "
        "q_join_semi): purchases that HAD a same-user follow-up within "
        "the hour, each emitted exactly once at match time with left "
        "columns only. Unmatched purchases are evicted WITHOUT "
        "emission once the sentinel-advanced watermark proves no "
        "follow-up can arrive; the eviction is asserted from the state "
        "metrics (runner.LAST_RUN progress — join state drains to "
        "the 2-row sentinel residue). Equals the batch EXISTS "
        "(streaming/outer_join.py)."
    ),
    oracle="""
        SELECT e1.event_id AS a_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') e1
        WHERE EXISTS (
          SELECT 1 FROM events e2
          WHERE e2.user_id = e1.user_id
            AND e2.ts > e1.ts
            AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        )
    """,
)
def s_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.outer_join import semi_join_demo

    return semi_join_demo(spark, sf_dir)


@register(
    "s_stream_union",
    category="streaming",
    cost=3,
    doc=(
        "Multi-source streaming union: the events stream UNIONed with "
        "the orders stream mapped onto a common (ts, src) schema, one "
        "daily tumbling aggregation over the merged stream — the "
        "fan-in topology (N topics -> one rollup) every multi-source "
        "ingest runs; Spark plans one watermark/state pipeline over "
        "both sources' micro-batches."
    ),
    oracle="""
        SELECT make_timestamp(CAST(floor(epoch(ts)/86400)*86400*1000000
                                   AS BIGINT)) AS ws,
               src, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
          SELECT ts, 'events' AS src FROM events
          UNION ALL
          SELECT o_orderdate AS ts, 'orders' AS src FROM orders
        ) GROUP BY 1, 2
    """,
)
def s_stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = stream_table(spark, sf_dir, "events").select(
        "ts", F.lit("events").alias("src")
    )
    b = stream_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("ts"), F.lit("orders").alias("src")
    )
    agg = (
        a.unionByName(b)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"), "src")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("window.start").alias("ws"), "src", "n")
    )
    return run_stream(agg, output_mode="complete")


# ---------------------------------------------------- round 10, batch 52

_JSONL_STREAM_SRC: dict[str, str] = {}


@register(
    "s_jsonl_autoload",
    category="streaming",
    cost=3,
    doc=(
        "Incremental ingestion of a JSON Lines drop directory through "
        "Spark's NATIVE json file-stream source (readStream.json — the "
        "format cell between the parquet file stream the other s_* "
        "entries ride and the boto3-backed S3 autoloader): events "
        "staged as JSONL with the microsecond timestampFormat pin from "
        "x_jsonl_roundtrip, streamed availableNow through a projection "
        "+ filter, memory sink. The oracle is the same relational "
        "predicate over the source table — the stream boundary must "
        "be value-invisible."
    ),
    oracle="""
        SELECT event_id, ts, user_id, event_type, value
        FROM events WHERE event_type <> 'view'
    """,
)
def s_jsonl_autoload(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.plans.etl import _JSONL_TS_FMT
    from kafka_s3_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    if sf_dir not in _JSONL_STREAM_SRC:
        out = scratch_dir("jsonl_stream_events")
        (
            events.write.mode("overwrite")
            .option("timestampFormat", _JSONL_TS_FMT)
            .json(out)
        )
        _JSONL_STREAM_SRC[sf_dir] = out
    stream = (
        spark.readStream.schema(events.schema)
        .option("timestampFormat", _JSONL_TS_FMT)
        .json(_JSONL_STREAM_SRC[sf_dir])
        .filter(F.col("event_type") != "view")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    return run_stream(stream)


@register(
    "s_jsonl_stream_sink",
    category="streaming",
    cost=3,
    doc=(
        "The WRITE direction of the JSONL matrix (batch read/write = "
        "x_jsonl_roundtrip, stream read = s_jsonl_autoload, stream "
        "write = here): a filtered event stream lands in a JSON Lines "
        "sink via writeStream.format('json') with the microsecond "
        "timestampFormat pin, then reads back schema-first — the "
        "text-format boundary plus the streaming commit protocol "
        "(availableNow, checkpointed) must both be value-invisible, "
        "so the oracle is the same relational predicate over the "
        "source table."
    ),
    oracle="""
        SELECT event_id, ts, user_id, event_type, value
        FROM events WHERE value >= 50
    """,
)
def s_jsonl_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.plans.etl import _JSONL_TS_FMT

    stream = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("value") >= 50)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    out = scratch_dir("jsonl_sink_events")
    run_stream(
        stream.writeStream.format("json")
        .option("path", out)
        .option("timestampFormat", _JSONL_TS_FMT)
    )
    return (
        spark.read.schema(stream.schema)
        .option("timestampFormat", _JSONL_TS_FMT)
        .json(out)
    )


# ---------------------------------------------------- round 10, batch 60


@register(
    "s_window_tumbling_rocksdb",
    category="streaming",
    cost=3,
    doc=(
        "s_window_tumbling with the RocksDB state-store provider "
        "pinned — the second executed RocksDB cell (batch 42 proved "
        "it for keyed SESSION state via applyInPandasWithState; this "
        "proves the built-in WINDOW aggregation's state rides the "
        "same provider): event-time 5-minute tumbling counts whose "
        "window state spills to local disk instead of the HDFS "
        "provider's in-heap map. Same aggregation, same oracle, same "
        "result set; tests/test_streaming.py asserts the provider "
        "loaded via rocksdb* progress metrics."
    ),
    oracle="""
        SELECT make_timestamp(CAST(floor(epoch(ts)/300)*300*1000000 AS BIGINT)) AS ws,
               make_timestamp(CAST((floor(epoch(ts)/300)+1)*300*1000000 AS BIGINT)) AS we,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
)
def s_window_tumbling_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.tws import pinned_rocksdb_state_store

    agg = tumbling_counts(stream_table(spark, sf_dir, "events"))
    with pinned_rocksdb_state_store(agg):
        return run_stream(agg, output_mode="complete")


# ---------------------------------------------------- round 11, batch 69


@register(
    "s_dedup_watermark_rocksdb",
    category="streaming",
    cost=3,
    doc=(
        "s_dedup_watermark on the RocksDB state-store provider — "
        "completes the RocksDB execution matrix (sessionizer, window "
        "aggregation, now the dedup state shape whose per-key "
        "droppable state is the one that actually grows unbounded-ish "
        "between watermark advances at 100 TB event rates; keyed "
        "state on local disk survives state > heap). Provider load is "
        "asserted from the run's final progress metrics "
        "(runner.LAST_RUN)."
    ),
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def s_dedup_watermark_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.tws import pinned_rocksdb_state_store

    dedup = dedup_within_watermark(stream_table(spark, sf_dir, "events"))
    with pinned_rocksdb_state_store(dedup):
        return run_stream(dedup.select("user_id", "event_type"))


# ---------------------------------------------------- round 12, batch 82


@register(
    "s_window_sliding_rocksdb",
    category="streaming",
    cost=3,
    doc=(
        "s_window_sliding on the RocksDB state-store provider — the "
        "last cell of the RocksDB matrix (session batch 42, tumbling "
        "batch 60, dedup batch 69): overlapping-window state (every "
        "event lives in 2 windows, so per-key state rows double vs "
        "tumbling) spilling to local disk. Same aggregation, same "
        "oracle, same result set; provider load asserted from the "
        "rocksdb* progress metrics in tests/test_streaming.py."
    ),
    oracle="""
        SELECT make_timestamp(CAST((floor(epoch(ts)/300) - off.o)*300*1000000 AS BIGINT)) AS ws,
               make_timestamp(CAST((floor(epoch(ts)/300) - off.o + 2)*300*1000000 AS BIGINT)) AS we,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events CROSS JOIN (VALUES (0), (1)) AS off(o)
        GROUP BY 1, 2, 3
    """,
)
def s_window_sliding_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.tws import pinned_rocksdb_state_store

    agg = sliding_counts(stream_table(spark, sf_dir, "events"))
    with pinned_rocksdb_state_store(agg):
        return run_stream(agg, output_mode="complete")
