"""Streaming semantics tests beyond the oracle harness: late-data
drops, session-window gap merging, and the parquet-sink round trip of
the north-star pipeline (SURVEY section 5 engine strategy item 4)."""

from __future__ import annotations

import datetime
import os
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_s3_etl_spark.streaming.jobs import session_counts
from kafka_s3_etl_spark.streaming.late import CUTOFF, late_data_demo
from kafka_s3_etl_spark.streaming import runner
from kafka_s3_etl_spark.streaming.runner import run_stream, scratch_dir


def test_late_rows_are_dropped(spark, sf_dir):
    out = late_data_demo(spark, sf_dir)
    rows = out.collect()
    assert rows, "expected finalized windows from the on-time batch"
    cutoff = datetime.datetime.fromisoformat(CUTOFF)
    # No window from the late (pre-cutoff) batch may appear.
    assert min(r.ws for r in rows) >= cutoff


def test_session_window_gap_merge(spark):
    # Three events 5 min apart (one session under a 10-min gap), then a
    # 30-min silence, then one more event (second session).
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 10.0),
        (1, base + datetime.timedelta(minutes=5), 10.0),
        (1, base + datetime.timedelta(minutes=10), 10.0),
        (1, base + datetime.timedelta(minutes=40), 10.0),
        (2, base, 1.0),
    ]
    src = scratch_dir("session_src")
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    got = run_stream(session_counts(stream), output_mode="complete").collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append((r.ws, r.we, r.n))
    assert len(by_user[1]) == 2  # merged first session + the straggler
    sessions = sorted(by_user[1])
    assert sessions[0][2] == 3 and sessions[1][2] == 1
    # session end = last event + gap
    assert sessions[0][1] == base + datetime.timedelta(minutes=20)
    assert len(by_user[2]) == 1 and by_user[2][0][2] == 1


def test_stateful_counts_survive_microbatches(spark):
    """applyInPandasWithState must carry per-key state across batches:
    two source files + maxFilesPerTrigger=1 forces two micro-batches,
    and a user present in both must emit an increasing running count."""
    import os

    from kafka_s3_etl_spark.streaming.stateful import user_running_counts

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    src = scratch_dir("stateful_src")
    batch1 = [(1, base, "a"), (1, base, "b"), (2, base, "a")]
    batch2 = [(1, base, "c"), (3, base, "a")]
    schema = "user_id long, ts timestamp, event_type string"
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    got = run_stream(user_running_counts(stream), output_mode="update")
    emitted = sorted(
        (r.user_id, r.n_events) for r in got.collect()
    )
    # user 1 appears in both micro-batches: one emission per batch with a
    # strictly growing cumulative count, ending at the true total of 3.
    user1 = [n for (u, n) in emitted if u == 1]
    assert sorted(user1) == user1 and user1[-1] == 3 and len(user1) == 2
    assert (2, 1) in emitted and (3, 1) in emitted


def test_checkpoint_makes_parquet_sink_idempotent(spark):
    """Exactly-once discipline: restarting the same stream with the same
    checkpoint must NOT re-append already-committed data — the property
    that makes the Kafka->S3 north star safe to retry (the reference
    relies on Airflow retries with no such guarantee)."""
    src = scratch_dir("idem_src")
    out = scratch_dir("idem_out")
    ckpt = scratch_dir("idem_ckpt")
    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, base) for i in range(100)], "id long, ts timestamp"
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(df.schema)
            .parquet(src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # same checkpoint: no new input -> no new output
    n2 = spark.read.parquet(out).count()
    assert n1 == 100 and n2 == 100


def test_checkpoint_recovery_after_midstream_crash_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """Kill a micro-batched stream partway (injected failure at batch 2,
    before it writes) and restart from the SAME checkpoint: committed
    batches are not reprocessed, pending ones run, and every source row
    lands in the sink exactly once — the recovery discipline a 100 TB
    CDC/ingest stream lives by."""
    import pytest as _pytest

    from kafka_s3_etl_spark.sources.tables import load_table
    from kafka_s3_etl_spark.streaming.runner import (
        _await_or_fail,
        _pinned_stream_start,
    )

    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    orders.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches

    crashed = {"done": False}

    def apply(batch_df, batch_id: int) -> None:
        if batch_id == 2 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash before any batch-2 write")
        batch_df.write.mode("append").parquet(out)

    def start():
        df = (
            spark.readStream.schema("o_orderkey bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with _pinned_stream_start(df):
            return (
                df.writeStream.foreachBatch(apply)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )

    q = start()
    with _pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert crashed["done"]
    n_after_crash = spark.read.parquet(out).count()
    assert 0 < n_after_crash < orders.count()  # batches 0-1 committed

    _await_or_fail(start(), 120)  # resume: batch 2 retried, 3 runs
    got = spark.read.parquet(out)
    assert got.count() == orders.count()  # nothing lost
    assert got.distinct().count() == orders.count()  # nothing duplicated


def test_kafka_to_s3_roundtrip_schema(spark, sf_dir):
    from kafka_s3_etl_spark.plans.registry import all_queries

    q = all_queries()["s_kafka_to_s3"]
    df = q.fn(spark, sf_dir)
    assert df.columns == [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    assert df.filter(F.col("o_orderstatus") != "O").count() == 0


def test_stream_table_reads_directory_shaped_tables(spark, sf_dir, tmp_path):
    """A table stored as a parquet DIRECTORY (the normal production
    layout, vs the testdata's single files) must stream its full
    contents — the pathGlobFilter formulation matched zero part-files
    inside a directory named <t>.parquet and delivered a silently
    EMPTY stream."""
    from kafka_s3_etl_spark.sources.tables import load_table
    from kafka_s3_etl_spark.streaming.runner import stream_table

    d = tmp_path / "dirshaped"
    d.mkdir()
    batch = load_table(spark, sf_dir, "events")
    n = batch.count()
    batch.repartition(3).write.parquet(str(d / "events.parquet"))

    streamed = run_stream(
        stream_table(spark, str(d), "events").groupBy().count(),
        output_mode="complete",
    )
    assert streamed.collect()[0][0] == n


def test_chained_windows_runs_two_stateful_operators(spark):
    """s_chained_windows must be ONE streaming query with TWO stateful
    window aggregations (Spark 4 multi-stateful) — pinned via the query
    progress's stateOperators — and the outer bucket must really merge
    finalized inner windows (n == sum of its 5-min counts, 3 subwindows
    per interior bucket)."""
    import datetime
    import uuid

    from kafka_s3_etl_spark.streaming.jobs import chained_window_counts
    from kafka_s3_etl_spark.streaming.runner import (
        _await_or_fail,
        _pinned_stream_start,
        scratch_dir,
    )

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # one event per minute for 60 min: every interior 15-min bucket
        # holds 3 finalized 5-min windows of 5 events each
        (i, base + datetime.timedelta(minutes=i), "click")
        for i in range(60)
    ]
    schema = "event_id long, ts timestamp, event_type string"
    src = scratch_dir("chained_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    agg = chained_window_counts(stream)
    name = f"mem_{uuid.uuid4().hex[:10]}"
    with _pinned_stream_start(agg):
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", scratch_dir("ckpt"))
            .start()
        )
    _await_or_fail(q, 120)
    assert len(q.lastProgress["stateOperators"]) == 2
    got = {
        (r.ws, r.n, r.n_subwindows) for r in spark.table(name).collect()
    }
    # watermark = 00:59 - 10min = 00:49 -> buckets ending <= 00:45 emit
    expect = {
        (base, 15, 3),
        (base + datetime.timedelta(minutes=15), 15, 3),
        (base + datetime.timedelta(minutes=30), 15, 3),
    }
    assert got == expect


def test_stateful_aggregation_state_survives_restart(spark, tmp_path):
    """Streaming aggregation STATE must persist across a stop/restart
    from the same checkpoint: counts after the second run include the
    first run's events (state-store recovery), not just the new file —
    the stateless-recovery test above can't see this, foreachBatch has
    no state store."""
    import uuid

    from pyspark.sql import functions as F

    from kafka_s3_etl_spark.streaming.runner import (
        _await_or_fail,
        _pinned_stream_start,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.range(100).withColumn("g", F.col("id") % 4).coalesce(1).write.parquet(src)

    def run() -> str:
        name = f"rec_{uuid.uuid4().hex[:8]}"
        df = spark.readStream.schema("id long, g long").parquet(src)
        agg = df.groupBy("g").count()
        with _pinned_stream_start(agg):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
        _await_or_fail(q, 120)
        return name

    first = run()
    assert {
        (r.g, r["count"]) for r in spark.table(first).collect()
    } == {(g, 25) for g in range(4)}

    # second delivery, then restart from the SAME checkpoint
    spark.range(100, 300).withColumn("g", F.col("id") % 4).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = run()
    assert {
        (r.g, r["count"]) for r in spark.table(second).collect()
    } == {(g, 75) for g in range(4)}  # 25 recovered + 50 new per group


def test_admission_control_caps_every_microbatch(spark, sf_dir):
    """maxFilesPerTrigger=2 over a 6-file backlog must drain as >= 3
    bounded micro-batches — every batch's numInputRows capped by its
    two largest files — while the final rollup equals the batch answer
    exactly (AvailableNow honors source read limits)."""
    from kafka_s3_etl_spark.plans.scaleops import (
        _ADMISSION_SRC,
        admission_controlled_counts,
    )
    from kafka_s3_etl_spark.sources.tables import load_table

    got = admission_controlled_counts(spark, sf_dir)
    progs = runner.LAST_RUN.progress
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.event_type, r.n, r.sum_id)
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("sum_id"))
        .collect()
    }
    assert {(r.event_type, r.n, r.sum_id) for r in got.collect()} == want

    src = _ADMISSION_SRC[sf_dir]
    per_file = sorted(
        r.n
        for r in spark.read.parquet(src)
        .groupBy(F.input_file_name())
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(per_file) == 6
    cap = per_file[-1] + per_file[-2]  # two largest files
    fed = [p["numInputRows"] for p in progs if p["numInputRows"] > 0]
    assert len(fed) >= 3
    assert all(rows <= cap for rows in fed)
    assert sum(fed) == ev.count()


def test_gap_sessions_runs_on_rocksdb_state_store(spark):
    """The 100 TB state-spill claim, exercised: the applyInPandasWithState
    sessionizer runs on the RocksDB state-store provider (no protobuf
    needed, unlike transformWithState) and the query's progress reports
    RocksDB custom metrics from the state operator."""
    import os

    from kafka_s3_etl_spark.streaming.stateful import gap_sessions
    from kafka_s3_etl_spark.streaming.tws import pinned_rocksdb_state_store

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    later = base + datetime.timedelta(hours=2)
    src = scratch_dir("rocks_src")
    schema = "user_id long, ts timestamp"
    batch1 = [(1, base), (1, base + datetime.timedelta(minutes=1)), (2, base)]
    batch2 = [(9, later)]  # watermark jumps 2h -> every open session times out
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    sessions = gap_sessions(stream)
    with pinned_rocksdb_state_store(sessions):
        got = run_stream(sessions)
    progs = runner.LAST_RUN.progress
    rows = {(r.user_id, r.n_events) for r in got.collect()}
    assert (1, 2) in rows and (2, 1) in rows  # both base sessions closed
    metrics = [
        m
        for p in progs
        for op in p.get("stateOperators", [])
        for m in op.get("customMetrics", {})
    ]
    assert any(m.lower().startswith("rocksdb") for m in metrics), metrics


def test_full_outer_stream_join_emits_both_null_sides(spark, sf_dir):
    """s_stream_full_join: after the sentinel advances both watermarks,
    the engine must have evicted BOTH outer halves — follow-up-less
    purchases as (a_id, NULL) and purchase-less follow-ups as
    (NULL, b_id) — alongside the inner matches."""
    from kafka_s3_etl_spark.streaming.outer_join import full_outer_join_demo

    out = full_outer_join_demo(spark, sf_dir)
    counts = out.agg(
        F.sum(F.col("b_id").isNull().cast("int")).alias("left_only"),
        F.sum(F.col("a_id").isNull().cast("int")).alias("right_only"),
        F.sum(
            (F.col("a_id").isNotNull() & F.col("b_id").isNotNull()).cast(
                "int"
            )
        ).alias("matched"),
    ).first()
    assert counts.left_only > 0
    assert counts.right_only > 0
    assert counts.matched > 0
    # no sentinel leakage on either side
    assert out.filter((F.col("a_id") < 0) | (F.col("b_id") < 0)).count() == 0


def test_semi_stream_join_emits_once_and_evicts_unmatched(spark, sf_dir):
    """s_stream_semi_join: each matched purchase emits exactly once
    with LEFT columns only (no b_id in the schema); unmatched
    purchases never emit, and the sentinel-advanced watermark evicts
    them from join state WITHOUT emission — pinned from the final
    streaming progress (state drains to the 2-row sentinel residue)."""
    import duckdb

    from kafka_s3_etl_spark.streaming.outer_join import semi_join_demo

    out = semi = semi_join_demo(spark, sf_dir)
    assert out.columns == ["a_id"]  # semi projects no right columns
    got = sorted(r.a_id for r in semi.collect())
    assert got == sorted(set(got)), "a purchase emitted more than once"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    matched, purchases = con.execute(
        """
        SELECT COUNT(*) FILTER (WHERE EXISTS (
                 SELECT 1 FROM events e2
                 WHERE e2.user_id = e1.user_id AND e2.ts > e1.ts
                   AND e2.ts <= e1.ts + INTERVAL 1 HOUR)),
               COUNT(*)
        FROM events e1 WHERE event_type = 'purchase'
        """
    ).fetchone()
    assert len(got) == matched
    assert matched < purchases, "corpus must carry unmatched purchases"

    # the unmatched (purchases - matched) left rows were evicted, not
    # buffered: total join state is the sentinel residue (1 left
    # purchase + 1 right event above the final watermark)
    prog = runner.LAST_RUN.progress[-1]
    assert prog["stateOperators"]
    op = prog["stateOperators"][0]
    assert "symmetricHashJoin" in op.get("operatorName", ""), op
    assert op["numRowsTotal"] <= 2, op


def test_pyds_stream_restart_from_checkpoint_no_dup_no_loss(spark):
    """r7 advice: an ACTUAL restart of a graft_range streaming query —
    not a simulated call order. Each run drains exactly one micro-batch
    (trigger once) then shuts down cleanly with the batch fully
    committed, so the next run's restarted reader sees the
    latestOffset()-FIRST ordering the memory-only cursor could not
    survive. With cursor_path set, the sink must end with every id in
    [0, n) exactly once across the restarts."""
    from kafka_s3_etl_spark.shiplib import ensure_workers_can_import
    from kafka_s3_etl_spark.sources.pyds import register_python_sources
    from kafka_s3_etl_spark.streaming.runner import (
        _pinned_stream_start,
    )

    ensure_workers_can_import(spark)
    register_python_sources(spark)
    out = scratch_dir("pyds_restart_out")
    ckpt = scratch_dir("pyds_restart_ckpt")
    n, step = 6_000, 2_000

    def run_once():
        stream = (
            spark.readStream.format("graft_range")
            .option("n", n)
            .option("step", step)
            .option("partitions", 4)
            .option("cursor_path", f"{ckpt}/graft_range.cursor")
            .load()
        )
        with _pinned_stream_start(stream):
            q = (
                stream.select("id")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(once=True)
                .start()
            )
        q.awaitTermination(120)
        assert q.exception() is None

    # 3 one-batch runs drain the 3-step log; a 4th run (no new input)
    # must add nothing.
    for _ in range(4):
        run_once()
    ids = [r.id for r in spark.read.parquet(out).collect()]
    assert len(ids) == n, f"dup or lost rows: {len(ids)} != {n}"
    assert sorted(ids) == list(range(n))


def test_session_timeout_state_survives_restart(spark, sf_dir, tmp_path):
    """r7 verdict #5: the sessionizer's OPEN-session state must survive
    a clean stop/restart from the checkpoint. Run 1 delivers the real
    events and stops — every user's last session exists only in the
    state store. Run 2 restarts from the same checkpoint, delivers the
    watermark-advancing sentinel, and the flushed session set must
    equal the sequential-fold reference over ALL events — any state
    lost in the restart would drop or corrupt exactly those open
    sessions."""

    from kafka_s3_etl_spark.sources.tables import load_table
    from kafka_s3_etl_spark.streaming.runner import (
        _pinned_stream_start,
    )
    from kafka_s3_etl_spark.streaming.stateful import gap_sessions

    ev = load_table(spark, sf_dir, "events")
    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    data_dir, sent_dir = str(tmp_path / "data"), str(tmp_path / "sent")
    ev.coalesce(1).write.parquet(data_dir)
    sentinel = ev.agg(
        F.lit(-1).cast("bigint").alias("event_id"),
        (F.max("ts") + F.expr("INTERVAL 3 HOURS")).alias("ts"),
        F.lit(-1).cast("bigint").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).select(*ev.columns)
    sentinel.coalesce(1).write.parquet(sent_dir)

    import glob as _glob
    import shutil as _shutil

    def deliver(part_dir, name, mtime):
        p = _glob.glob(f"{part_dir}/part-*.parquet")[0]
        dest = str(src / name)
        _shutil.copy(p, dest)
        os.utime(dest, (mtime, mtime))

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        sessions = gap_sessions(stream)
        with _pinned_stream_start(sessions):
            return (
                sessions.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )

    now = time.time()
    deliver(data_dir, "data.parquet", now - 100)
    q = start()
    q.processAllAvailable()
    q.stop()  # open sessions now live ONLY in the checkpointed state

    deliver(sent_dir, "sentinel.parquet", now)
    q2 = start()
    q2.processAllAvailable()
    want = _sequential_sessions(ev)
    try:
        # timeouts fire in the no-data batch after the watermark jump
        for _ in range(1200):
            done = spark.read.parquet(out).filter("user_id >= 0").count()
            if done == len(want):
                break
            time.sleep(0.05)
    finally:
        q2.stop()
    got = {
        (r.user_id, r.s_us, r.e_us, r.n_events)
        for r in spark.read.parquet(out)
        .filter("user_id >= 0")
        .select(
            "user_id",
            F.unix_micros("session_start").alias("s_us"),
            F.unix_micros("session_end").alias("e_us"),
            "n_events",
        )
        .collect()
    }
    assert got == want


def _sequential_sessions(ev, gap_us=600_000_000):
    """Single-threaded 10-minute-gap session fold — the independent
    reference both restart tests compare against."""
    rows = (
        ev.select("user_id", F.unix_micros("ts").alias("us"))
        .orderBy("user_id", "us")
        .collect()
    )
    want, cur = set(), None  # cur = [user, start, end, n]
    for r in rows:
        if cur is not None and (
            r.user_id != cur[0] or r.us - cur[2] > gap_us
        ):
            want.add(tuple(cur))
            cur = None
        if cur is None:
            cur = [r.user_id, r.us, r.us, 1]
        else:
            cur[2], cur[3] = r.us, cur[3] + 1
    if cur is not None:
        want.add(tuple(cur))
    return want


def test_stream_join_state_survives_restart(spark, sf_dir, tmp_path):
    """r7 verdict #5: buffered stream-stream join state must survive a
    stop/restart. The events are split in half by time; purchases from
    the first half that match follow-ups from the second can only emit
    in run 2 via state buffered during run 1 and restored from the
    checkpoint. The final inner-join output must equal the batch join
    over all events."""
    from kafka_s3_etl_spark.sources.tables import load_table
    from kafka_s3_etl_spark.streaming.outer_join import (
        _purchase_followups,
    )
    from kafka_s3_etl_spark.streaming.runner import (
        _pinned_stream_start,
    )

    ev = load_table(spark, sf_dir, "events")
    n_half = ev.count() // 2
    ranked = ev.withColumn(
        "_rn",
        F.row_number().over(
            Window.orderBy("ts", "event_id")
        ),
    )
    src = tmp_path / "src"
    src.mkdir()
    h1, h2 = str(tmp_path / "h1"), str(tmp_path / "h2")
    ranked.filter(F.col("_rn") <= n_half).drop("_rn").coalesce(1) \
        .write.parquet(h1)
    ranked.filter(F.col("_rn") > n_half).drop("_rn").coalesce(1) \
        .write.parquet(h2)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    import glob as _glob
    import shutil as _shutil

    def deliver(part_dir, name, mtime):
        p = _glob.glob(f"{part_dir}/part-*.parquet")[0]
        dest = str(src / name)
        _shutil.copy(p, dest)
        os.utime(dest, (mtime, mtime))

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        joined = _purchase_followups(stream, stream, "inner").select(
            "a_id", "b_id"
        )
        with _pinned_stream_start(joined):
            return (
                joined.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )

    now = time.time()
    deliver(h1, "h1.parquet", now - 100)
    q = start()
    q.processAllAvailable()
    q.stop()
    n_run1 = spark.read.parquet(out).count()

    deliver(h2, "h2.parquet", now)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    want = {
        (r.a_id, r.b_id)
        for r in _purchase_followups(ev, ev, "inner")
        .select("a_id", "b_id")
        .collect()
    }
    got_rows = spark.read.parquet(out).collect()
    got = {(r.a_id, r.b_id) for r in got_rows}
    assert len(got_rows) == len(got), "restart duplicated join rows"
    assert got == want
    # the restart actually exercised buffered state: some matches must
    # span the two deliveries
    assert n_run1 < len(want), "split produced no cross-delivery matches"


def test_session_timeout_rocksdb_entry_loads_rocksdb(spark, sf_dir):
    """The REGISTERED s_session_timeout_rocksdb entry (not just the
    unit harness above) runs its full two-delivery close-out on the
    RocksDB provider: the run's final progress must report
    rocksdb* custom metrics from the state operator, proving the
    provider actually loaded for the driver-facing query."""
    from kafka_s3_etl_spark.plans.registry import all_queries

    df = all_queries()["s_session_timeout_rocksdb"].fn(spark, sf_dir)
    assert df.count() > 0
    prog = runner.LAST_RUN.progress[-1]
    metrics = [
        m
        for op in prog.get("stateOperators", [])
        for m in op.get("customMetrics", {})
    ]
    assert any(m.lower().startswith("rocksdb") for m in metrics), metrics


def test_window_tumbling_rocksdb_entry_loads_rocksdb(spark, sf_dir):
    """s_window_tumbling_rocksdb (batch 60): the built-in window
    aggregation's state rides the RocksDB provider — the entry must
    produce rows AND leave rocksdb* custom metrics in the final
    progress of its run (runner.LAST_RUN)."""
    from kafka_s3_etl_spark.plans.registry import all_queries

    df = all_queries()["s_window_tumbling_rocksdb"].fn(spark, sf_dir)
    assert df.count() > 0
    prog = runner.LAST_RUN.progress[-1]
    metrics = [
        m
        for op in prog.get("stateOperators", [])
        for m in op.get("customMetrics", {})
    ]
    assert any(m.lower().startswith("rocksdb") for m in metrics), metrics


def test_dedup_watermark_rocksdb_entry_loads_rocksdb(spark, sf_dir):
    """s_dedup_watermark_rocksdb (batch 69): the dedup state rides the
    RocksDB provider — rows match DISTINCT keys and rocksdb* custom
    metrics appear in the run's final progress."""
    from kafka_s3_etl_spark.plans.registry import all_queries
    from kafka_s3_etl_spark.sources.tables import load_table

    df = all_queries()["s_dedup_watermark_rocksdb"].fn(spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert df.count() == want
    prog = runner.LAST_RUN.progress[-1]
    metrics = [
        m
        for op in prog.get("stateOperators", [])
        for m in op.get("customMetrics", {})
    ]
    assert any(m.lower().startswith("rocksdb") for m in metrics), metrics


def test_window_sliding_rocksdb_entry_loads_rocksdb(spark, sf_dir):
    """s_window_sliding_rocksdb (batch 82, the last RocksDB matrix
    cell): overlapping-window state rides the RocksDB provider — the
    entry must report rocksdb* custom metrics AND produce exactly the
    non-RocksDB sibling's result set (the provider must be
    value-invisible)."""
    from kafka_s3_etl_spark.plans.registry import all_queries

    qs = all_queries()
    got = qs["s_window_sliding_rocksdb"].fn(spark, sf_dir)
    rows = {tuple(r) for r in got.collect()}
    prog = runner.LAST_RUN.progress[-1]
    metrics = [
        m
        for op in prog.get("stateOperators", [])
        for m in op.get("customMetrics", {})
    ]
    assert any(m.lower().startswith("rocksdb") for m in metrics), metrics
    want = {tuple(r) for r in qs["s_window_sliding"].fn(spark, sf_dir).collect()}
    assert rows == want


def test_gap_sessions_rocksdb_changelog_checkpointing(spark):
    """VERDICT r12 #5: the RocksDB provider with CHANGELOG
    checkpointing enabled — each micro-batch commits an incremental
    .changelog delta instead of a full SST re-upload (the failover-cost
    story a 100 TB stateful stream needs). Results must be identical to
    the non-changelog sibling, and the checkpoint's state directory
    must actually contain .changelog files (the on-disk proof the
    incremental path engaged, stronger than any metric name)."""
    import glob
    import os
    import uuid

    from kafka_s3_etl_spark.streaming.runner import (
        _pinned_stream_start,
        scratch_dir,
    )
    from kafka_s3_etl_spark.streaming.stateful import gap_sessions
    from kafka_s3_etl_spark.streaming.tws import CHANGELOG, pinned_rocksdb_changelog

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    later = base + datetime.timedelta(hours=2)
    src = scratch_dir("rockslog_src")
    schema = "user_id long, ts timestamp"
    batch1 = [(1, base), (1, base + datetime.timedelta(minutes=1)), (2, base)]
    batch2 = [(9, later)]  # watermark jumps 2h -> open sessions time out
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    sessions = gap_sessions(stream)
    ckpt = scratch_dir("rockslog_ckpt")
    name = f"rlog_{uuid.uuid4().hex[:10]}"
    with pinned_rocksdb_changelog(sessions), _pinned_stream_start(
        sessions
    ):
        q = (
            sessions.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
    assert q.awaitTermination(120), "changelog stream still running"
    rows = {(r.user_id, r.n_events) for r in spark.table(name).collect()}
    assert (1, 2) in rows and (2, 1) in rows  # same as the sibling test
    logs = glob.glob(
        os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True
    )
    assert logs, "no .changelog files — incremental checkpointing did not engage"
    # conf restored after the context
    assert spark.conf.get(CHANGELOG, "false") == "false"


def test_statestore_reader_reads_rocksdb_checkpoint(spark):
    """The state-store READER over a ROCKSDB-format checkpoint (VERDICT
    r12 #2 named the RocksDB cell as the read target): build keyed agg
    state under the RocksDB provider, then read it back with
    spark.read.format('statestore') — provider conf pinned for the read
    too (the source instantiates the checkpoint's provider). Read state
    must equal the batch aggregation of the fed rows."""
    import os
    import uuid

    from kafka_s3_etl_spark.streaming.runner import (
        _pinned_stream_start,
        scratch_dir,
    )
    from kafka_s3_etl_spark.streaming.tws import pinned_rocksdb_state_store

    src = scratch_dir("ssrocks_src")
    schema = "k string, v long"
    rows = [("a", 1), ("a", 2), ("b", 5), ("c", 7), ("b", 3)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        os.path.join(src, "b0")
    )
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    agg = stream.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    ckpt = scratch_dir("ssrocks_ckpt")
    name = f"ssr_{uuid.uuid4().hex[:10]}"
    with pinned_rocksdb_state_store(agg), _pinned_stream_start(agg):
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120)
        # the reader instantiates the checkpoint's provider class —
        # keep the RocksDB pin for the read as well
        state = spark.read.format("statestore").load(ckpt)
        got = {
            (r["key"]["k"], r["value"]["count"], r["value"]["sum"])
            for r in state.collect()
        }
    assert got == {("a", 2, 3), ("b", 2, 8), ("c", 1, 7)}


def test_statestore_reader_batchid_time_travel(spark):
    """State TIME TRAVEL: spark.read.format('statestore') with
    option('batchId', N) reads the keyed state AS OF micro-batch N —
    the post-mortem debugging surface ('what did the operator hold
    before the bad batch?'). Two single-file micro-batches
    (maxFilesPerTrigger=1): state at batch 0 holds only b0's rows,
    the default (latest) read holds both."""
    import os
    import uuid

    from kafka_s3_etl_spark.streaming.runner import (
        _pinned_stream_start,
        scratch_dir,
    )

    src = scratch_dir("sstt_src")
    schema = "k string, v long"
    spark.createDataFrame([("a", 1), ("b", 2)], schema).coalesce(
        1
    ).write.parquet(os.path.join(src, "b0"))
    spark.createDataFrame([("a", 10), ("c", 5)], schema).coalesce(
        1
    ).write.parquet(os.path.join(src, "b1"))
    # FileStreamSource orders NEW files by modification time, not path
    # (ADVICE r13 — the old comment claimed path order): pin b0 strictly
    # older than b1 so batch 0 ingests b0 even on a filesystem with
    # coarse mtime granularity.
    import time as _time

    now = _time.time()
    for sub, mtime in (("b0", now - 120), ("b1", now - 60)):
        d = os.path.join(src, sub)
        for fn in os.listdir(d):
            os.utime(os.path.join(d, fn), (mtime, mtime))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    agg = stream.groupBy("k").agg(F.sum("v").alias("s"))
    ckpt = scratch_dir("sstt_ckpt")
    name = f"tt_{uuid.uuid4().hex[:10]}"
    with _pinned_stream_start(agg):
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
    assert q.awaitTermination(120)

    def read_state(**opts):
        r = spark.read.format("statestore")
        for k, v in opts.items():
            r = r.option(k, v)
        return {
            (row["key"]["k"], row["value"]["sum"])
            for row in r.load(ckpt).collect()
        }

    # batch 0 is b0 because its mtime is pinned strictly older (see
    # the utime step above)
    assert read_state(batchId=0) == {("a", 1), ("b", 2)}
    assert read_state() == {("a", 11), ("b", 2), ("c", 5)}
