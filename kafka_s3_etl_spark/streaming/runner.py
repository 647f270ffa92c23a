"""The stream runner: the one place a streaming query starts, completes,
stops and reports (``run_stream``), plus the broker-free stream sources
the catalog runs it on.

The north-star pipeline is Kafka -> transform -> S3 parquet. In this
container there is no broker, so streams are driven through the file
source with ``Trigger.AvailableNow`` — the documented pattern for
deterministic, broker-free verification of Structured Streaming jobs.
The transformations are identical DataFrame code either way; only the
``format("kafka")`` vs ``format("text"/"parquet")`` source/sink lines
differ (see sources/kafka.py for the broker-facing builders).

Every scratch directory (checkpoints, sinks, materialized sources)
lives under one per-process root that is removed at interpreter exit.

Every query starts under ``_STREAM_START_CONFS``: 8 shuffle partitions,
and Spark's FileSystem-based checkpoint file manager, because the
default one forks a ``readlink`` process for every checkpoint file it
renames on a local path. Checkpoint checksums stay on (the
``fileChecksum.enabled`` conf is left alone): the checkpoint holds the
same files, ``.crc`` checksums included, under either manager.
"""

from __future__ import annotations

import atexit
import contextlib
import datetime
import functools
import glob
import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from kafka_s3_etl_spark.schemas import TESTDATA_SCHEMAS
from kafka_s3_etl_spark.session import pinned_confs
from kafka_s3_etl_spark.sources.kafka import to_kafka_value
from kafka_s3_etl_spark.sources.tables import (
    EVENTS_LOADED_SCHEMA,
    _events_ts_is_nanos,
    load_table,
)

# (root, owning pid): a forked child makes its own root and never
# removes its parent's.
_ROOT: tuple[str, int] | None = None


def _remove_root(root: str, pid: int) -> None:
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh directory under this process's scratch root."""
    global _ROOT
    if _ROOT is None or _ROOT[1] != os.getpid():
        _ROOT = (tempfile.mkdtemp(prefix="kafka_s3_etl_spark_"), os.getpid())
        atexit.register(_remove_root, *_ROOT)
    return tempfile.mkdtemp(prefix=f"{prefix}_", dir=_ROOT[0])


# Materialized stream-source dirs, keyed by (sf_dir, table). The
# testdata is immutable, so the converted-parquet / wire-text stand-ins
# are too — rebuilding them per stream_table call would bill one full
# table write to every streaming query (twice for a self-join).
_SRC_CACHE: dict[tuple[str, str], str] = {}


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open a testdata table as a *stream* (file source over its parquet).

    events.ts needs the same precision handling as the batch loader
    (sources/tables.py): MICROS files stream directly off the original
    parquet; NANOS files are materialized once (per sf_dir, cached) as
    converted scratch parquet, because the micro-batch file source can't
    apply the nanos conversion lazily under a forced schema.
    """
    batch = load_table(spark, sf_dir, name)  # also pins tz + ships lib
    path = os.path.join(sf_dir, f"{name}.parquet")

    def _stream_single_file(schema):
        # Directory-shaped table (the normal production layout): the
        # streaming file source takes it directly. Single-FILE table
        # (the driver's testdata layout): the source wants a directory,
        # so point it at sf_dir with a glob filter selecting that file.
        # The branch matters: the glob filter matches file NAMES, so
        # against a directory named events.parquet it would match zero
        # of the part-files inside and deliver a silently EMPTY stream.
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.getFileStatus(jpath).isDirectory():
            return spark.readStream.schema(schema).parquet(path)
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )

    if name == "events":
        if not _events_ts_is_nanos(spark, path):
            return _stream_single_file(EVENTS_LOADED_SCHEMA)
        key = (sf_dir, f"stream_src_{name}")
        if key not in _SRC_CACHE:
            out = scratch_dir(f"stream_src_{name}")
            batch.write.mode("overwrite").parquet(out)
            _SRC_CACHE[key] = out
        return spark.readStream.schema(batch.schema).parquet(_SRC_CACHE[key])
    return _stream_single_file(TESTDATA_SCHEMAS[name])


def kafka_wire_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Simulate the Kafka wire: serialize a table to value-only JSON
    messages (reference A8/A9 format) written as text files, then open
    them as a stream with a ``value`` column — exactly the shape
    ``readStream.format("kafka")`` delivers."""
    key = (sf_dir, f"wire_{table}")
    if key not in _SRC_CACHE:
        wire_dir = scratch_dir(f"wire_{table}")
        to_kafka_value(load_table(spark, sf_dir, table)).write.mode("overwrite").text(
            wire_dir
        )
        _SRC_CACHE[key] = wire_dir
    return spark.readStream.text(_SRC_CACHE[key]).withColumnRenamed("value", "value")


def _single_part(key: tuple[str, str], build: Callable[[], DataFrame]) -> str:
    """``build()`` written once per ``key`` as a directory holding one
    parquet part file (the unit a live delivery copies in)."""
    if key not in _SRC_CACHE:
        out = scratch_dir(key[1])
        build().coalesce(1).write.mode("overwrite").parquet(out)
        _SRC_CACHE[key] = out
    return _SRC_CACHE[key]


def _copy_part(part_dir: str, src_dir: str, mtime: float) -> None:
    part = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
    dest = os.path.join(src_dir, f"{os.path.basename(part_dir)}.parquet")
    shutil.copy(part, dest)
    os.utime(dest, (mtime, mtime))


def staged_source(first: str, *later: str) -> tuple[str, list[Callable[[], None]]]:
    """A fresh file-source directory holding the part file of ``first``,
    and one ``run_stream`` delivery per ``later`` directory, each
    copying that directory's part file in with a newer mtime."""
    src = scratch_dir("live_src")
    now = os.path.getmtime(src)
    _copy_part(first, src, now - 100)
    return src, [functools.partial(_copy_part, d, src, now) for d in later]


def events_then_sentinel(
    spark: SparkSession, sf_dir: str
) -> tuple[StructType, str, list[Callable[[], None]]]:
    """The source of the watermark demos, as (events schema, source dir,
    deliveries): the dir holds the events table, and the one delivery
    adds a sentinel purchase 3 hours past max(ts). The sentinel moves
    every watermark past every window, gap and join bound, so the
    no-data batch after it evicts all remaining state. Its ids are -1;
    callers filter its rows out."""
    ev = load_table(spark, sf_dir, "events")

    def sentinel() -> DataFrame:
        return ev.agg(
            F.lit(-1).cast("bigint").alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 3 HOURS")).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("purchase").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        ).select(*ev.columns)

    src, deliveries = staged_source(
        _single_part((sf_dir, "live_events"), lambda: ev),
        _single_part((sf_dir, "live_sentinel"), sentinel),
    )
    return ev.schema, src, deliveries


# The session confs every run_stream query starts under. A query clones
# its session at start, so a pin held for the start alone lasts the
# whole run; the session gets each conf back as it was (see
# session.pinned_confs).
STREAM_PARTITIONS = "8"
_STREAM_START_CONFS = {
    # A stateful query's state-store partition count is frozen at the
    # FIRST run of its checkpoint from this conf; under a vanilla session
    # the default 200 means 200 state-store tasks per micro-batch for
    # kilobytes of state (~13s of pure task overhead per query in the
    # driver's harness). Results are partition-count-independent.
    "spark.sql.shuffle.partitions": STREAM_PARTITIONS,
    # Spark's default manager renames every checkpoint file (each
    # offset, commit and source log entry, each state-store delta)
    # through FileContext.rename, which on the local filesystem without
    # Hadoop native IO forks a `readlink` process per rename. This one
    # renames with File.renameTo and gives the same check-then-rename
    # guarantee on a local path, which every runner checkpoint is
    # (scratch_dir). Spark's checksum wrapper goes around either
    # manager, so the checksum files are written as before.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def _pinned_stream_start(
    df_or_spark: DataFrame | SparkSession,
) -> contextlib.AbstractContextManager[None]:
    """Pin the stream-start confs on the session of a stream's DataFrame
    (or the session itself) for a ``writeStream.start()``."""
    spark = df_or_spark
    if isinstance(df_or_spark, DataFrame):
        spark = df_or_spark.sparkSession
    return pinned_confs(spark, _STREAM_START_CONFS)


@dataclass(frozen=True)
class StreamRun:
    """What one ``run_stream`` call leaves behind: the query's name (its
    id when unnamed), its checkpoint directory, and every progress
    update it reported (``recentProgress``, oldest first)."""

    name: str
    checkpoint: str
    progress: list


# The record of the latest run_stream call: None while a run is starting
# (or when its start failed), the run's record once it has stopped —
# whether it completed or raised.
LAST_RUN: StreamRun | None = None


def run_stream(
    stream: DataFrame | DataStreamWriter,
    *,
    output_mode: str = "append",
    deliveries: Sequence[Callable[[], None]] | None = None,
    timeout_sec: int = 120,
) -> DataFrame | None:
    """Start a streaming query, run it to completion, stop it and record
    it in ``LAST_RUN``.

    ``stream`` is a streaming DataFrame, run into a memory sink in
    ``output_mode`` and returned as the sink table (its temporary view
    is dropped; the returned frame still reads the sink's rows); or a
    DataStreamWriter whose sink the caller configured (file path,
    foreachBatch, a Python data source), in which case the caller reads
    its own sink and None is returned. The runner adds the checkpoint,
    the trigger and the stream-start confs (``_STREAM_START_CONFS``).

    ``deliveries=None`` runs under ``Trigger.AvailableNow`` and raises
    TimeoutError if the query is still running after ``timeout_sec``
    (its sink would be partial). A sequence runs a live micro-batch
    query: it drains with ``processAllAvailable()`` after the start and
    again after each delivery (a callable that adds data to the
    source). An empty sequence drains once — the form for sources that
    do not support availableNow. ``processAllAvailable()`` returns only
    when no further batch is due, so it covers the trailing no-data
    batch in which an advanced watermark evicts state; the run checks
    that once from the query's own record (``_check_drained``).
    ``processAllAvailable()`` takes no deadline, so ``timeout_sec``
    bounds availableNow runs only.
    """
    global LAST_RUN
    LAST_RUN = None
    if isinstance(stream, DataFrame):
        spark = stream.sparkSession
        sink = f"stream_{uuid.uuid4().hex[:10]}"
        writer = (
            stream.writeStream.outputMode(output_mode).format("memory").queryName(sink)
        )
    else:
        spark, sink, writer = SparkSession.active(), None, stream
    if deliveries is None:
        writer = writer.trigger(availableNow=True)
    ckpt = scratch_dir("ckpt")
    with _pinned_stream_start(spark):
        q = writer.option("checkpointLocation", ckpt).start()
    try:
        if deliveries is None:
            _await_or_fail(q, timeout_sec)
        else:
            q.processAllAvailable()
            last_batch = -1
            for deliver in deliveries:
                last_batch = (q.lastProgress or {"batchId": -1})["batchId"]
                deliver()
                q.processAllAvailable()
            _check_drained(q, ckpt, last_batch)
    finally:
        q.stop()
        LAST_RUN = StreamRun(q.name or str(q.id), ckpt, list(q.recentProgress))
    if sink is None:
        return None
    # The resolved frame keeps the sink's rows; the view would keep them
    # (and one catalog entry per run) for the life of the session.
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


def _await_or_fail(q, timeout_sec: int) -> None:
    """awaitTermination(timeout) returns False on timeout with the query
    STILL RUNNING — reading the sink then would silently hand partial
    results to the oracle. Surface it as a failure instead."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after "
            f"{timeout_sec}s; sink contents would be partial"
        )


def _check_drained(q, ckpt: str, last_batch: int) -> None:
    """One read, no wait: the final delivery was ingested by a batch
    after ``last_batch``, and the watermark the last batch ran with is
    the one its commit handed on — a larger one means the no-data batch
    that evicts state under it has not committed."""
    progress = q.recentProgress
    name = q.name or q.id
    if not any(p["numInputRows"] for p in progress if p["batchId"] > last_batch):
        raise RuntimeError(
            f"streaming query {name}: no batch after {last_batch} took the "
            "last delivery; the sink would be incomplete"
        )
    last = progress[-1]
    used = (last.get("eventTime") or {}).get("watermark")
    if used is None:
        return
    with open(os.path.join(ckpt, "commits", str(last["batchId"]))) as fh:
        handed_on = json.loads(fh.read().splitlines()[1])["nextBatchWatermarkMs"]
    used_ms = round(datetime.datetime.fromisoformat(used).timestamp() * 1000)
    if handed_on > used_ms:
        raise RuntimeError(
            f"streaming query {name}: batch {last['batchId']} ran at watermark "
            f"{used} but committed {handed_on} ms; the eviction batch has not "
            "committed and the sink would be incomplete"
        )
