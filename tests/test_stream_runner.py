"""The stream runner (``streaming/runner.py``): the one place the
package starts a streaming query.

Covers the runner's failure paths — an availableNow query that outlives
its timeout, a live query whose eviction batch never committed, a
delivery no batch took — its per-process scratch root, the memory-sink
views it drops, and guards that keep stream starts and sleeps out of the
rest of the package.
"""

from __future__ import annotations

import ast
import datetime
import os
import pathlib
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import all_queries
from kafka_s3_etl_spark.streaming import runner
from kafka_s3_etl_spark.streaming.runner import (
    _check_drained,
    run_stream,
    staged_source,
)

_REPO = pathlib.Path(__file__).resolve().parent.parent
_PACKAGE = _REPO / "kafka_s3_etl_spark"

# Functions outside the runner that may build a stream writer: this one
# only returns it (to be run by run_stream).
_WRITER_BUILDERS = {("sources/kafka.py", "write_kafka_stream")}


def test_run_stream_timeout_raises_and_stops_the_query(spark, tmp_path):
    """awaitTermination returning False must not hand a partial sink to
    the caller: the run raises TimeoutError and the query is stopped."""
    src = str(tmp_path / "src")
    spark.range(10).coalesce(1).write.parquet(src)

    def slow(batch_df, batch_id: int) -> None:
        time.sleep(3)

    writer = (
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.queryName("slow_batch")
        .foreachBatch(slow)
    )
    with pytest.raises(TimeoutError, match="slow_batch"):
        run_stream(writer, timeout_sec=1)
    assert "slow_batch" not in [q.name for q in spark.streams.active]
    assert runner.LAST_RUN.name == "slow_batch"


def _window_counts(spark, src: str):
    return (
        spark.readStream.schema("ts timestamp")
        .parquet(src)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute"))
        .count()
    )


def test_run_stream_raises_when_the_eviction_batch_is_missing(spark, tmp_path):
    """The second delivery advances the watermark past the first window,
    which only a trailing no-data batch emits. With no-data batches
    switched off that batch never runs: the run must refuse the
    incomplete sink. With them on (the default) the window is emitted."""
    t0 = datetime.datetime(2024, 1, 1)
    first, later = str(tmp_path / "first"), str(tmp_path / "later")
    for path, ts in ((first, t0), (later, t0 + datetime.timedelta(hours=1))):
        spark.createDataFrame([(ts,)], "ts timestamp").coalesce(1).write.parquet(path)

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    try:
        src, deliveries = staged_source(first, later)
        with pytest.raises(RuntimeError, match="eviction batch has not committed"):
            run_stream(_window_counts(spark, src), deliveries=deliveries)
    finally:
        spark.conf.unset(key)
    assert runner.LAST_RUN.progress, "a failed run still leaves its record"

    src, deliveries = staged_source(first, later)
    got = run_stream(_window_counts(spark, src), deliveries=deliveries)
    assert [(r.window.start, r["count"]) for r in got.collect()] == [(t0, 1)]
    assert runner.LAST_RUN.progress[-1]["numInputRows"] == 0  # the eviction batch


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."


@pytest.mark.parametrize(
    "prior", [None, _MANAGERS + "FileContextBasedCheckpointFileManager"]
)
def test_streams_run_under_the_filesystem_checkpoint_manager(
    spark, tmp_path, prior
):
    """Every micro-batch of a run_stream query runs with the
    FileSystem-based checkpoint manager (the default one forks a
    ``readlink`` per checkpoint rename on a local path); the session
    gets the key back as it was, unset or set; and the stateful run's
    checkpoint still holds the state-store checksum file of every
    partition."""
    t0 = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "src")
    rows = [(t0 + datetime.timedelta(seconds=i),) for i in range(20)]
    spark.createDataFrame(rows, "ts timestamp").coalesce(1).write.parquet(src)
    seen = []

    def record(batch_df, batch_id: int) -> None:
        seen.append(batch_df.sparkSession.conf.get(_MANAGER_KEY, None))
        batch_df.write.format("noop").mode("overwrite").save()

    if prior is not None:
        spark.conf.set(_MANAGER_KEY, prior)
    try:
        run_stream(_window_counts(spark, src).writeStream.foreachBatch(record))
        assert spark.conf.get(_MANAGER_KEY, None) == prior
    finally:
        spark.conf.unset(_MANAGER_KEY)
    assert seen and set(seen) == {_MANAGERS + "FileSystemBasedCheckpointFileManager"}
    state = os.path.join(runner.LAST_RUN.checkpoint, "state", "0")
    for p in range(int(runner.STREAM_PARTITIONS)):
        assert os.path.isfile(os.path.join(state, str(p), "1.delta.crc")), p


def test_check_drained_raises_when_no_batch_took_the_delivery(tmp_path):
    class _Query:
        name, id = "idle_q", "0"
        recentProgress = [{"batchId": 0, "numInputRows": 5, "eventTime": {}}]

    with pytest.raises(RuntimeError, match="idle_q: no batch after 0"):
        _check_drained(_Query(), str(tmp_path), 0)
    _check_drained(_Query(), str(tmp_path), -1)


def test_scratch_dirs_share_one_root_removed_at_exit(tmp_path):
    code = (
        "import os\n"
        "from kafka_s3_etl_spark.streaming.runner import scratch_dir\n"
        "a, b = scratch_dir('probe'), scratch_dir('probe')\n"
        "open(os.path.join(a, 'f'), 'w').write('x')\n"
        "assert os.path.dirname(a) == os.path.dirname(b)\n"
        "print(os.path.dirname(a))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        cwd=_REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    root = out.stdout.strip()
    assert root.startswith(os.path.join(str(tmp_path), "kafka_s3_etl_spark_")), root
    assert not os.path.exists(root)
    assert list(tmp_path.iterdir()) == []


def _stream_start_sites():
    """(module path, enclosing top-level function) of every ``.start()``
    or ``.toTable()`` call in a function that builds a stream writer."""
    sites = set()
    for path in sorted(_PACKAGE.rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        for top in ast.parse(path.read_text()).body:
            nodes = list(ast.walk(top))
            builds_writer = any(
                isinstance(n, ast.Attribute) and n.attr == "writeStream"
                for n in nodes
            )
            starts = any(
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("start", "toTable")
                for n in nodes
            )
            if builds_writer and starts:
                sites.add((rel, getattr(top, "name", "<module>")))
    return sites


def test_package_starts_streams_only_through_the_runner():
    stray = {
        site
        for site in _stream_start_sites() - _WRITER_BUILDERS
        if site[0] != "streaming/runner.py"
    }
    assert not stray, (
        f"stream writer started outside streaming/runner.py: {sorted(stray)}; "
        "pass the DataFrame or writer to runner.run_stream, which owns the "
        "checkpoint, partition pin, completion, stop and progress record"
    )


def test_streaming_package_never_sleeps():
    sleeps = []
    for path in sorted((_PACKAGE / "streaming").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "sleep"
                and isinstance(node.value, ast.Name)
                and node.value.id == "time"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "time"
                and any(a.name == "sleep" for a in node.names)
            ):
                sleeps.append(f"{path.name}:{node.lineno}")
    assert not sleeps, (
        f"time.sleep under streaming/: {sleeps}; stream completion comes from "
        "the query (awaitTermination / processAllAvailable), not a poll"
    )


def test_memory_sink_runs_leave_no_view_and_keep_their_rows(spark, sf_dir):
    """A DataFrame run returns the memory sink's rows but drops its
    temporary view, so a session that runs many streams does not hold a
    catalog entry per run; the returned frame still reads, groups and
    writes after later runs."""
    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    build = all_queries()["s_window_tumbling"].fn
    first = build(spark, sf_dir)
    rows = sorted(first.collect())
    build(spark, sf_dir)
    build(spark, sf_dir)
    assert views() == before
    assert rows and sorted(first.collect()) == rows
    assert first.groupBy("event_type").count().count() > 0
    first.write.format("noop").mode("overwrite").save()
