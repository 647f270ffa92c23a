"""Gap sessionizer on the Spark 4 ``transformWithStateInPandas`` API
(SURVEY.md 2b M7 depth; VERDICT r5 next-round #7).

Same semantics as ``stateful.gap_sessions`` (applyInPandasWithState +
EventTimeTimeout) re-expressed on the newer arbitrary-state API:
named state variables (``ValueState``) instead of one implicit tuple,
explicit per-key timers instead of the single GroupStateTimeout, and a
processor object whose ``init`` declares state once per partition
instead of closure state. The two implementations must emit the exact
same session set — both are hash-checked against the same DuckDB
gap-sessionizer oracle.

transformWithState requires the RocksDB state-store provider; the
``pinned_rocksdb_state_store`` context pins the conf for the query
start only (``session.pinned_confs``, as ``run_stream`` pins its own
start confs — the provider class is frozen into the checkpoint at
first start).

Scale: identical to gap_sessions — state is one (s, e, n) row plus one
timer per open key, watermark-bounded; one hash shuffle per
micro-batch. RocksDB spills state to local disk, which is exactly what
a 100 TB keyspace needs (the HDFS-backed default keeps state on-heap).
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from kafka_s3_etl_spark.session import pinned_confs
from kafka_s3_etl_spark.streaming.stateful import (  # noqa: E402
    fold_gap_segments,
    sessions_frame,
)

_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, "
    "session_end timestamp, n_events bigint"
)


class GapSessionProcessor(StatefulProcessor):
    """Per-key open session in a ValueState; an event-time timer closes
    it once the watermark proves the gap elapsed. Fold and emission are
    the same numpy segment fold as ``stateful.gap_sessions``."""

    def __init__(self, gap_minutes: int = 10):
        self._gap_us = gap_minutes * 60 * 1_000_000
        self._gap_ms = gap_minutes * 60 * 1_000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._open = handle.getValueState("open", "s BIGINT, e BIGINT, n BIGINT")

    def _rearm(self, end_us: int) -> None:
        # one live timer per key: drop stale ones (a session extension
        # moves the deadline), then arm at end + gap
        for t in list(self._handle.listTimers()):
            self._handle.deleteTimer(t)
        self._handle.registerTimer(end_us // 1000 + self._gap_ms + 1)

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        prev = self._open.get()
        closed, open_ = fold_gap_segments(
            rows, tuple(prev) if prev is not None else None, self._gap_us
        )
        if open_ is not None:
            self._open.update(open_)
            self._rearm(open_[1])
        if closed:
            yield sessions_frame(key[0], closed)

    def handleExpiredTimer(
        self,
        key: Any,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo,
    ) -> Iterator[pd.DataFrame]:
        prev = self._open.get()
        if prev is not None:
            self._open.clear()
            yield sessions_frame(key[0], [tuple(prev)])

    def close(self) -> None:
        pass


_ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}
CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def pinned_rocksdb_state_store(
    df: DataFrame,
) -> contextlib.AbstractContextManager[None]:
    """Pin the RocksDB state-store provider for a stream start.

    transformWithState refuses the default HDFS-backed provider; the
    provider class is read once at query start and frozen into the
    checkpoint, so the narrow set/restore window is safe for the
    sequential harnesses (tests, driver)."""
    return pinned_confs(df.sparkSession, _ROCKSDB)


def pinned_rocksdb_changelog(
    df: DataFrame,
) -> contextlib.AbstractContextManager[None]:
    """RocksDB provider + incremental CHANGELOG checkpointing: each
    micro-batch commits a small .changelog delta instead of re-uploading
    full SST snapshots — the failover-cost story a 100 TB stateful
    stream needs (snapshot upload cost is amortized to the background
    maintenance thread). Results are pinned identical to the
    non-changelog sibling by test; the flag is read at query start,
    same narrow set/restore window as the provider pin."""
    return pinned_confs(df.sparkSession, {**_ROCKSDB, CHANGELOG: "true"})


def gap_sessions_tws(events: DataFrame, gap_minutes: int = 10) -> DataFrame:
    """``stateful.gap_sessions`` on transformWithStateInPandas: same
    (user_id, ts) projection (no column pruning through an opaque
    pandas processor), same watermark, same output schema."""
    # The processor runs in the JVM-spawned streaming Python runner,
    # which (unlike executor UDF workers) does NOT see addPyFile
    # shipments — a by-reference pickle dies with ModuleNotFoundError.
    # Registering this module by VALUE makes the pickle self-contained
    # (numpy/pandas/pyspark stay by-reference; they exist everywhere).
    import sys

    from pyspark import cloudpickle

    # this module AND the shared fold helpers it imports — a
    # by-reference pickle of either dies in the streaming runner
    import kafka_s3_etl_spark.streaming.stateful as _stateful_mod

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(_stateful_mod)
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=GapSessionProcessor(gap_minutes),
            outputStructType=_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="EventTime",
        )
    )
