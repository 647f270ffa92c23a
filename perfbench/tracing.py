"""Tracing for the benchmark's traced run.

Everything here lives outside the program: spans are recorded around
the benchmark's own calls into each layer, and around the public
functions of the layer modules the catalog builders call into
(``sources.tables``, ``operators.graph``/``dedup``/``similarity``),
which are wrapped for the traced passes and restored afterwards.

* ``Tracer`` keeps spans in memory (name, start, end, parent span,
  operation id, py4j calls and py4j seconds inside the span) and
  writes them out once, when the run ends.
* ``Py4jCounter`` counts calls at the py4j client (every Python ->
  JVM command goes through ``GatewayClient.send_command``).
* ``spark_counts`` reads job, stage and task counts, shuffle-write and
  input bytes for one operation's job group from Spark's status store.
* ``StreamEvents`` is a ``StreamingQueryListener`` that records every
  micro-batch progress event.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# Layer modules whose public functions are wrapped in the traced passes,
# keyed by the span name their calls are recorded under.
WRAPPED_LAYERS = {
    "sources.tables.load": ("kafka_s3_etl_spark.sources.tables", ["load_table"]),
    "operators.graph": ("kafka_s3_etl_spark.operators.graph", None),
    "operators.dedup": ("kafka_s3_etl_spark.operators.dedup", None),
    "operators.similarity": ("kafka_s3_etl_spark.operators.similarity", None),
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    py4j_calls: int = 0
    py4j_s: float = 0.0
    attrs: dict = field(default_factory=dict)


class Py4jCounter:
    """Counts and times commands sent through one py4j gateway client."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self._client = None

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        @functools.wraps(orig)
        def send_command(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        client.send_command = send_command
        self._client = client

    def uninstall(self) -> None:
        if self._client is not None:
            del self._client.send_command  # back to the class method
            self._client = None


class Tracer:
    def __init__(self, py4j: Py4jCounter) -> None:
        self.py4j = py4j
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[Span] = []

    def open(self, name: str) -> bool:
        """True when a span of this name is already open (a layer calling
        itself is recorded once, at its outermost call)."""
        return any(s.name == name for s in self._stack)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.time(), 0.0, parent, self.op, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        calls0, secs0 = self.py4j.calls, self.py4j.seconds
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.py4j_calls = self.py4j.calls - calls0
            sp.py4j_s = self.py4j.seconds - secs0
            self._stack.remove(sp)

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> Span:
        """Record a span observed elsewhere (a micro-batch) under ``parent``."""
        sp = Span(len(self.spans), name, start, end, parent.id, parent.op, attrs=attrs)
        self.spans.append(sp)
        return sp

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _layer_functions(module, names):
    for name, obj in vars(module).items():
        if names is not None and name not in names:
            continue
        if (
            inspect.isfunction(obj)
            and obj.__module__ == module.__name__
            and not name.startswith("_")
        ):
            yield obj


class LayerWrappers:
    """Wrap the public functions of ``WRAPPED_LAYERS`` so each call opens
    a span; every module of the package that imported one by name gets
    the wrapper too. ``restore`` puts the originals back."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        replace: dict[int, object] = {}
        for layer, (modname, names) in WRAPPED_LAYERS.items():
            module = importlib.import_module(modname)
            for fn in _layer_functions(module, names):
                replace[id(fn)] = self._wrap(layer, fn)
        for modname, module in list(sys.modules.items()):
            if not modname.startswith("kafka_s3_etl_spark") or module is None:
                continue
            for attr, value in list(vars(module).items()):
                wrapper = replace.get(id(value))
                if wrapper is not None:
                    self._patched.append((module, attr, value))
                    setattr(module, attr, wrapper)

    def _wrap(self, layer: str, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.open(layer):
                return fn(*args, **kwargs)
            with tracer.span(layer, fn=fn.__name__):
                return fn(*args, **kwargs)

        return wrapper

    def restore(self) -> None:
        for module, attr, value in reversed(self._patched):
            setattr(module, attr, value)
        self._patched.clear()


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def spark_counts(spark, group: str, build_end: float | None) -> dict[str, int]:
    """Jobs, stages, tasks, failed tasks, shuffle-write and input bytes of
    every job started under job group ``group``, and how many of the jobs
    were submitted before ``build_end`` (epoch seconds), i.e. inside the
    query builder. Skipped stages (reused shuffle output) are not
    counted."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = dict(
        jobs=0, build_jobs=0, stages=0, tasks=0, failed_tasks=0,
        shuffle_write_bytes=0, input_bytes=0,
    )
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        submitted = job.submissionTime()
        if build_end is not None and submitted.isDefined():
            out["build_jobs"] += submitted.get().getTime() / 1000.0 < build_end
        for stage_id in _seq(job.stageIds()):
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 - py4j wraps NoSuchElementException
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["input_bytes"] += st.inputBytes()
    return out


def plan_phases(df) -> tuple[float, int]:
    """Force analysis, optimization and physical planning of ``df``;
    return the seconds the planner's tracker recorded for those phases
    and the number of exchanges in the physical plan."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            summary = opt.get()
            total_ms += summary.endTimeMs() - summary.startTimeMs()
    exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange " in line and "ReusedExchange" not in line
    )
    return total_ms / 1000.0, exchanges


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class StreamEvents(StreamingQueryListener):
    """Records each micro-batch's progress: start, duration, input rows
    and state rows."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = _iso_to_epoch(p.timestamp)
        dur = p.durationMs.get("triggerExecution", 0) / 1000.0
        with self._lock:
            self.batches.append(
                dict(
                    query=str(p.runId),
                    batch=p.batchId,
                    start=start,
                    end=start + dur,
                    input_rows=p.numInputRows,
                    state_rows=sum(s.numRowsTotal for s in p.stateOperators),
                )
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self, settle_s: float = 0.5, timeout_s: float = 5.0) -> list[dict]:
        """Wait until no new event arrived for ``settle_s`` (events are
        delivered asynchronously), then take the recorded batches."""
        deadline = time.time() + timeout_s
        seen = -1
        while time.time() < deadline:
            with self._lock:
                n = len(self.batches)
            if n == seen:
                break
            seen = n
            time.sleep(settle_s)
        with self._lock:
            out, self.batches = self.batches, []
        return out
