"""Custom Spark 4 Python DataSources (pyspark.sql.datasource).

The Python DataSource API is the Spark-4 seam for systems without a JVM
connector: each `InputPartition` is planned driver-side and `read()`
runs distributed on executors, yielding Arrow RecordBatches (the
vectorized path; never row tuples). The package registers four formats,
each serving batch and stream mode from one class:

* `graft_range` (here): a deterministic partitioned generator (id,
  bucket, val) whose output is closed-form, so `x_python_datasource`
  hash-checks the whole custom-source path (partition planning ->
  executor Arrow batches -> Spark types) against a DuckDB range()
  oracle. Partitions are planned up front (option `partitions`) and
  each materializes only its own slice as one Arrow batch.
* `graft_jsonl` (here): the JSONL sink on a directory.
* `graft_s3jsonl` and `graft_s3jsonl_sink` (sources/objectstore.py):
  the same scan and sink over the S3 client API.

Both sinks run one staged publish, `_StagedPublish`: tasks stage their
parts, the driver-side commit publishes them with a manifest, and a
replayed stream batch first removes what its earlier attempt published.
Only the storage steps differ per transport (`_LocalStore`,
`objectstore._S3Store`).
"""

from __future__ import annotations

import itertools
import json
import os
import uuid
from dataclasses import dataclass

import numpy as np
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


class _RangeReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("n", 60_000))
        self.num_parts = int(options.get("partitions", 8))
        self._bucket = None
        self._lo = 0  # accepted id range [lo, hi) — None hi = open
        self._hi = None
        self._ids = None  # accepted id set from In, or None

    def pushFilters(self, filters):
        """Source-side pruning, the Python-DataSource analogue of
        parquet PushedFilters / min-max pruning:

        * ONE `bucket = k` equality — generation strides by 16. Any
          FURTHER bucket equality is returned for Spark to evaluate:
          the filter list is an AND, and accepting only the last one
          would silently drop a conflicting predicate (bucket=3 AND
          bucket=5 must stay empty).
        * any number of `id` range predicates (>, >=, <, <=, =) — these
          compose by interval INTERSECTION, so conjunctions (including
          contradictory ones, which intersect to empty) are always
          safe to accept; generation then strides the narrowed range,
          exactly like a parquet scan skipping row groups outside the
          predicate's min/max.
        * `id IN (...)` — intersected into an accepted-id set; read()
          then generates candidates from the set instead of the range.

        Everything else is returned for Spark to evaluate."""
        unsupported = []
        for f in filters:
            attr = tuple(f.attribute) if hasattr(f, "attribute") else None
            if (
                self._bucket is None
                and isinstance(f, EqualTo)
                and attr == ("bucket",)
                and _is_int(f.value)
                and 0 <= f.value < 16
            ):
                self._bucket = f.value
            elif attr == ("id",) and isinstance(f, GreaterThan) and _is_int(f.value):
                self._lo = max(self._lo, f.value + 1)
            elif attr == ("id",) and isinstance(f, GreaterThanOrEqual) and _is_int(f.value):
                self._lo = max(self._lo, f.value)
            elif attr == ("id",) and isinstance(f, LessThan) and _is_int(f.value):
                self._hi = f.value if self._hi is None else min(self._hi, f.value)
            elif attr == ("id",) and isinstance(f, LessThanOrEqual) and _is_int(f.value):
                v = f.value + 1
                self._hi = v if self._hi is None else min(self._hi, v)
            elif attr == ("id",) and isinstance(f, EqualTo) and _is_int(f.value):
                self._lo = max(self._lo, f.value)
                v = f.value + 1
                self._hi = v if self._hi is None else min(self._hi, v)
            elif (
                attr == ("id",)
                and isinstance(f, In)
                and all(_is_int(v) for v in f.value)
            ):
                vs = set(f.value)
                self._ids = vs if self._ids is None else (self._ids & vs)
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        return [InputPartition(i) for i in range(self.num_parts)]

    def read(self, partition: InputPartition):
        i = partition.value
        start = self.n * i // self.num_parts
        end = self.n * (i + 1) // self.num_parts
        # narrow this partition's slice by the pushed id interval —
        # a partition wholly outside it generates NOTHING
        start = max(start, self._lo)
        if self._hi is not None:
            end = min(end, self._hi)
        if self._ids is not None:
            # generate from the accepted-id set, range- and
            # bucket-filtered — never materialize the full slice
            cand = np.fromiter(sorted(self._ids), dtype="int64")
            ids = cand[(cand >= start) & (cand < end)]
            if self._bucket is not None:
                ids = ids[ids % 16 == self._bucket]
        elif self._bucket is not None:
            first = start + ((self._bucket - start) % 16)
            ids = np.arange(first, end, 16, dtype="int64")
        else:
            ids = np.arange(start, end, dtype="int64")
        yield _range_batch(ids)


def _range_batch(ids):
    """The (id, bucket, val) Arrow batch of the range log at `ids`."""
    import pyarrow as pa

    return pa.record_batch(
        [
            pa.array(ids, type=pa.int64()),
            pa.array((ids % 16).astype("int32"), type=pa.int32()),
            # one IEEE division: bit-identical to any engine's DOUBLE
            # division of the same integers
            pa.array(ids / 7.0, type=pa.float64()),
        ],
        names=["id", "bucket", "val"],
    )


class GraftRangeDataSource(DataSource):
    """spark.read.format("graft_range").option("n", N).load()"""

    @classmethod
    def name(cls) -> str:
        return "graft_range"

    def schema(self) -> str:
        return "id bigint, bucket int, val double"

    def reader(self, schema) -> DataSourceReader:
        return _RangeReader(self.options)

    def streamReader(self, schema) -> "DataSourceStreamReader":
        return _RangeStreamReader(self.options)


def register_python_sources(spark) -> None:
    """Idempotently register the custom sources on a session."""
    if getattr(spark, "_graft_pyds_registered", False):
        return
    # The STREAM reader runs in the JVM-spawned PythonStreamingSource
    # runner, which (like the transformWithState server, unlike
    # executor UDF workers) never sees addPyFile — pickle this module
    # by value so the source is self-contained everywhere.
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    # A reader implementing pushFilters is REJECTED at analysis unless
    # this conf is on (Spark refuses to silently skip a source's
    # declared pushdown). It only affects Python-DataSource plans —
    # parquet/JVM scans never read it — so setting it at registration
    # is scoped to this feature, not a global behavior flip.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(GraftRangeDataSource)
    spark.dataSource.register(GraftJsonlSink)
    spark._graft_pyds_registered = True


class _Slice(InputPartition):
    def __init__(self, s: int, e: int):
        self.s, self.e = s, e


class _RangeStreamReader(DataSourceStreamReader):
    """Offset-managed micro-batch reader over the same deterministic
    log: latestOffset advances by `step` rows per trigger (the Kafka
    endOffsets analogue), partitions() splits each [start, end) offset
    range for distributed reads, commit() is the ack no-op. Offsets are
    plain dicts, checkpointed by Spark like any source offset; the
    cursor below is only the driver-side ADVANCE state, and re-seats
    itself from the checkpointed offsets Spark hands back (see
    partitions) so a restart from an existing checkpoint resumes at the
    committed position instead of replaying from 0.

    The partitions()/commit() re-seat alone does NOT cover one restart
    ordering (r7 advice): after a CLEAN shutdown whose last batch was
    fully committed, the restarted query's FIRST call can be
    latestOffset() — nothing has handed the fresh reader the committed
    position yet, so a memory-only cursor would emit an end offset
    BEHIND the checkpointed start and the next forward batch would
    replay already-written rows into append sinks. The ``cursor_path``
    option closes that hole: when set, the high-water mark is persisted
    (atomic tmp+rename) on every advance and re-read at construction,
    so latestOffset() can never regress across restarts. The path must
    be per-query (derive it from the checkpoint location, as
    s_python_stream_source does) and on driver-durable storage; without
    the option the reader keeps the weaker re-seat-only behavior and a
    latestOffset-first restart replays at-least-once (never loses
    rows — Spark still reads forward from the checkpointed start)."""

    def __init__(self, options: dict):
        self.n = int(options.get("n", 60_000))
        self.step = int(options.get("step", 20_000))
        self.num_parts = int(options.get("partitions", 8))
        self._cursor_path = options.get("cursor_path")
        self._pos = 0
        if self._cursor_path:
            try:
                with open(self._cursor_path) as fh:
                    self._pos = int(fh.read().strip() or 0)
            except (OSError, ValueError):
                self._pos = 0  # absent/corrupt cursor = fresh start

    def _advance_to(self, pos: int) -> None:
        if pos <= self._pos:
            return
        self._pos = pos
        if self._cursor_path:
            tmp = f"{self._cursor_path}.tmp"
            with open(tmp, "w") as fh:
                fh.write(str(pos))
            os.replace(tmp, self._cursor_path)

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        self._advance_to(min(self._pos + self.step, self.n))
        return {"pos": self._pos}

    def partitions(self, start: dict, end: dict):
        s, e = int(start["pos"]), int(end["pos"])
        # Restart safety: after a checkpoint restore this reader object
        # is FRESH (_pos == 0) but Spark replays the committed offset
        # range here first — fold it into the cursor so the next
        # latestOffset() advances from the restored position, never
        # behind it (an end offset < start would be an invalid range).
        self._advance_to(e)
        bounds = [s + (e - s) * i // self.num_parts for i in range(self.num_parts + 1)]
        return [_Slice(a, b) for a, b in zip(bounds, bounds[1:]) if b > a]

    def read(self, partition: _Slice):
        yield _range_batch(np.arange(partition.s, partition.e, dtype="int64"))

    def commit(self, end: dict) -> None:
        # Same re-seat as partitions(): an ack for offsets ahead of the
        # cursor means this is a restarted reader catching up.
        self._advance_to(int(end["pos"]))


def _jsonl_lines(batch) -> list:
    """Arrow-vectorized JSONL encoding of one RecordBatch: returns one
    JSON-object string per row, keys sorted (json.dumps sort_keys
    parity). All byte production is Arrow compute — casts for
    numerics/bools (float64 -> string is shortest-round-trip, with a
    ".0" restored on integral doubles so every double survives the
    write/readback exactly AND schema-inferring readers still see a
    double column — lexical form may differ from json.dumps for large
    integral magnitudes, the parsed value never does) and substring
    replacements for JSON string escaping — never a per-row Python
    loop. Rows that genuinely need the slow path (control characters
    beyond \\n/\\r/\\t, non-finite floats) fall back to json.dumps for
    that batch; JSON-unrepresentable column types raise, as the
    row-at-a-time writer did via json.dumps TypeError."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = sorted(batch.schema.names)
    cols = []
    for name in names:
        arr = batch.column(batch.schema.get_field_index(name))
        t = arr.type
        if pa.types.is_floating(t):
            if not pc.all(pc.is_finite(arr)).as_py() and arr.null_count < len(arr):
                raise _SlowPath()  # NaN/Inf: json.dumps semantics differ
            s = pc.cast(arr, pa.string())
            # Arrow's shortest-round-trip cast prints integral doubles
            # bare ("2", "-0") where json.dumps keeps the float marker
            # ("2.0", "-0.0"); restore it so schema-inferring readers
            # still see a double column (and -0.0 keeps its sign)
            integral = pc.match_substring_regex(
                pc.fill_null(s, "."), "^-?[0-9]+$"
            )
            s = pc.if_else(
                integral,
                pc.binary_join_element_wise(s, pa.scalar(".0"), pa.scalar("")),
                s,
            )
        elif pa.types.is_integer(t) or pa.types.is_boolean(t):
            s = pc.cast(arr, pa.string())
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            s = pc.replace_substring(arr, pattern="\\", replacement="\\\\")
            s = pc.replace_substring(s, pattern='"', replacement='\\"')
            s = pc.replace_substring(s, pattern="\n", replacement="\\n")
            s = pc.replace_substring(s, pattern="\r", replacement="\\r")
            s = pc.replace_substring(s, pattern="\t", replacement="\\t")
            if pc.any(
                pc.match_substring_regex(
                    pc.fill_null(s, ""), "[\\x00-\\x1f]"
                )
            ).as_py():
                raise _SlowPath()  # exotic control chars: rare, exact
            s = pc.binary_join_element_wise(
                pa.scalar('"'), s, pa.scalar('"'), pa.scalar("")
            )
        else:
            raise NotImplementedError(
                f"JSONL sink: column {name!r} has JSON-unrepresentable "
                f"Arrow type {t} — cast it before writing (the sink "
                "serializes JSON-native scalars only)"
            )
        cols.append(pc.fill_null(s, "null"))
    pieces: list = []
    for i, (name, s) in enumerate(zip(names, cols)):
        prefix = ("{" if i == 0 else ", ") + json.dumps(name) + ": "
        pieces.extend((pa.scalar(prefix), s))
    pieces.extend((pa.scalar("}"), pa.scalar("")))
    return pc.binary_join_element_wise(*pieces).to_pylist()


class _SlowPath(Exception):
    """Internal: batch contains values the vectorized encoder cannot
    reproduce byte-compatibly; fall back to per-row json.dumps."""


def _jsonl_text(batch) -> str:
    """One RecordBatch as JSONL text: the vectorized encoder, or per-row
    json.dumps for a batch it cannot reproduce exactly."""
    try:
        lines = _jsonl_lines(batch)
    except _SlowPath:
        lines = [json.dumps(row, sort_keys=True) for row in batch.to_pylist()]
    return "\n".join(lines) + "\n" if lines else ""


@dataclass
class _StagedParts(WriterCommitMessage):
    staged: tuple  # store names of one task's staged parts


class _StagedPublish(DataSourceArrowWriter, DataSourceStreamArrowWriter):
    """The two-phase publish behind every JSONL sink mode (graft_jsonl and
    graft_s3jsonl_sink, batch and stream). Each task stages its part under
    a `_staged-` name that readers skip and returns it as its commit
    message; only the driver-side commit() publishes the parts and a
    manifest, and abort() deletes the stages, so a failed task never
    leaves a half-written part visible. A batch write publishes
    `part-{i}` + `_SUCCESS`; stream batch N publishes `part-bN-{i}` +
    `_SUCCESS-N`, after removing every part an earlier attempt of batch
    N published, so a replay that stages fewer parts leaves no
    duplicates. `store` supplies the storage steps: put, move, delete
    and names (_LocalStore here, objectstore._S3Store for S3)."""

    def __init__(self, store):
        self.store = store

    def write(self, iterator):
        chunks = (text for text in map(_jsonl_text, iterator) if text)
        first = next(chunks, None)
        if first is None:
            return _StagedParts(staged=())
        name = f"_staged-{uuid.uuid4().hex}.jsonl"
        self.store.put(name, itertools.chain((first,), chunks))
        return _StagedParts(staged=(name,))

    def commit(self, messages, batchId=None):
        tag, manifest = "", "_SUCCESS"
        if batchId is not None:
            tag, manifest = f"b{batchId:05d}-", f"_SUCCESS-{batchId:05d}"
            for stale in self.store.names(f"part-{tag}"):
                self.store.delete(stale)
        staged = [name for msg in messages for name in msg.staged]
        for i, name in enumerate(staged):
            self.store.move(name, f"part-{tag}{i:05d}.jsonl")
        self.store.put(manifest, ())

    def abort(self, messages, batchId=None):
        for msg in messages:
            for name in getattr(msg, "staged", ()) or ():
                try:
                    self.store.delete(name)
                except Exception:
                    pass


class _LocalStore:
    """The storage steps on a directory (shared storage on a cluster);
    names are relative to it."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def put(self, name: str, chunks) -> None:
        with open(os.path.join(self.path, name), "w") as fh:
            fh.writelines(chunks)

    def move(self, src: str, dst: str) -> None:
        os.replace(os.path.join(self.path, src), os.path.join(self.path, dst))

    def delete(self, name: str) -> None:
        os.remove(os.path.join(self.path, name))

    def names(self, prefix: str) -> list:
        return [n for n in os.listdir(self.path) if n.startswith(prefix)]


class GraftJsonlSink(DataSource):
    """df.write / df.writeStream .format("graft_jsonl").option("path", dir)"""

    @classmethod
    def name(cls) -> str:
        return "graft_jsonl"

    def writer(self, schema, overwrite: bool):
        return _StagedPublish(_LocalStore(self.options))

    streamWriter = writer
