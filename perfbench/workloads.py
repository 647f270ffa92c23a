"""The benchmark's workloads and the operations one pass of each runs.

An operation has a timed body (``run``) and an untimed output check
(``check``). Both build their DataFrame from scratch; ``run`` writes
every output column of every row (noop sink for catalog queries, real
files for the reference pipelines) and ``check`` collects and verifies.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass

import checks
from datagen import FILTER_STATUS, FILTER_THRESHOLD
from tracing import plan_phases


@dataclass
class Ctx:
    """What operations need: the session, the generated inputs, scratch
    space, the oracle connection and (traced run only) the tracer."""

    spark: object
    data_dir: str
    csv_path: str
    json_path: str
    out_dir: str
    duck: object = None
    tracer: object = None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], None]
    check: Callable[[Ctx], tuple[int, str | None]]  # -> (rows, error or None)
    verify: Callable[[Ctx], str | None] | None = None  # re-checks a timed run's files


@dataclass
class Workload:
    name: str
    sf: float | None  # scale factor of the generated catalog tables, if any
    csv_rows: int
    json_records: int
    ops: Callable[[], list[Op]]
    nominal_pass_s: float  # sets the pass count from --seconds (see run.py)
    # Untimed passes after the checked one: within a process the first
    # passes keep getting faster while the JVM compiles hot code.
    warmup_passes: int


# ---------------------------------------------------------------- catalog
def _noop(ctx: Ctx, df) -> None:
    if ctx.tracer:
        with ctx.span("spark.plan") as sp:
            sp.attrs["plan_s"], sp.attrs["exchanges"] = plan_phases(df)
    with ctx.span("spark.exec"):
        df.write.format("noop").mode("overwrite").save()


def catalog_op(name: str) -> Op:
    from kafka_s3_etl_spark.plans.registry import all_queries

    q = all_queries()[name]
    if q.oracle is None:
        raise ValueError(f"{name} has no oracle; every catalog operation is oracle-checked")

    def run(ctx: Ctx) -> None:
        with ctx.span("plans.build"):
            df = q.fn(ctx.spark, ctx.data_dir)
        _noop(ctx, df)

    def check(ctx: Ctx) -> tuple[int, str | None]:
        df = q.fn(ctx.spark, ctx.data_dir)
        rows = df.collect()
        return len(rows), checks.oracle(ctx.duck, q.oracle, df.columns, rows)

    return Op(name, run, check)


# ------------------------------------------------------ reference pipelines
def _kafka_dir(ctx: Ctx) -> str:
    return os.path.join(ctx.out_dir, "kafka_values")


def _xml_path(ctx: Ctx) -> str:
    return os.path.join(ctx.out_dir, "products.xml")


def csv_to_kafka(ctx: Ctx) -> None:
    """products CSV -> status/date filter, newest first -> JSON values ->
    value-only text files (the Kafka wire stand-in)."""
    from pyspark.sql import functions as F

    from kafka_s3_etl_spark.sources.csv import read_products_csv
    from kafka_s3_etl_spark.sources.kafka import to_kafka_value

    with ctx.span("sources.csv.read"):
        products = read_products_csv(ctx.spark, ctx.csv_path)
    selected = products.filter(
        (F.col("articleStatus") == FILTER_STATUS)
        & (F.col("b2bReadinessDate") >= FILTER_THRESHOLD)
    ).orderBy(F.col("b2bReadinessDate").desc(), F.col("ean"))
    with ctx.span("sources.kafka.serialize"):
        values = to_kafka_value(selected)
    with ctx.span("spark.exec"):
        values.write.mode("overwrite").text(_kafka_dir(ctx))


def json_to_xml(ctx: Ctx) -> None:
    """JSON array -> per-record XML fragments (distributed) -> ordered
    collect -> one assembled XML document file."""
    from kafka_s3_etl_spark.functions.xml_render import assemble_document
    from kafka_s3_etl_spark.operators.xml_pipeline import xml_fragments

    with ctx.span("operators.xml_pipeline.fragments"):
        fragments = xml_fragments(ctx.spark, ctx.json_path)
    with ctx.span("spark.exec"):
        rows = fragments.orderBy("idx").collect()
    with ctx.span("operators.xml_pipeline.assemble"):
        doc = assemble_document([r.xml for r in rows])
        with open(_xml_path(ctx), "w", encoding="utf-8") as f:
            f.write(doc)


def _output_files(root: str) -> list[str]:
    """The XML document, or the part files of a text output directory."""
    if os.path.isfile(root):
        return [root]
    return sorted(os.path.join(root, p) for p in os.listdir(root) if p.startswith("part-"))


def _file_digest(root: str) -> str:
    h = hashlib.sha1()
    for p in _output_files(root):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _etl_op(name: str, body: Callable[[Ctx], None], out: Callable[[Ctx], str], verify) -> Op:
    """A reference pipeline: checked in full once, and every timed run's
    output is compared with the checked output's digest."""
    digests: dict[str, str] = {}

    def check(ctx: Ctx) -> tuple[int, str | None]:
        body(ctx)
        err = verify(ctx)
        if err is None:  # a wrong output fails every timed run as well
            digests[name] = _file_digest(out(ctx))
        return _count_rows(out(ctx)), err

    def verify_timed(ctx: Ctx) -> str | None:
        if _file_digest(out(ctx)) != digests.get(name):
            return f"{name}: timed output differs from the checked output"
        return None

    return Op(name, body, check, verify_timed)


def _count_rows(root: str) -> int:
    """Records written: ``<product>`` elements of the XML document, lines
    of the text part files."""
    rows = 0
    for p in _output_files(root):
        with open(p, encoding="utf-8") as f:
            rows += f.read().count("<product>") if p == root else sum(1 for _ in f)
    return rows


def etl_ops() -> list[Op]:
    return [
        _etl_op(
            "csv_to_kafka",
            csv_to_kafka,
            _kafka_dir,
            lambda ctx: checks.kafka_values(ctx.spark, ctx.csv_path, _kafka_dir(ctx)),
        ),
        _etl_op(
            "json_to_xml",
            json_to_xml,
            _xml_path,
            lambda ctx: checks.xml_document(ctx.json_path, _xml_path(ctx)),
        ),
    ]


# Oracle-backed catalog queries whose cost is fixed per job, task, py4j
# call and planning pass rather than per row; none calls an operators.*
# loop or a stream. One query: with the two pipelines that makes three
# operations of well-separated latency (query < CSV < JSON), so the pooled
# median and tail fall inside the data-bound CSV pipeline's samples. On a
# shared host the sub-second queries swing far more between runs than the
# pipelines do, so a percentile landing on one of them is unsteady.
RELATIONAL = ["q_tpch_shipping"]

# Builders that do their work before the action: eager localCheckpoint
# rounds (near-dup graph + BFS; pinned PQ ANN) and an availableNow stream.
ITERATIVE = [
    "q_graph_bfs_kstep",
    "q_sim_pq_pinned",
    "s_window_tumbling",
]


def _catalog(names: list[str]) -> list[Op]:
    return [catalog_op(n) for n in names]


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "etl_relational", 0.01, 50_000, 2_000,
            lambda: etl_ops() + _catalog(RELATIONAL), 2.0, 2,
        ),
        Workload("iterative", 0.001, 0, 0, lambda: _catalog(ITERATIVE), 4.0, 1),
    ]
}
