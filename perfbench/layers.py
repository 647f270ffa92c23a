"""The traced run: per-layer metrics, self times and tracing overhead.

Traced passes (spans and counters on, see ``tracing``) alternate with
untraced ones, so both kinds are equally warm. Per-pass figures are summed over the pass's operations
and reported as the median over traced passes; set-up, probe and
leftover figures are per run. Every metric in ``PER_LAYER`` is printed
for every workload, 0 where the workload does not reach that layer.
"""

from __future__ import annotations

import os
import time

from stats import covered, median, self_time

HERE = os.path.dirname(os.path.abspath(__file__))

# Span names; each one's self time is reported as ``self.<name>_s``.
SPANS = [
    "op",
    "plans.build",
    "spark.plan",
    "spark.exec",
    "sources.tables.load",
    "sources.csv.read",
    "sources.kafka.serialize",
    "operators.xml_pipeline.fragments",
    "operators.xml_pipeline.assemble",
    "operators.graph",
    "operators.dedup",
    "operators.similarity",
    "streaming.batch",
]

PER_LAYER = {
    "session.build_s": "s",
    "shiplib.ship_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.failed_tasks": "count",
    "driver.py4j_calls": "count",
    "driver.py4j_s": "s",
    "sources.tables.load_calls": "count",
    "sources.tables.load_s": "s",
    "sources.csv.read_s": "s",
    "sources.kafka.serialize_s": "s",
    "operators.xml_pipeline.split_s": "s",
    "operators.xml_pipeline.render_s": "s",
    "operators.xml_pipeline.assemble_s": "s",
    "operators.xml_pipeline.render_partitions": "count",
    "functions.xml_render.render_s": "s",
    "operators.graph.s": "s",
    "operators.graph.calls": "count",
    "operators.dedup.s": "s",
    "operators.dedup.calls": "count",
    "operators.similarity.s": "s",
    "operators.similarity.calls": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.input_rows": "rows",
    "streaming.state_rows": "rows",
    "streaming.wait_s": "s",
    "streaming.scratch_dirs_left": "count",
    "streaming.sink_views_left": "count",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
    **{f"self.{name}_s": "s" for name in SPANS},
}

_COUNTS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "input_bytes")


def _attach_batches(tracer, tag: str, batches: list[dict]) -> None:
    """Record each micro-batch as a span under the builder span of the
    operation it ran in (streams run inside the query builders)."""
    builds = [s for s in tracer.spans if s.name == "plans.build" and s.op.startswith(tag + ":")]
    for b in batches:
        owner = next((s for s in builds if s.start <= b["start"] <= s.end), None)
        if owner is not None:
            tracer.add(
                "streaming.batch", b["start"], b["end"], owner,
                query=b["query"], input_rows=b["input_rows"], state_rows=b["state_rows"],
            )


def pass_metrics(spans: list) -> dict[str, float]:
    """Per-layer figures of one traced pass, from its spans."""
    by_name: dict[str, list] = {}
    children: dict[int, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def dur(name: str) -> float:
        return sum(s.end - s.start for s in by_name.get(name, []))

    def n(name: str) -> int:
        return len(by_name.get(name, []))

    roots = by_name.get("op", [])
    batches = by_name.get("streaming.batch", [])
    m: dict[str, float] = {
        "plans.build_s": dur("plans.build"),
        "plans.build_jobs": sum(r.attrs.get("build_jobs", 0) for r in roots),
        "spark.plan_s": sum(s.attrs["plan_s"] for s in by_name.get("spark.plan", [])),
        "spark.exec_s": dur("spark.exec"),
        "spark.exchanges": sum(s.attrs["exchanges"] for s in by_name.get("spark.plan", [])),
        "driver.py4j_calls": sum(r.py4j_calls for r in roots),
        "driver.py4j_s": sum(r.py4j_s for r in roots),
        "sources.tables.load_calls": n("sources.tables.load"),
        "sources.tables.load_s": dur("sources.tables.load"),
        "operators.xml_pipeline.assemble_s": dur("operators.xml_pipeline.assemble"),
        "streaming.batches": len(batches),
        "streaming.batch_s": dur("streaming.batch"),
        "streaming.input_rows": sum(b.attrs["input_rows"] for b in batches),
    }
    for key in _COUNTS:
        m[f"spark.{key}"] = sum(r.attrs.get(key, 0) for r in roots)
    for layer in ("graph", "dedup", "similarity"):
        m[f"operators.{layer}.s"] = dur(f"operators.{layer}")
        m[f"operators.{layer}.calls"] = n(f"operators.{layer}")
    # State size at each query's last micro-batch.
    last: dict[str, object] = {}
    for b in sorted(batches, key=lambda b: b.start):
        last[b.attrs["query"]] = b
    m["streaming.state_rows"] = sum(b.attrs["state_rows"] for b in last.values())
    # Builder time no micro-batch covers: start-up, completion wait, teardown.
    m["streaming.wait_s"] = sum(
        (s.end - s.start) - covered((c.start, c.end) for c in children[s.id] if c.name == "streaming.batch")
        for s in by_name.get("plans.build", [])
        if any(c.name == "streaming.batch" for c in children.get(s.id, []))
    )
    for name in SPANS:
        m[f"self.{name}_s"] = sum(
            self_time(s.start, s.end, [(c.start, c.end) for c in children.get(s.id, [])])
            for s in by_name.get(name, [])
        )
    return m


def _median_of(reps: int, fn) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return median(times)


def etl_probes(ctx, reps: int = 3) -> dict[str, float]:
    """Split the reference pipelines by layer with extra jobs run after
    the traced passes: scan only, scan + serialize, split only, split +
    render; and the pure renderer in-process on one core."""
    from pyspark.sql import functions as F

    from datagen import FILTER_STATUS, FILTER_THRESHOLD
    from kafka_s3_etl_spark.functions.xml_render import json_document_to_xml
    from kafka_s3_etl_spark.operators.xml_pipeline import json_array_to_records, xml_fragments
    from kafka_s3_etl_spark.sources.csv import read_products_csv
    from kafka_s3_etl_spark.sources.kafka import to_kafka_value

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    spark = ctx.spark

    def selected():
        return read_products_csv(spark, ctx.csv_path).filter(
            (F.col("articleStatus") == FILTER_STATUS)
            & (F.col("b2bReadinessDate") >= FILTER_THRESHOLD)
        )

    read_s = _median_of(reps, lambda: noop(read_products_csv(spark, ctx.csv_path)))
    filtered_s = _median_of(reps, lambda: noop(selected()))
    serialized_s = _median_of(reps, lambda: noop(to_kafka_value(selected())))
    split_s = _median_of(reps, lambda: noop(json_array_to_records(spark, ctx.json_path)))
    fragments_s = _median_of(reps, lambda: noop(xml_fragments(spark, ctx.json_path)))
    with open(ctx.json_path, encoding="utf-8") as f:
        text = f.read()
    return {
        "sources.csv.read_s": read_s,
        "sources.kafka.serialize_s": serialized_s - filtered_s,
        "operators.xml_pipeline.split_s": split_s,
        "operators.xml_pipeline.render_s": fragments_s - split_s,
        "operators.xml_pipeline.render_partitions": xml_fragments(
            spark, ctx.json_path
        ).rdd.getNumPartitions(),
        "functions.xml_render.render_s": _median_of(reps, lambda: json_document_to_xml(text)),
    }


def traced(run) -> dict[str, tuple[float, str]]:
    """Alternate untraced and traced passes (so both are equally warm),
    and return every ``PER_LAYER`` metric as ``name -> (value, unit)``.
    Spans are written to ``perfbench/out/trace_<workload>_s<seed>.json``
    at the end."""
    from tracing import LayerWrappers, Py4jCounter, StreamEvents, Tracer, spark_counts

    spark = run.spark
    py4j = Py4jCounter()
    tracer = Tracer(py4j)
    untraced, traced_passes, per_pass = [], [], []
    # Half the untraced run's passes of each kind, so that a traced run
    # takes about as long as an untraced one.
    for k in range(max(2, (run.passes + 1) // 2)):
        untraced.append(run.timed_pass(f"u{k}")[0])
        tag = f"t{k}"
        wrappers = LayerWrappers(tracer)
        events = StreamEvents()
        py4j.install(spark)
        wrappers.install()
        spark.streams.addListener(events)
        try:
            traced_passes.append(run.timed_pass(tag, tracer)[0])
        finally:
            spark.streams.removeListener(events)
            wrappers.restore()
            py4j.uninstall()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        ours = [s for s in tracer.spans if s.op and s.op.startswith(tag + ":")]
        for root in (s for s in ours if s.name == "op"):
            build_end = max(
                (s.end for s in ours if s.op == root.op and s.name == "plans.build"),
                default=None,
            )
            root.attrs.update(spark_counts(spark, root.op, build_end))
        _attach_batches(tracer, tag, events.drain())
        per_pass.append(
            pass_metrics([s for s in tracer.spans if s.op and s.op.startswith(tag + ":")])
        )

    values: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    for key in per_pass[0]:
        values[key] = median([m[key] for m in per_pass])
    values["session.build_s"] = run.layer["session.build_s"]
    values["shiplib.ship_s"] = run.layer["shiplib.ship_s"]
    if run.wl.csv_rows:
        values.update(etl_probes(run.ctx))
    dirs, views = run.leftovers()
    values["streaming.scratch_dirs_left"] = dirs
    values["streaming.sink_views_left"] = views
    values["trace.pass_s"] = median(traced_passes)
    values["trace.untraced_pass_s"] = median(untraced)
    values["trace.overhead_s"] = values["trace.pass_s"] - values["trace.untraced_pass_s"]

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"trace_{run.wl.name}_s{run.seed}.json"))
    return {k: (values[k], unit) for k, unit in PER_LAYER.items()}
