"""The session's whole-stage codegen class cache holds a repeated pass.

Spark caches compiled generated classes JVM-wide, keyed by their source,
up to ``spark.sql.codegen.cache.maxEntries``. A pass whose distinct
classes outnumber that size evicts and recompiles them (Janino, then an
un-JITted first run) on every repetition. The three builders of the
`iterative` benchmark workload generate about 109 classes per pass, more
than Spark's default of 100; ``session.build_session`` sizes the cache so
a second pass compiles nothing.
"""

from __future__ import annotations

from kafka_s3_etl_spark.plans.registry import all_queries

ITERATIVE = ("q_graph_bfs_kstep", "q_sim_pq_pinned", "s_window_tumbling")


def _compiles(spark) -> int:
    """Generated classes compiled so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_iterative_pass_compiles_no_class(spark, sf_dir):
    queries = all_queries()

    def one_pass() -> None:
        for name in ITERATIVE:
            queries[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    one_pass()
    before = _compiles(spark)
    one_pass()
    recompiled = _compiles(spark) - before
    assert recompiled == 0, (
        f"the second pass recompiled {recompiled} generated classes: the "
        "codegen class cache (spark.sql.codegen.cache.maxEntries) is smaller "
        "than the pass's working set"
    )
