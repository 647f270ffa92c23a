"""Round-7 scale-robustness entries: bounded-output linkage variants,
range pushdown into the Python DataSource, and streaming admission
control.

The round-6 probe adjudicated q_fuzzy_join / q_graph_triangles as
output-bound (candidate pairs / triangles themselves grow superlinearly
on the skewed name graph) — correct plans whose ANSWER explodes at
100x. The capped variants here are the documented knob for that: a
user states a block-size / degree budget, the operator drops exactly
the hot mass that budget excludes, and the result is EXACT over what
remains (property-tested in tests/test_mining_ops.py; the oracles below
restate the same semantics in brute-force SQL). The value set is the
custkey digit-string family — the one family in the synthetic testdata
with genuinely skewed neighborhoods (short strings sit in huge deletion
blocks / high-degree hubs, long ones don't), i.e. the exact "very
common short strings" failure mode the cap exists for.

x_python_pushdown_range extends sources/pyds.py pushdown from one
bucket equality to id range intersection + IN sets — the Python-source
analogue of parquet min/max row-group pruning (generation never
materializes ids outside the pushed interval; unit-pinned in
tests/test_sketch_ops.py).

s_admission_control exercises maxFilesPerTrigger backpressure: the
100 TB story for a file-fed stream is that a backlog must drain in
bounded micro-batches (state + sink pressure stay flat) without
changing the final answer; the test pins the per-batch row caps, the
oracle pins the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.operators.graph import triangle_counts
from kafka_s3_etl_spark.operators.linkage import fuzzy_pairs_ed1
from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table

# Deletion-neighborhood / ed1-graph oracle scaffolding over the custkey
# digit strings (see module doc for why this family). The fuzzy-cap
# entry uses a 3/4-density subset (custkey % 4 <> 0): complete digit
# families make every deletion block exactly 10 (all values hot or none
# at any cap), while the thinned family's block sizes vary binomially
# around 7.5 — so a cap of 7 truncates the over-dense blocks and keeps
# a real surviving pair set, the partial regime the knob exists for.
_KEYSTR_DELS = """
        WITH cn AS (
          SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v FROM customer
          WHERE c_custkey % 4 <> 0
        ),
        dels AS (
          SELECT v, i, substr(v, 1, i) || substr(v, i + 2) AS sig
          FROM cn, LATERAL (
            SELECT UNNEST(generate_series(0, length(v) - 1)) AS i
          ) t
        )
"""

_KEYSTR_EDGES = """
        WITH cn AS (
          SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v FROM customer
        ),
        e AS (
          SELECT a.v AS a, b.v AS b
          FROM cn a JOIN cn b
            ON a.v < b.v AND levenshtein(a.v, b.v) <= 1
        )
"""


def _custkey_strings(
    spark: SparkSession, sf_dir: str, thinned: bool = False
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    if thinned:
        cust = cust.filter(F.col("c_custkey") % 4 != 0)
    return cust.select(F.col("c_custkey").cast("string").alias("name"))


@register(
    "q_fuzzy_join_capped",
    category="linkage",
    doc=(
        "Bounded-output ed1 linkage: max_block=7 drops every value "
        "with an over-dense deletion-signature block (the binomially "
        "varying digit families of the thinned key set — 65 survivors "
        "/ 272 exact pairs at sf0.01), and the result is the EXACT "
        "brute-force pair set over the survivors — candidates <= "
        "(L+1)*cap per value regardless of skew."
    ),
    oracle=_KEYSTR_DELS
    + """
        , hot AS (
          SELECT sig, i FROM dels GROUP BY sig, i HAVING COUNT(*) > 7
        ),
        hotv AS (SELECT DISTINCT v FROM dels JOIN hot USING (sig, i)),
        surv AS (
          SELECT v FROM cn WHERE v NOT IN (SELECT v FROM hotv)
        )
        SELECT a.v AS a, b.v AS b,
               CAST(levenshtein(a.v, b.v) AS INTEGER) AS dist
        FROM surv a JOIN surv b
          ON a.v < b.v AND levenshtein(a.v, b.v) <= 1
    """,
)
def q_fuzzy_join_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_pairs_ed1(
        _custkey_strings(spark, sf_dir, thinned=True),
        col="name",
        max_block=7,
    )


@register(
    "q_graph_triangles_capped",
    category="graph",
    cost=1,
    doc=(
        "Degree-capped triangle counts over the custkey-string ed1 "
        "graph (degrees 18..52 at sf0.01 — real hub skew): nodes above "
        "degree 40 are dropped and the counts are EXACT on the induced "
        "subgraph, bounding wedge candidates to m*cap regardless of "
        "how dense the hub neighborhoods grow."
    ),
    oracle=_KEYSTR_EDGES
    + """
        , d AS (
          SELECT node, COUNT(*) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
          ) GROUP BY node
        ),
        hub AS (SELECT node FROM d WHERE deg > 40),
        e2 AS (
          SELECT a, b FROM e
          WHERE a NOT IN (SELECT node FROM hub)
            AND b NOT IN (SELECT node FROM hub)
        ),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, ee.b AS z
          FROM e2 e1
          JOIN e2 ee ON e1.b = ee.a
          JOIN e2 e3 ON e3.a = e1.a AND e3.b = ee.b
        )
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM tri, UNNEST([x, y, z]) AS t(node)
        GROUP BY node
    """,
)
def q_graph_triangles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = fuzzy_pairs_ed1(
        _custkey_strings(spark, sf_dir), col="name"
    ).select("a", "b")
    return triangle_counts(edges, max_degree=40)


@register(
    "x_python_pushdown_range",
    category="source",
    doc=(
        "Range pushdown INTO the Python DataSource: id >/<= predicates "
        "reach pushFilters, compose by interval intersection, and "
        "generation strides the narrowed range — partitions wholly "
        "outside it emit nothing (the parquet min/max pruning "
        "analogue). Hash-checked against the filtered range oracle; "
        "generation pruning unit-pinned."
    ),
    oracle="""
        SELECT id, CAST(id % 16 AS INT) AS bucket,
               CAST(id AS DOUBLE) / 7.0 AS val
        FROM range(0, 60000) t(id)
        WHERE id > 12344 AND id <= 45677
    """,
)
def x_python_pushdown_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.shiplib import ensure_workers_can_import
    from kafka_s3_etl_spark.sources.pyds import register_python_sources

    ensure_workers_can_import(spark)
    register_python_sources(spark)
    return (
        spark.read.format("graft_range")
        .option("n", 60_000)
        .option("partitions", 8)
        .load()
        .filter((F.col("id") > 12_344) & (F.col("id") <= 45_677))
    )


# one materialized multi-file copy of events per sf_dir (immutable)
_ADMISSION_SRC: dict[str, str] = {}
_ADMISSION_FILES = 6


def admission_controlled_counts(
    spark: SparkSession,
    sf_dir: str,
    files_per_trigger: int = 2,
) -> DataFrame:
    """Drain an events backlog of 6 parquet files under
    maxFilesPerTrigger admission control and return the per-type
    rollup. The run's progress (``runner.LAST_RUN``) carries the
    per-batch input caps (numInputRows) the limit enforces."""
    from kafka_s3_etl_spark.streaming.runner import run_stream, scratch_dir

    if sf_dir not in _ADMISSION_SRC:
        src = scratch_dir("admission_src")
        load_table(spark, sf_dir, "events").repartition(
            _ADMISSION_FILES
        ).write.mode("overwrite").parquet(src)
        _ADMISSION_SRC[sf_dir] = src
    src = _ADMISSION_SRC[sf_dir]
    schema = load_table(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    # integer-only aggregates: incremental (multi-batch) state updates
    # reorder float additions, so the oracle-exact columns are counts
    # and BIGINT sums
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_id"),
    )
    return run_stream(agg, output_mode="complete")


@register(
    "s_admission_control",
    category="streaming",
    cost=2,
    doc=(
        "Streaming admission control / backpressure: a 6-file events "
        "backlog drained with maxFilesPerTrigger=2 — Trigger."
        "AvailableNow honors the read limit, so the backlog processes "
        "as >=3 bounded micro-batches (per-batch rows pinned in "
        "tests/test_streaming.py) while the final rollup equals the "
        "batch answer exactly."
    ),
    oracle="""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(event_id) AS BIGINT) AS sum_id
        FROM events GROUP BY event_type
    """,
)
def s_admission_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    return admission_controlled_counts(spark, sf_dir)
