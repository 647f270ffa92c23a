"""Round-6 batches 6e-6g: experiment-analysis statistics, the Python
DataSource catalog entries, and Spark-4 SQL surface
(beyond-reference tier, same policy as plans/analytics.py).

Besides the two statistics below, this module registers:
x_python_datasource / x_python_pushdown / s_python_stream_source /
x_python_datasink / s_python_stream_sink (the full custom Python
DataSource matrix, sources/pyds.py), q_recursive_tree (WITH
RECURSIVE), q_sql_udf (SQL scalar function — analysis-time inlining,
full codegen), q_lateral_topn (correlated LATERAL + ORDER BY LIMIT,
decorrelated by Catalyst), and q_pagination (total-ordered
LIMIT/OFFSET).

* q_ab_test — Welch z-statistic comparing purchase value between two
  user cohorts, one row per event_type. The whole query is ONE
  map-side-combined groupBy: cohorts pivot into conditional aggregates
  (n / sum-cents / sum-squared-cents as exact BIGINTs), then the
  mean/variance/z formula runs as ONE identical scalar expression tree
  on both engines — every op (+ - * / sqrt) is IEEE correctly-rounded,
  so exact integer inputs give bit-identical doubles with NO rounding
  step at all. (Only libm transcendentals can diverge across engines;
  this stat uses none.)
* q_mutual_info — mutual information between event_type and cohort
  from the exact contingency counts. ln() IS a libm call, so each
  term's log goes through the integer micro-nats pattern proven by
  q_lm_score (round(ln*1e6) as BIGINT — a final-ulp libm difference
  cannot flip a 1e-6 rounding), terms sum as BIGINT, and ONE division
  exposes the result.

Both are single-shuffle plans on a 5x2 contingency rollup — at 100 TB
the shuffle carries ten grouped rows per partition, nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table

_VC = "CAST(ROUND(value * 100) AS BIGINT)"  # exact cents


@register(
    "q_ab_test",
    category="analytics",
    doc=(
        "Welch z-test per event_type between user cohorts (user_id "
        "parity): one map-combined groupBy with conditional exact-"
        "BIGINT aggregates; the z formula is a single shared IEEE "
        "expression tree — bit-identical with zero rounding."
    ),
    oracle=f"""
        WITH g AS (
          SELECT event_type,
                 CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN user_id % 2 = 0 THEN {_VC} ELSE 0 END) AS BIGINT) AS s_a,
                 CAST(SUM(CASE WHEN user_id % 2 = 1 THEN {_VC} ELSE 0 END) AS BIGINT) AS s_b,
                 CAST(SUM(CASE WHEN user_id % 2 = 0 THEN {_VC} * {_VC} ELSE 0 END) AS BIGINT) AS q_a,
                 CAST(SUM(CASE WHEN user_id % 2 = 1 THEN {_VC} * {_VC} ELSE 0 END) AS BIGINT) AS q_b
          FROM events GROUP BY event_type
        )
        SELECT event_type, n_a, n_b,
               (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / 100.0
                   AS mean_diff,
               (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               / sqrt(
                   ((CAST(q_a AS DOUBLE)
                     - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                       / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
                   / CAST(n_a AS DOUBLE)
                   + ((CAST(q_b AS DOUBLE)
                       - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                         / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
                     / CAST(n_b AS DOUBLE)
                 ) AS z_stat
        FROM g
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # mirror the oracle's predicates EXACTLY: `% 2 = 1` (not `NOT = 0`)
    # so a hypothetical negative odd user_id (% 2 = -1 in both engines)
    # lands in neither cohort on both sides
    a = F.col("user_id") % 2 == 0
    b = F.col("user_id") % 2 == 1
    vc = F.expr(_VC)
    g = ev.groupBy("event_type").agg(
        F.sum(F.when(a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(b, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(a, vc).otherwise(0)).alias("s_a"),
        F.sum(F.when(b, vc).otherwise(0)).alias("s_b"),
        F.sum(F.when(a, vc * vc).otherwise(0)).alias("q_a"),
        F.sum(F.when(b, vc * vc).otherwise(0)).alias("q_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    qa, qb = F.col("q_a").cast("double"), F.col("q_b").cast("double")
    mean_delta = sa / na - sb / nb
    var_a = (qa - sa * sa / na) / (na - F.lit(1.0))
    var_b = (qb - sb * sb / nb) / (nb - F.lit(1.0))
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        (mean_delta / F.lit(100.0)).alias("mean_diff"),
        (mean_delta / F.sqrt(var_a / na + var_b / nb)).alias("z_stat"),
    )


@register(
    "q_mutual_info",
    category="analytics",
    doc=(
        "Mutual information between event_type and user cohort from "
        "the exact 5x2 contingency rollup; each term's ln() rounds to "
        "integer micro-nats (the q_lm_score libm-proofing pattern), "
        "terms sum as BIGINT, one division at the end."
    ),
    oracle="""
        WITH cells AS (
          SELECT event_type, user_id % 2 AS cohort,
                 CAST(COUNT(*) AS BIGINT) AS n_xy
          FROM events GROUP BY 1, 2
        ),
        rows_ AS (SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x
                  FROM cells GROUP BY 1),
        cols_ AS (SELECT cohort, CAST(SUM(n_xy) AS BIGINT) AS n_y
                  FROM cells GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells),
        terms AS (
          SELECT c.n_xy, t.n,
                 CAST(ROUND(ln(CAST(c.n_xy AS DOUBLE) * CAST(t.n AS DOUBLE)
                               / (CAST(r.n_x AS DOUBLE)
                                  * CAST(co.n_y AS DOUBLE))) * 1e6)
                      AS BIGINT) AS micronats
          FROM cells c
          JOIN rows_ r ON c.event_type = r.event_type
          JOIN cols_ co ON c.cohort = co.cohort
          CROSS JOIN tot t
        )
        SELECT CAST(CAST(SUM(n_xy * micronats) AS BIGINT) AS DOUBLE)
               / (1e6 * CAST(ANY_VALUE(n) AS DOUBLE)) AS mi_nats,
               CAST(ANY_VALUE(n) AS BIGINT) AS n_events
        FROM terms
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("cohort")
    ).agg(F.count("*").alias("n_xy"))
    rows_ = cells.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    cols_ = cells.groupBy("cohort").agg(F.sum("n_xy").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").alias("n"))
    terms = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "cohort")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "micronats",
            F.expr(
                "CAST(ROUND(ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)"
                " / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) * 1e6)"
                " AS BIGINT)"
            ),
        )
    )
    return terms.agg(
        (
            F.sum(F.col("n_xy") * F.col("micronats")).cast("double")
            / (F.lit(1e6) * F.first("n").cast("double"))
        ).alias("mi_nats"),
        F.first("n").alias("n_events"),
    )


@register(
    "x_python_datasource",
    category="source",
    doc=(
        "Spark 4 Python DataSource end-to-end: driver-side partition "
        "planning, executor-side Arrow RecordBatch emission, hash-"
        "checked against a closed-form range() oracle (sources/pyds.py)."
    ),
    oracle="""
        SELECT id, CAST(id % 16 AS INT) AS bucket,
               CAST(id AS DOUBLE) / 7.0 AS val
        FROM range(0, 60000) t(id)
    """,
)
def x_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.shiplib import ensure_workers_can_import
    from kafka_s3_etl_spark.sources.pyds import register_python_sources

    # the reader class unpickles by reference inside executor Python
    # workers — ship the package exactly like every pandas-UDF path
    ensure_workers_can_import(spark)
    register_python_sources(spark)
    return (
        spark.read.format("graft_range")
        .option("n", 60_000)
        .option("partitions", 8)
        .load()
    )


@register(
    "s_python_stream_source",
    category="streaming",
    cost=2,
    doc=(
        "Spark 4 Python DataSource STREAM reader: offset-managed "
        "micro-batches (initialOffset/latestOffset/partitions/commit — "
        "the Kafka-connector protocol in Python), 3 triggers of 20k "
        "rows, per-bucket rollup in complete mode; exact-BIGINT output "
        "hash-checks the whole offset/partition/Arrow path."
    ),
    oracle="""
        SELECT CAST(id % 16 AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(id) AS BIGINT) AS sum_id
        FROM range(0, 60000) t(id)
        GROUP BY 1
    """,
)
def s_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.shiplib import ensure_workers_can_import
    from kafka_s3_etl_spark.sources.pyds import register_python_sources
    from kafka_s3_etl_spark.streaming.runner import run_stream, scratch_dir

    ensure_workers_can_import(spark)
    register_python_sources(spark)
    stream = (
        spark.readStream.format("graft_range")
        .option("n", 60_000)
        .option("step", 20_000)
        .option("partitions", 8)
        # per-run high-water-mark file: latestOffset can never regress
        # across a restart, whatever call Spark makes first (see
        # _RangeStreamReader docstring)
        .option("cursor_path", f"{scratch_dir('pyds_cursor')}/graft_range.cursor")
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("id").alias("sum_id")
    )
    # custom Python stream sources don't implement availableNow: run
    # live and drain once (latestOffset stops advancing once the log is
    # exhausted, so the drain terminates)
    return run_stream(agg, output_mode="complete", deliveries=())


@register(
    "x_python_datasink",
    category="sink",
    doc=(
        "Spark 4 Python DataSource WRITE side: the graft_jsonl sink, "
        "one of the two formats (with graft_s3jsonl_sink) that run the "
        "one staged publish, sources/pyds.py::_StagedPublish — task-"
        "staged parts -> commit messages -> driver publish + _SUCCESS; "
        "the readback of what the sink wrote hash-checks against the "
        "source table, proving the float/timestamp JSON roundtrip is "
        "exact."
    ),
    oracle="""
        SELECT event_id, user_id, event_type,
               epoch_us(ts) AS ts_us, value
        FROM events
    """,
)
def x_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.shiplib import ensure_workers_can_import
    from kafka_s3_etl_spark.sources.pyds import register_python_sources
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    ensure_workers_can_import(spark)
    register_python_sources(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    out = scratch_dir("jsonl_sink")
    ev.write.format("graft_jsonl").option("path", out).mode("append").save()
    return (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "ts_us bigint, value double"
        )
        .option("pathGlobFilter", "part-*.jsonl")
        .json(out)
    )


@register(
    "s_python_stream_sink",
    category="streaming",
    cost=2,
    doc=(
        "Python DataSource stream source INTO Python DataSource stream "
        "sink: 3 offset-managed micro-batches written via per-batch "
        "two-phase commit (batchId-keyed parts = replay-safe); raw "
        "readback hash-matches the closed-form log — no row lost or "
        "duplicated through either protocol."
    ),
    oracle="""
        SELECT id, CAST(id % 16 AS INT) AS bucket,
               CAST(id AS DOUBLE) / 7.0 AS val
        FROM range(0, 60000) t(id)
    """,
)
def s_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.shiplib import ensure_workers_can_import
    from kafka_s3_etl_spark.sources.pyds import register_python_sources
    from kafka_s3_etl_spark.streaming.runner import run_stream, scratch_dir

    ensure_workers_can_import(spark)
    register_python_sources(spark)
    stream = (
        spark.readStream.format("graft_range")
        .option("n", 60_000)
        .option("step", 20_000)
        .option("partitions", 8)
        .load()
    )
    out = scratch_dir("jsonl_stream_sink")
    run_stream(
        stream.writeStream.format("graft_jsonl").option("path", out), deliveries=()
    )
    return (
        spark.read.schema("id bigint, bucket int, val double")
        .option("pathGlobFilter", "part-*.jsonl")
        .json(out)
    )


@register(
    "x_python_pushdown",
    category="source",
    doc=(
        "Predicate pushdown INTO the Python DataSource: pushFilters "
        "accepts the bucket equality and generation strides by 16 at "
        "the source (never post-filtered); hash-checked against the "
        "filtered range oracle, pruning unit-tested directly."
    ),
    oracle="""
        SELECT id, CAST(id % 16 AS INT) AS bucket,
               CAST(id AS DOUBLE) / 7.0 AS val
        FROM range(0, 60000) t(id)
        WHERE id % 16 = 3
    """,
)
def x_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.shiplib import ensure_workers_can_import
    from kafka_s3_etl_spark.sources.pyds import register_python_sources

    ensure_workers_can_import(spark)
    register_python_sources(spark)
    return (
        spark.read.format("graft_range")
        .option("n", 60_000)
        .option("partitions", 8)
        .load()
        .filter(F.col("bucket") == 3)
    )


@register(
    "q_recursive_tree",
    category="relational",
    doc=(
        "Spark 4 WITH RECURSIVE: per-supplier depth in the implicit "
        "binary tree (children of k are 2k, 2k+1) walked from the "
        "root by iterative recursive-CTE joins — the hierarchy/"
        "reachability pattern (org charts, BOM explosions) that "
        "pre-4.x needed a driver-side loop."
    ),
    oracle="""
        WITH RECURSIVE chain(suppkey, depth) AS (
          SELECT CAST(1 AS BIGINT), 0
          UNION ALL
          SELECT s.s_suppkey, c.depth + 1
          FROM supplier s JOIN chain c
            ON s.s_suppkey = 2 * c.suppkey OR s.s_suppkey = 2 * c.suppkey + 1
        )
        SELECT c.suppkey AS s_suppkey, s.s_name, c.depth
        FROM chain c JOIN supplier s ON c.suppkey = s.s_suppkey
    """,
)
def q_recursive_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "supplier_rtree"
    )
    return spark.sql(
        """
        WITH RECURSIVE chain(suppkey, depth) AS (
          SELECT CAST(1 AS BIGINT), 0
          UNION ALL
          SELECT s.s_suppkey, c.depth + 1
          FROM supplier_rtree s JOIN chain c
            ON s.s_suppkey = 2 * c.suppkey OR s.s_suppkey = 2 * c.suppkey + 1
        )
        SELECT c.suppkey AS s_suppkey, s.s_name, c.depth
        FROM chain c JOIN supplier_rtree s ON c.suppkey = s.s_suppkey
        """
    )


@register(
    "q_sql_udf",
    category="relational",
    doc=(
        "Spark 4 SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURN "
        "expr): the declarative UDF family — inlined into the plan at "
        "analysis (full codegen, no Python), unlike F.udf; used inside "
        "a grouped exact-cents aggregate."
    ),
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS revenue_e4,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION revenue_e4_udf"
        "(price DOUBLE, disc DOUBLE) RETURNS BIGINT RETURN "
        "CAST(ROUND(price * 100) AS BIGINT)"
        " * (100 - CAST(ROUND(disc * 100) AS BIGINT))"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_squ")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(revenue_e4_udf(l_extendedprice, l_discount))
                    AS BIGINT) AS revenue_e4,
               COUNT(*) AS n
        FROM li_squ GROUP BY 1
        """
    )


@register(
    "q_lateral_topn",
    category="relational",
    doc=(
        "Correlated LATERAL subquery with ORDER BY ... LIMIT 1: the "
        "last-shipped lineitem per January-1996 order. Catalyst "
        "decorrelates the lateral to a join + per-key top-1 — never a "
        "per-row re-scan; (shipdate DESC, linenumber) makes the pick "
        "total-ordered on both engines."
    ),
    oracle="""
        SELECT o.o_orderkey, o.o_orderdate, l.l_shipdate, l.l_linenumber
        FROM orders o, LATERAL (
          SELECT l_shipdate, l_linenumber FROM lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_shipdate DESC, l_linenumber LIMIT 1) l
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-02-01'
    """,
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_lat")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("o_lat")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_orderdate, l.l_shipdate, l.l_linenumber
        FROM o_lat o, LATERAL (
          SELECT l_shipdate, l_linenumber FROM li_lat
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_shipdate DESC, l_linenumber LIMIT 1) l
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-02-01'
        """
    )


@register(
    "q_pagination",
    category="relational",
    doc=(
        "Keyless pagination: ORDER BY (c_acctbal DESC, c_custkey) "
        "LIMIT 50 OFFSET 100 — total order makes the page cut "
        "deterministic; Spark plans a single TakeOrdered-style global "
        "top-150 then drops the head, no full sort materialization."
    ),
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 50 OFFSET 100
    """,
)
def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .offset(100)
        .limit(50)
    )
