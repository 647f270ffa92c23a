"""Statistical inference + incremental aggregation (round 8, batch 14):

* q_diff_in_diff — difference-in-differences readout beside q_cuped:
  per-user pre/post spend cents (exact BIGINT conditional sums over
  ONE events scan), the four cohort-period means each ONE division of
  exact integers, DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre)
  as IEEE subtractions of bit-identical doubles — the
  experimentation-platform estimator with zero libm.
* q_bootstrap_ci — POISSON bootstrap confidence interval, the 100 TB
  bootstrap: classic resampling draws n rows per replicate (B full
  passes); the Poisson approximation gives every row an independent
  Poisson(1) replication weight, so ALL B=100 replicates ride ONE
  scan (row × replicate explode, map-side combined). Weights are
  RNG-free: md5_int32(orderkey#b) against the exact Poisson(1) CDF
  thresholds scaled to 2^32 (shared integer literals ⇒ identical
  weights on both engines). Replicate means are single divisions of
  exact BIGINTs, the 2.5%/97.5% quantiles come from rank math over
  the (mean, b) total order — hash-exact end-to-end.
* q_percentile_cont — interpolated continuous p25/p50/p75 of order
  cents per priority (the PERCENTILE_CONT semantics, completing the
  quantile matrix): pos = (n−1)·p/100 split into integer index and
  integer remainder, value = (c_lo·(100−rem) + c_hi·rem)/10000 — ONE
  terminal division per percentile, all rank arithmetic in BIGINTs
  (Spark DIV == DuckDB // on non-negative operands).
* q_incremental_agg_merge — the lambda-architecture mergeability
  contract made exact: daily partial aggregates (n/sum/min/max per
  (day, type)) merged into monthly finals WITHOUT rescanning facts;
  the oracle aggregates the facts directly, so hash equality PROVES
  the partial→final merge is lossless (the exact-aggregate companion
  to q_sketch_mergeability's HLL bound check). At 100 TB this is the
  only affordable nightly rollup shape: partials are O(days×types).
* q_markov_stationary — stationary distribution of the user
  event-type Markov chain: consecutive-event transition counts from
  one per-user lag window (map-side combined k×k rollup, k = number
  of event types), then the bounded k×k matrix is collected
  driver-side (the capped-fit house pattern, similarity.py::_lloyd
  discipline) and power-iterated in numpy. Iterative eigenvector ⇒
  rows-only + fixpoint property test.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table, local_frame

_VC = "CAST(ROUND(value * 100) AS BIGINT)"
_OC = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"


@register(
    "q_diff_in_diff",
    category="analytics",
    cost=1,
    doc=(
        "Difference-in-differences: per-user pre/post spend cents "
        "from one scan, four cohort-period means (one exact-integer "
        "division each), DiD via IEEE subtractions of bit-identical "
        "doubles. The q_cuped sibling with the two-period design."
    ),
    oracle=f"""
        WITH u AS (
          SELECT user_id, user_id % 2 AS cohort,
                 CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                               THEN {_VC} ELSE 0 END) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                               THEN {_VC} ELSE 0 END) AS BIGINT) AS y
          FROM events GROUP BY user_id
        ), g AS (
          SELECT CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n1,
                 CAST(SUM(CASE WHEN cohort = 1 THEN x ELSE 0 END) AS BIGINT)
                     AS x1,
                 CAST(SUM(CASE WHEN cohort = 1 THEN y ELSE 0 END) AS BIGINT)
                     AS y1,
                 CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n0,
                 CAST(SUM(CASE WHEN cohort = 0 THEN x ELSE 0 END) AS BIGINT)
                     AS x0,
                 CAST(SUM(CASE WHEN cohort = 0 THEN y ELSE 0 END) AS BIGINT)
                     AS y0
          FROM u
        )
        SELECT n1 AS n_treat, n0 AS n_control,
               CAST(x1 AS DOUBLE) / n1 AS treat_pre,
               CAST(y1 AS DOUBLE) / n1 AS treat_post,
               CAST(x0 AS DOUBLE) / n0 AS control_pre,
               CAST(y0 AS DOUBLE) / n0 AS control_post,
               (CAST(y1 AS DOUBLE) / n1 - CAST(x1 AS DOUBLE) / n1)
                 - (CAST(y0 AS DOUBLE) / n0 - CAST(x0 AS DOUBLE) / n0)
                   AS did
        FROM g
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pre = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    u = events.groupBy("user_id").agg(
        F.sum(F.when(pre, F.expr(_VC)).otherwise(0)).cast("bigint").alias("x"),
        F.sum(F.when(~pre, F.expr(_VC)).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    u = u.withColumn("cohort", F.col("user_id") % 2)
    t = F.col("cohort") == 1
    g = u.agg(
        F.sum(F.when(t, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(t, F.col("x")).otherwise(0)).cast("bigint").alias("x1"),
        F.sum(F.when(t, F.col("y")).otherwise(0)).cast("bigint").alias("y1"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(~t, F.col("x")).otherwise(0)).cast("bigint").alias("x0"),
        F.sum(F.when(~t, F.col("y")).otherwise(0)).cast("bigint").alias("y0"),
    )
    return g.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_control"),
        F.expr("CAST(x1 AS DOUBLE) / n1").alias("treat_pre"),
        F.expr("CAST(y1 AS DOUBLE) / n1").alias("treat_post"),
        F.expr("CAST(x0 AS DOUBLE) / n0").alias("control_pre"),
        F.expr("CAST(y0 AS DOUBLE) / n0").alias("control_post"),
        F.expr(
            "(CAST(y1 AS DOUBLE) / n1 - CAST(x1 AS DOUBLE) / n1)"
            " - (CAST(y0 AS DOUBLE) / n0 - CAST(x0 AS DOUBLE) / n0)"
        ).alias("did"),
    )


# ---------------------------------------------------------------------------
# q_bootstrap_ci

_B = 100  # replicates
# Exact Poisson(1) CDF thresholds on the md5_int32 [0, 2^32) scale,
# computed once and embedded as the SAME integer literals in both
# engines' expressions (the shared-literal house rule). P(w >= 5) mass
# lands on w = 5 — a truncation that biases nothing measurable
# (3.7e-4 of draws) and is applied identically on both engines.
_POIS_T = [
    int(sum(math.exp(-1.0) / math.factorial(j) for j in range(k + 1)) * 2**32)
    for k in range(5)
]
_W_CASE = (
    f"CASE WHEN u < {_POIS_T[0]} THEN 0 WHEN u < {_POIS_T[1]} THEN 1 "
    f"WHEN u < {_POIS_T[2]} THEN 2 WHEN u < {_POIS_T[3]} THEN 3 "
    f"WHEN u < {_POIS_T[4]} THEN 4 ELSE 5 END"
)
# ceil(B * 0.025) and ceil(B * 0.975) as pure integer arithmetic.
_LO_RN = (_B * 25 + 999) // 1000
_HI_RN = (_B * 975 + 999) // 1000


@register(
    "q_bootstrap_ci",
    category="statistics",
    cost=1,
    doc=(
        "Poisson-bootstrap 95% CI of mean order value per priority: "
        "md5-hash Poisson(1) replication weights (RNG-free, shared "
        "integer CDF thresholds), all 100 replicates in ONE scan via "
        "row x replicate explode + map-side combine, replicate means "
        "as exact-BIGINT divisions, CI bounds by rank math over the "
        "(mean, b) total order."
    ),
    oracle=f"""
        WITH reps AS (
          SELECT o_orderpriority AS pri, b,
                 CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                        || '#' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS u,
                 {_OC} AS c
          FROM orders,
               (SELECT unnest(generate_series(1, {_B})) AS b) bs
        ),
        means AS (
          SELECT pri, b,
                 CAST(SUM(w * c) AS BIGINT) AS swc,
                 CAST(SUM(w) AS BIGINT) AS sw
          FROM (SELECT pri, b, c, {_W_CASE} AS w FROM reps)
          GROUP BY pri, b
        ),
        ranked AS (
          SELECT pri, CAST(swc AS DOUBLE) / sw AS m,
                 CAST(ROW_NUMBER() OVER (PARTITION BY pri
                      ORDER BY CAST(swc AS DOUBLE) / sw, b) AS BIGINT) AS rn
          FROM means
        ),
        ci AS (
          SELECT pri, MAX(CASE WHEN rn = {_LO_RN} THEN m END) AS boot_lo,
                 MAX(CASE WHEN rn = {_HI_RN} THEN m END) AS boot_hi
          FROM ranked GROUP BY pri
        ),
        pt AS (
          SELECT o_orderpriority AS pri,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM({_OC}) AS BIGINT) AS s
          FROM orders GROUP BY o_orderpriority
        )
        SELECT ci.pri AS o_orderpriority,
               CAST(s AS DOUBLE) / n AS point_mean,
               boot_lo, boot_hi
        FROM ci JOIN pt ON ci.pri = pt.pri
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.prep import md5_int32

    orders = load_table(spark, sf_dir, "orders")
    # orders reads as one split here, so without the round-robin spread
    # one task would explode and hash all _B replicates while the other
    # cores idle. The sums are integer: partitioning cannot move them.
    reps = orders.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("o_orderpriority").alias("pri"),
        F.explode(F.sequence(F.lit(1), F.lit(_B))).alias("b"),
        F.expr(_OC).alias("c"),
        "o_orderkey",
    ).select(
        "pri",
        "b",
        "c",
        md5_int32(
            F.concat_ws(
                "#", F.col("o_orderkey").cast("string"),
                F.col("b").cast("string"),
            )
        ).alias("u"),
    )
    means = (
        reps.withColumn("w", F.expr(_W_CASE))
        .groupBy("pri", "b")
        .agg(
            F.sum(F.col("w") * F.col("c")).cast("bigint").alias("swc"),
            F.sum("w").cast("bigint").alias("sw"),
        )
    )
    m = F.expr("CAST(swc AS DOUBLE) / sw")
    ranked = means.select(
        "pri",
        m.alias("m"),
        F.row_number()
        .over(Window.partitionBy("pri").orderBy(m, "b"))
        .cast("bigint")
        .alias("rn"),
    )
    ci = ranked.groupBy("pri").agg(
        F.max(F.when(F.col("rn") == _LO_RN, F.col("m"))).alias("boot_lo"),
        F.max(F.when(F.col("rn") == _HI_RN, F.col("m"))).alias("boot_hi"),
    )
    pt = orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr(_OC)).cast("bigint").alias("s"),
    )
    return ci.join(pt, "pri").select(
        F.col("pri").alias("o_orderpriority"),
        F.expr("CAST(s AS DOUBLE) / n").alias("point_mean"),
        "boot_lo",
        "boot_hi",
    )


# ---------------------------------------------------------------------------
# q_percentile_cont

_PCTS = [25, 50, 75]


def _cont_sql(p: int, div: str) -> str:
    """Shared rank math for one percentile; ``div`` is the engine's
    integer-division operator (Spark DIV, DuckDB //) — operands are
    non-negative BIGINTs, so both produce identical floors."""
    # ``n`` is constant within a group: inside the MAX(CASE ...) it is
    # read per-row, but the outer interpolation weights must reference
    # it through an aggregate (MAX(n)) to satisfy both analyzers.
    return (
        f"CAST(MAX(CASE WHEN rn = ((n - 1) * {p}) {div} 100 + 1 THEN c END)"
        f" * (100 - (MAX(n) - 1) * {p} % 100)"
        f" + MAX(CASE WHEN rn = LEAST(((n - 1) * {p}) {div} 100 + 2, n)"
        f" THEN c END) * ((MAX(n) - 1) * {p} % 100) AS DOUBLE) / 10000"
    )


def _cont_select(div: str) -> str:
    return ",\n               ".join(
        f"{_cont_sql(p, div)} AS p{p}" for p in _PCTS
    )


@register(
    "q_percentile_cont",
    category="statistics",
    cost=1,
    doc=(
        "Interpolated continuous p25/p50/p75 of order value per "
        "priority (PERCENTILE_CONT semantics): pos = (n-1)*p/100 "
        "split into BIGINT index + remainder, value = (c_lo*(100-rem) "
        "+ c_hi*rem)/10000 — one terminal division per percentile, "
        "completing the quantile matrix beside disc/median/approx."
    ),
    oracle=f"""
        WITH v AS (
          SELECT o_orderpriority AS pri, {_OC} AS c,
                 CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                      ORDER BY {_OC}, o_orderkey) AS BIGINT) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY o_orderpriority)
                      AS BIGINT) AS n
          FROM orders
        )
        SELECT pri AS o_orderpriority,
               {_cont_select("//")}
        FROM v GROUP BY pri
    """,
)
def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.expr(_OC), "o_orderkey"
    )
    wp = Window.partitionBy("o_orderpriority")
    v = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.expr(_OC).alias("c"),
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(wp).cast("bigint").alias("n"),
    )
    return v.groupBy("pri").agg(
        *[F.expr(_cont_sql(p, "DIV")).alias(f"p{p}") for p in _PCTS]
    ).select(
        F.col("pri").alias("o_orderpriority"),
        *[f"p{p}" for p in _PCTS],
    )


# ---------------------------------------------------------------------------
# q_incremental_agg_merge


@register(
    "q_incremental_agg_merge",
    category="lakehouse",
    cost=1,
    doc=(
        "Lambda-architecture partial-aggregate merge, proven lossless: "
        "daily (day, type) partials (n/sum/min/max cents) merged into "
        "monthly finals without touching facts again; the oracle "
        "aggregates the facts directly, so hash equality IS the "
        "mergeability proof. Nightly-rollup shape: partials are "
        "O(days x types) regardless of fact size."
    ),
    oracle=f"""
        SELECT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM({_VC}) AS BIGINT) AS total_cents,
               CAST(MIN({_VC}) AS BIGINT) AS min_cents,
               CAST(MAX({_VC}) AS BIGINT) AS max_cents,
               CAST(CAST(SUM({_VC}) AS BIGINT) AS DOUBLE) / COUNT(*)
                   AS avg_value_cents
        FROM events GROUP BY 1, 2
    """,
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    partials = events.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.count("*").cast("bigint").alias("pn"),
        F.sum(F.expr(_VC)).cast("bigint").alias("psum"),
        F.min(F.expr(_VC)).cast("bigint").alias("pmin"),
        F.max(F.expr(_VC)).cast("bigint").alias("pmax"),
    )
    # Merge step: ONLY the partials are touched (the incremental path
    # a nightly job runs over yesterday's partials + the running
    # month-to-date row).
    return partials.groupBy(
        F.trunc("day", "month").alias("month"), "event_type"
    ).agg(
        F.sum("pn").cast("bigint").alias("n_events"),
        F.sum("psum").cast("bigint").alias("total_cents"),
        F.min("pmin").cast("bigint").alias("min_cents"),
        F.max("pmax").cast("bigint").alias("max_cents"),
        F.expr(
            "CAST(CAST(SUM(psum) AS BIGINT) AS DOUBLE) / SUM(pn)"
        ).alias("avg_value_cents"),
    )


# ---------------------------------------------------------------------------
# q_markov_stationary


def markov_stationary(
    events: DataFrame, iters: int = 200
) -> DataFrame:
    """Stationary distribution of the per-user event-type transition
    chain. The k x k transition-count matrix (k = distinct event
    types, a bounded catalog dimension — NOT a data-scale dimension)
    is the only thing collected driver-side; the fact-scale work is
    one lag window + one map-side-combined rollup. Power iteration
    runs in numpy on the k-vector (the capped-fit house pattern).
    Rows with no outgoing transition mass are excluded from the chain
    (every observed from-type has at least one transition by
    construction of lag)."""
    import numpy as np

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            F.col("event_type").alias("to_t"),
            F.lag("event_type").over(w).alias("from_t"),
        )
        .filter(F.col("from_t").isNotNull())
        .groupBy("from_t", "to_t")
        .agg(F.count("*").alias("n"))
    )
    rows = trans.collect()  # bounded: k^2 cells, k = event-type catalog
    types = sorted({r.from_t for r in rows} | {r.to_t for r in rows})
    idx = {t: i for i, t in enumerate(types)}
    k = len(types)
    counts = np.zeros((k, k), dtype=np.float64)
    for r in rows:
        counts[idx[r.from_t], idx[r.to_t]] = r.n
    row_sums = counts.sum(axis=1, keepdims=True)
    # A type never observed as a source keeps the chain stochastic via
    # a uniform row (standard dangling-state fix, as in pagerank).
    P = np.where(row_sums > 0, counts / np.where(row_sums, row_sums, 1),
                 1.0 / k)
    pi = np.full(k, 1.0 / k)
    for _ in range(iters):
        nxt = pi @ P
        if np.allclose(nxt, pi, rtol=0, atol=1e-15):
            pi = nxt
            break
        pi = nxt
    spark = events.sparkSession
    return local_frame(
        spark,
        [(t, float(pi[idx[t]])) for t in types],
        "event_type string, stationary_prob double",
    )


@register(
    "q_markov_stationary",
    category="temporal",
    cost=1,
    doc=(
        "Stationary distribution of the user event-type Markov chain: "
        "transition counts from one per-user lag window (map-side "
        "combined k x k rollup, k = event-type catalog size), bounded "
        "matrix collected driver-side and power-iterated in numpy. "
        "Iterative eigenvector => rows-only + fixpoint property test."
    ),
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markov_stationary(load_table(spark, sf_dir, "events"))
