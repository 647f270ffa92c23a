"""Warehouse audit + segmentation depth (round 8, batch 13):

* q_fk_orphans — referential-integrity audit of the WHOLE star
  schema's FK graph in one result: for each of the 7 FK edges
  (lineitem->orders/part/supplier, orders->customer,
  customer/supplier->nation, nation->region) the child row count,
  distinct child keys, orphan keys and orphan rows. Each edge is a
  map-side-combined key rollup LEFT-joined to the parent's distinct
  key set (dimension parents broadcast; the one fact-sized parent,
  orders, shuffles on its primary key) — the child fact is never
  joined row-by-row, so a 100 TB lineitem audits at the cost of one
  key rollup per edge. The DQ check every warehouse runs before
  trusting a join.
* q_corr_matrix — pairwise Pearson correlation matrix of the four
  lineitem measures (quantity, extended price, discount, tax): ONE
  scan accumulates all 4 first-order BIGINT sums + 10 second-order
  DECIMAL(38,0) product sums, then the 6 off-diagonal correlations
  come from a SHARED libm-free(+sqrt) double expression — IEEE 754
  sqrt is correctly rounded, so both engines produce bit-identical
  doubles (q_stats_moments precedent). Unpivoted to (m1, m2, corr)
  rows via stack().
* q_changepoint — CUSUM-argmax mean-shift changepoint per event
  type: daily-count series, S_k cleared of divisions
  (num_k = n*prefix_k - k*total, exact BIGINT — the q_cusum
  discipline), the split day maximizing |num_k| picked by the
  min(struct(-abs, k, ...)) house arg-min (total order: ties to the
  earliest day), pre/post means one division each of exact integers.
* q_rfm_scores — RFM customer segmentation: per-customer recency /
  frequency / monetary from one orders rollup, quartile scores via
  NTILE(4) within market segment over (metric, custkey) total orders
  (tie-stable, and the global-sort shape is avoided: windows
  partition by segment), then the (segment, r, f, m) cell rollup
  with exact-cents average monetary. The window runs over the
  CUSTOMER rollup, never the order fact.
* q_kfold_assign — deterministic 5-fold cross-validation assignment:
  fold = md5_int32(orderkey) % 5 (the house cross-engine hash — no
  RNG, stable under repartitioning/incremental ingestion), with
  per-(fold, priority) counts and within-fold share proving the
  stratification balance. The fold spine every offline-eval
  pipeline needs.
* q_label_propagation — community detection on the edit-distance-1
  customer-name graph via DETERMINISTIC synchronous label
  propagation (operators/graph.py::label_propagation: most-frequent
  neighbor+self label, min-label tie-break — a pure function of the
  graph, unlike the classic random-order formulation). Iterative to
  fixpoint => rows-only + the sequential-reference property test
  (tests/test_mining_ops.py), same adjudication as connected
  components / PageRank / k-core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table

# (fk label, child table, child key, parent table, parent key,
#  parent is a broadcastable dimension)
_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey", False),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey", True),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey", True),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey", True),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey", True),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey", True),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey", True),
]


def _edge_sql(fk: str, child: str, ckey: str, parent: str, pkey: str) -> str:
    return f"""
        SELECT '{fk}' AS fk,
               CAST(SUM(n) AS BIGINT) AS child_rows,
               CAST(COUNT(*) AS BIGINT) AS child_keys,
               CAST(SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS orphan_keys,
               CAST(COALESCE(SUM(CASE WHEN hit IS NULL THEN n END), 0)
                    AS BIGINT) AS orphan_rows
        FROM (SELECT {ckey} AS k, COUNT(*) AS n FROM {child}
              WHERE {ckey} IS NOT NULL GROUP BY {ckey}) c
        LEFT JOIN (SELECT DISTINCT {pkey} AS k, 1 AS hit FROM {parent}) p
        USING (k)"""


@register(
    "q_fk_orphans",
    category="quality",
    cost=1,
    doc=(
        "Referential-integrity audit of all 7 star-schema FK edges: "
        "per-edge child rows/keys and orphan keys/rows. Child keys "
        "roll up map-side before any join; dimension parents "
        "broadcast, the fact-sized parent shuffles on its PK."
    ),
    oracle="\n        UNION ALL\n".join(
        _edge_sql(fk, c, ck, p, pk) for fk, c, ck, p, pk, _ in _FK_EDGES
    ),
)
def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    out: DataFrame | None = None
    for fk, child, ckey, parent, pkey, bcast in _FK_EDGES:
        kids = (
            load_table(spark, sf_dir, child)
            .filter(F.col(ckey).isNotNull())
            .groupBy(F.col(ckey).alias("k"))
            .agg(F.count("*").alias("n"))
        )
        par = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        if bcast:
            par = F.broadcast(par)
        edge = (
            kids.join(par, "k", "left")
            .agg(
                F.sum("n").cast("bigint").alias("child_rows"),
                F.count("*").cast("bigint").alias("child_keys"),
                F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("orphan_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("hit").isNull(), F.col("n"))), F.lit(0)
                )
                .cast("bigint")
                .alias("orphan_rows"),
            )
            .select(
                F.lit(fk).alias("fk"),
                "child_rows",
                "child_keys",
                "orphan_keys",
                "orphan_rows",
            )
        )
        out = edge if out is None else out.unionByName(edge)
    assert out is not None
    return out


# ---------------------------------------------------------------------------
# q_corr_matrix

_MEASURES = {
    "q": "CAST(ROUND(l_quantity) AS BIGINT)",
    "e": "CAST(ROUND(l_extendedprice * 100) AS BIGINT)",
    "d": "CAST(ROUND(l_discount * 100) AS BIGINT)",
    "t": "CAST(ROUND(l_tax * 100) AS BIGINT)",
}
_MEASURE_NAMES = {
    "q": "quantity",
    "e": "extendedprice",
    "d": "discount",
    "t": "tax",
}
_PAIRS = [("q", "e"), ("q", "d"), ("q", "t"), ("e", "d"), ("e", "t"), ("d", "t")]
# Second-order sums: the 4 squares + the 6 cross products, aliased in
# exactly the order _corr_expr references them (s_qe, not s_eq).
_SECOND = [(m, m) for m in _MEASURES] + _PAIRS


def _c2d(s: str) -> str:
    """Exact integer -> double VIA A STRING, in both engines: DuckDB's
    direct DECIMAL/HUGEINT -> DOUBLE cast is NOT correctly rounded
    above 2^53 (measured at sf0.1: s_ee = 2.224e19 cast one ulp low,
    9/2000 random 60-126-bit ints mismatch), while string -> double is
    strtod-correct everywhere. Spark's decimal cast was already
    correct; routing BOTH sides through the string keeps the readout
    bit-identical by construction at any scale factor."""
    return f"CAST(CAST({s} AS STRING) AS DOUBLE)"


def _corr_expr(a: str, b: str) -> str:
    """The SHARED correlation readout: exact aggregates cast to double
    once (via _c2d — see its DuckDB caveat), combined with IEEE + - * /
    and correctly-rounded sqrt only — bit-identical on both engines
    (q_stats_moments precedent)."""
    return (
        f"({_c2d('n')} * {_c2d(f's_{a}{b}')}"
        f" - {_c2d(f's_{a}')} * {_c2d(f's_{b}')})"
        f" / (sqrt({_c2d('n')} * {_c2d(f's_{a}{a}')}"
        f" - {_c2d(f's_{a}')} * {_c2d(f's_{a}')})"
        f" * sqrt({_c2d('n')} * {_c2d(f's_{b}{b}')}"
        f" - {_c2d(f's_{b}')} * {_c2d(f's_{b}')}))"
    )


def _corr_agg_sql() -> str:
    firsts = ",\n                 ".join(
        f"CAST(SUM({_MEASURES[m]}) AS BIGINT) AS s_{m}" for m in _MEASURES
    )
    seconds = ",\n                 ".join(
        f"SUM(CAST({_MEASURES[a]} AS DECIMAL(19,0))"
        f" * CAST({_MEASURES[b]} AS DECIMAL(19,0))) AS s_{a}{b}"
        for a, b in _SECOND
    )
    return (
        "        WITH g AS (\n"
        "          SELECT CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"                 {firsts},\n"
        f"                 {seconds}\n"
        "          FROM lineitem\n"
        "        )\n"
    )


@register(
    "q_corr_matrix",
    category="statistics",
    cost=1,
    doc=(
        "Pairwise Pearson correlation matrix of the 4 lineitem "
        "measures: one scan accumulates 4 BIGINT first-order + 10 "
        "DECIMAL(38,0) second-order sums, 6 correlations from one "
        "shared IEEE double expression (sqrt is correctly rounded), "
        "unpivoted via stack()."
    ),
    oracle=_corr_agg_sql()
    + "        "
    + "\n        UNION ALL\n        ".join(
        f"SELECT '{_MEASURE_NAMES[a]}' AS m1, '{_MEASURE_NAMES[b]}' AS m2,"
        f" {_corr_expr(a, b)} AS corr FROM g"
        for a, b in _PAIRS
    ),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.expr("CAST(COUNT(*) AS BIGINT)").alias("n")]
    aggs += [
        F.expr(f"CAST(SUM({_MEASURES[m]}) AS BIGINT)").alias(f"s_{m}")
        for m in _MEASURES
    ]
    aggs += [
        F.expr(
            f"SUM(CAST({_MEASURES[a]} AS DECIMAL(19,0))"
            f" * CAST({_MEASURES[b]} AS DECIMAL(19,0)))"
        ).alias(f"s_{a}{b}")
        for a, b in _SECOND
    ]
    g = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{_MEASURE_NAMES[a]}', '{_MEASURE_NAMES[b]}', {_corr_expr(a, b)}"
        for a, b in _PAIRS
    )
    return g.select(
        F.expr(f"stack({len(_PAIRS)}, {stack_args}) AS (m1, m2, corr)")
    )


# ---------------------------------------------------------------------------
# q_changepoint


@register(
    "q_changepoint",
    category="timeseries",
    cost=1,
    doc=(
        "CUSUM-argmax mean-shift changepoint per event type: daily "
        "counts, num_k = n*prefix_k - k*total exact BIGINT (q_cusum "
        "clearing), argmax |num_k| over interior splits via the "
        "min(struct) house arg-min (ties -> earliest day), pre/post "
        "means one exact-integer division each. Windows run over the "
        "per-day rollup, never the fact."
    ),
    oracle="""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        seq AS (
          SELECT event_type, day, c,
                 CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
                 CAST(SUM(c) OVER w AS BIGINT) AS prefix,
                 CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                     AS n_days,
                 CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT)
                     AS total
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        best AS (
          SELECT event_type,
                 min({'neg': -abs(n_days * prefix - k * total),
                      'k': k, 'day': day, 'prefix': prefix,
                      'n_days': n_days, 'total': total}) AS s
          FROM seq WHERE k < n_days AND n_days >= 2
          GROUP BY event_type
        )
        SELECT event_type, s.day AS cp_day, s.k AS pre_days,
               CAST(s.prefix AS DOUBLE) / s.k AS pre_mean,
               CAST(s.total - s.prefix AS DOUBLE) / (s.n_days - s.k)
                   AS post_mean,
               CAST(s.total - s.prefix AS DOUBLE) / (s.n_days - s.k)
                 - CAST(s.prefix AS DOUBLE) / s.k AS mean_shift
        FROM best
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    wp = Window.partitionBy("event_type")
    seq = daily.select(
        "event_type",
        "day",
        F.row_number().over(w).cast("bigint").alias("k"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("prefix"),
        F.count("*").over(wp).cast("bigint").alias("n_days"),
        F.sum("c").over(wp).cast("bigint").alias("total"),
    )
    best = (
        seq.filter((F.col("k") < F.col("n_days")) & (F.col("n_days") >= 2))
        .groupBy("event_type")
        .agg(
            F.min(
                F.struct(
                    (
                        -F.abs(
                            F.col("n_days") * F.col("prefix")
                            - F.col("k") * F.col("total")
                        )
                    ).alias("neg"),
                    "k",
                    "day",
                    "prefix",
                    "n_days",
                    "total",
                )
            ).alias("s")
        )
    )
    pre_mean = F.expr("CAST(s.prefix AS DOUBLE) / s.k")
    post_mean = F.expr(
        "CAST(s.total - s.prefix AS DOUBLE) / (s.n_days - s.k)"
    )
    return best.select(
        "event_type",
        F.col("s.day").alias("cp_day"),
        F.col("s.k").alias("pre_days"),
        pre_mean.alias("pre_mean"),
        post_mean.alias("post_mean"),
        (post_mean - pre_mean).alias("mean_shift"),
    )


# ---------------------------------------------------------------------------
# q_rfm_scores

_OC = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"


@register(
    "q_rfm_scores",
    category="analytics",
    cost=1,
    doc=(
        "RFM customer segmentation: recency/frequency/monetary from "
        "one orders rollup, NTILE(4) quartile scores within market "
        "segment over (metric, custkey) total orders (tie-stable, no "
        "global single-partition sort), then the (segment, r, f, m) "
        "cell rollup with exact-cents average monetary value."
    ),
    oracle=f"""
        WITH cust AS (
          SELECT o_custkey,
                 MAX(CAST(o_orderdate AS DATE)) AS last_day,
                 CAST(COUNT(*) AS BIGINT) AS freq,
                 CAST(SUM({_OC}) AS BIGINT) AS mon
          FROM orders GROUP BY o_custkey
        ),
        scored AS (
          SELECT c_mktsegment,
                 CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                      ORDER BY last_day, o_custkey) AS BIGINT) AS r_score,
                 CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                      ORDER BY freq, o_custkey) AS BIGINT) AS f_score,
                 CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                      ORDER BY mon, o_custkey) AS BIGINT) AS m_score,
                 mon
          FROM cust JOIN customer ON o_custkey = c_custkey
        )
        SELECT c_mktsegment, r_score, f_score, m_score,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(CAST(SUM(mon) AS BIGINT) AS DOUBLE)
                 / (100.0 * COUNT(*)) AS avg_monetary
        FROM scored
        GROUP BY c_mktsegment, r_score, f_score, m_score
    """,
)
def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
        F.count("*").cast("bigint").alias("freq"),
        F.sum(F.expr(_OC)).cast("bigint").alias("mon"),
    )
    joined = cust.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    seg = Window.partitionBy("c_mktsegment")
    scored = joined.select(
        "c_mktsegment",
        F.ntile(4)
        .over(seg.orderBy("last_day", "o_custkey"))
        .cast("bigint")
        .alias("r_score"),
        F.ntile(4)
        .over(seg.orderBy("freq", "o_custkey"))
        .cast("bigint")
        .alias("f_score"),
        F.ntile(4)
        .over(seg.orderBy("mon", "o_custkey"))
        .cast("bigint")
        .alias("m_score"),
        "mon",
    )
    return scored.groupBy(
        "c_mktsegment", "r_score", "f_score", "m_score"
    ).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.expr(
            "CAST(CAST(SUM(mon) AS BIGINT) AS DOUBLE) / (100.0 * COUNT(*))"
        ).alias("avg_monetary"),
    )


# ---------------------------------------------------------------------------
# q_kfold_assign

_FOLDS = 5


@register(
    "q_kfold_assign",
    category="prep",
    cost=1,
    doc=(
        "Deterministic 5-fold cross-validation assignment: fold = "
        "md5_int32(orderkey) % 5 (house cross-engine hash, no RNG — "
        "stable under repartitioning and incremental ingestion), with "
        "per-(fold, priority) counts, within-fold share, and revenue "
        "cents proving stratification balance."
    ),
    oracle=f"""
        WITH assigned AS (
          SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                      AS BIGINT) % {_FOLDS} AS fold,
                 o_orderpriority,
                 {_OC} AS cents
          FROM orders
        ),
        cells AS (
          SELECT fold, o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(cents) AS BIGINT) AS revenue_cents
          FROM assigned GROUP BY fold, o_orderpriority
        )
        SELECT fold, o_orderpriority, n_orders,
               CAST(n_orders AS DOUBLE)
                 / CAST(SUM(n_orders) OVER (PARTITION BY fold) AS BIGINT)
                   AS fold_share,
               revenue_cents
        FROM cells
    """,
)
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.prep import md5_int32

    orders = load_table(spark, sf_dir, "orders")
    assigned = orders.select(
        F.pmod(
            md5_int32(F.col("o_orderkey").cast("string")), F.lit(_FOLDS)
        ).alias("fold"),
        "o_orderpriority",
        F.expr(_OC).alias("cents"),
    )
    cells = assigned.groupBy("fold", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    w = Window.partitionBy("fold")
    return cells.select(
        "fold",
        "o_orderpriority",
        "n_orders",
        (
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(w).cast("bigint")
        ).alias("fold_share"),
        "revenue_cents",
    )


# ---------------------------------------------------------------------------
# q_label_propagation


@register(
    "q_label_propagation",
    category="graph",
    cost=2,
    doc=(
        "Deterministic synchronous label-propagation communities on "
        "the edit-distance-1 customer-name graph: most-frequent "
        "neighbor+self label, min-label tie-break, rounds to the "
        "fixpoint, raising at the cap (operators/graph.py::"
        "label_propagation on graph.fixpoint). Iterative -> "
        "rows-only + sequential-reference property test. Output: "
        "community size histogram."
    ),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.graph import label_propagation
    from kafka_s3_etl_spark.operators.linkage import fuzzy_pairs_ed1

    edges = fuzzy_pairs_ed1(
        load_table(spark, sf_dir, "customer"), col="c_name"
    ).select("a", "b")
    labels = label_propagation(edges)
    return labels.groupBy("community").agg(
        F.count("*").cast("bigint").alias("n_members")
    )


@register(
    "q_label_propagation_capped",
    category="graph",
    cost=2,
    doc=(
        "Bounded-cost twin of q_label_propagation: nodes whose ed1-"
        "graph degree exceeds 40 are pre-stripped by broadcast anti-"
        "join and the deterministic synchronous LPA runs EXACTLY on "
        "the induced subgraph (operators/graph.py::label_propagation "
        "max_degree — the triangle_counts/jaccard_neighbors knob). "
        "Per-round vote-join output is bounded by m*cap regardless of "
        "skew, so the r8 probe's 8.2x superlinear growth on hub-dense "
        "graphs has a linear-cost fallback. NOTE: at sf0.1 the capped "
        "variant benches SLOWER than uncapped (9.2 s vs 8.7 s, r9) — "
        "the anti-join is pure overhead until hubs dominate; the cap "
        "pays off at scale (0.9x at the 10x probe vs 8.2x uncapped at "
        "30x, SCALE.md). Do not 'fix' the small-SF gap backwards. "
        "Rows-only (iterative) + exactness-on-induced-subgraph "
        "property test (tests/test_mining_ops.py)."
    ),
)
def q_label_propagation_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.graph import label_propagation
    from kafka_s3_etl_spark.operators.linkage import fuzzy_pairs_ed1

    edges = fuzzy_pairs_ed1(
        load_table(spark, sf_dir, "customer"), col="c_name"
    ).select("a", "b")
    labels = label_propagation(edges, max_degree=40)
    return labels.groupBy("community").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
