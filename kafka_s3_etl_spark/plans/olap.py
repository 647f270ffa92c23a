"""Round-5 batch 5: deep TPC-H snowflake shapes and chained streaming
window aggregation.

These extend the warehouse surface past the reference's two pipelines
(beyond-reference tier, same policy as plans/analytics.py): classic
OLAP benchmark shapes a reference user migrating real warehouse
workloads would expect, plus the Spark-4 multiple-stateful-operators
feature (chained event-time window aggregations in ONE streaming
query — pre-4.x this required two jobs with an intermediate sink).

Catalog (SURVEY.md 2j):

* q_tpch_market_share — TPC-H Q8 shape (national market share): the
  deepest snowflake join in the benchmark, with nation playing TWO
  roles (customer-side region filter, supplier-side share dimension).
  Every dimension (region, nation x2, filtered part, supplier) is a
  broadcast; the only shuffles are lineitem->orders on the order key
  and the final one-row-per-year aggregation. Share = exact-integer
  cents divided ONCE per group, so the double division is
  bit-identical on both engines.
* q_tpch_big_orders — TPC-H Q18 shape (large-volume customers): a
  HAVING-on-aggregate semi-filter. sum(l_quantity) per order is
  map-side-combined BEFORE any join, so at 100 TB the big->big
  lineitem x orders join degrades to (filtered orders) x orders:
  the aggregate filter passes ~1/5 of orders here and a few ppm at
  TPC-H selectivities. Quantities are integral -> BIGINT-exact sums.
* s_chained_windows — 5-minute event-time window counts re-windowed
  into 15-minute buckets INSIDE the same streaming query
  (groupBy(window(window_time(w), ...)), Spark 4 multi-stateful).
  Append mode: the inner windows finalize at the watermark and feed
  the outer agg in the same trigger; emitted rows are exactly the
  15-minute windows whose end <= final watermark (max ts - 10 min),
  which is what the oracle computes. n_subwindows counts the distinct
  5-minute windows merged into each bucket, pinning that the rollup
  really consumed finalized inner windows (3 per full bucket).
* q_embed_pca — PCA dimensionality reduction of the embedding corpus
  (operators/similarity.py::pca_project): the reduce stage a training
  pipeline runs before ANN indexing/clustering. Rows-only entry; numpy
  parity / orthonormality / variance ordering in tests/test_llm_ops.py.
* q_frequent_pairs — market-basket pair mining, apriori-pruned: pair
  support can never exceed item support, so dropping infrequent items
  first (broadcast semi-join) is lossless; pairs are generated INSIDE
  per-order baskets (bounded by order size), never by self-joining the
  fact table — the plan test pins zero sort-merge joins.
* q_attribution — per-purchase first-touch (running struct-min) and
  last-touch (lag + 7-day lookback mask) attribution from ONE per-user
  window sort; (ts, event_id) makes the order total so struct min and
  lag are engine-deterministic under timestamp ties.
* q_user_growth — cumulative adoption curve: first-seen day per user,
  daily new-user counts, running total over one row per day (the
  global window sorts the calendar, not the corpus).
* q_rolling_actives — rolling 7-day active users (WAU curve): each
  distinct (day, user) observation explodes into the <=7 report days
  it supports — linear in window length, never a day-range self-join.

Exactness notes: same integer-unit conventions as plans/analytics.py
(cents x integer-percent products summed as BIGINT, divided once);
DuckDB SUM(BIGINT) widens to HUGEINT so every oracle sum is CAST
before exposure; year() is BIGINT in DuckDB, INT in Spark -> CAST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table

# Q8 parameters: share of TARGET_NATION within MKT_REGION for ECONOMY
# parts. NATION_2 sits in ASIA (testdata nation->region layout).
_MKT_REGION = "ASIA"
_TARGET_NATION = "NATION_2"
_MKT_PTYPE = "ECONOMY"

_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
_DPC = "CAST(ROUND(l_discount * 100) AS BIGINT)"


@register(
    "q_tpch_market_share",
    category="relational",
    cost=1,
    doc=(
        "TPC-H Q8 shape (market share): nation in two dimension roles; "
        "all five dims broadcast, lineitem shuffles once (order key); "
        "share = exact cents ratio, divided once per year."
    ),
    oracle=f"""
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(SUM(CASE WHEN sn.n_name = '{_TARGET_NATION}'
                             THEN {_CENTS} * (100 - {_DPC}) ELSE 0 END)
                    AS DOUBLE)
                 / CAST(SUM({_CENTS} * (100 - {_DPC})) AS DOUBLE)
                   AS mkt_share,
               CAST(SUM({_CENTS} * (100 - {_DPC})) AS DOUBLE) / 1e4
                   AS revenue_total
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE p.p_type = '{_MKT_PTYPE}' AND r.r_name = '{_MKT_REGION}'
        GROUP BY 1
    """,
)
def q_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # Customer-side nation role: which nations sit in the market region.
    region_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == _MKT_REGION)),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(region_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("c_custkey")
    )
    ords = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    # Supplier-side nation role: the share dimension.
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part_keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == _MKT_PTYPE)
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part_keys), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .select(
            "l_orderkey",
            "l_suppkey",
            F.expr(f"{_CENTS} * (100 - {_DPC})").alias("disc_cents"),
        )
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("o_year")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN supp_nation = '{_TARGET_NATION}'"
                " THEN disc_cents ELSE 0 END) AS DOUBLE)"
                " / CAST(SUM(disc_cents) AS DOUBLE)"
            ).alias("mkt_share"),
            F.expr("CAST(SUM(disc_cents) AS DOUBLE) / 1e4").alias(
                "revenue_total"
            ),
        )
    )


@register(
    "q_tpch_big_orders",
    category="relational",
    cost=1,
    doc=(
        "TPC-H Q18 shape (large-volume customers): HAVING-filtered "
        "per-order quantity rollup (map-side combined, pre-join) "
        "semi-filters orders before the customer join; integral "
        "quantities keep the sums BIGINT-exact."
    ),
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, big.sum_qty
        FROM (
          SELECT l_orderkey,
                 CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                     AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 150
        ) big
        JOIN orders o ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_tpch_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.expr("CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)").alias(
                "sum_qty"
            )
        )
        .filter(F.col("sum_qty") > 150)
    )
    ords = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(ords, big.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


@register(
    "s_chained_windows",
    category="streaming",
    cost=3,
    doc=(
        "Chained event-time window aggs in ONE streaming query "
        "(Spark 4 multi-stateful): 5-min counts re-windowed via "
        "window_time into 15-min buckets; append mode emits exactly "
        "the buckets closed by the final watermark (max ts - 10 min). "
        "n_subwindows pins that finalized inner windows fed the rollup."
    ),
    oracle="""
        WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
        SELECT ws, we, event_type, n, n_subwindows FROM (
          SELECT make_timestamp(CAST(floor(epoch(ts)/900)*900*1000000 AS BIGINT)) AS ws,
                 make_timestamp(CAST((floor(epoch(ts)/900)+1)*900*1000000 AS BIGINT)) AS we,
                 event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT floor(epoch(ts)/300)) AS BIGINT)
                     AS n_subwindows
          FROM events GROUP BY 1, 2, 3
        ), wm WHERE we <= wm.w
    """,
)
def s_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.jobs import chained_window_counts
    from kafka_s3_etl_spark.streaming.runner import run_stream, stream_table

    agg = chained_window_counts(stream_table(spark, sf_dir, "events"))
    return run_stream(agg)


@register(
    "q_embed_pca",
    category="similarity",
    cost=2,
    oracle=None,  # SVD basis is not SQL-expressible; numpy-parity tested
    doc=(
        "PCA dimensionality reduction of the embedding corpus (the "
        "pre-ANN/clustering reduce stage): driver-fit SVD on a capped "
        "deterministic sample, sign-fixed components broadcast as one "
        "row, map-only JVM projection. Rows-only: numpy projection "
        "parity, component orthonormality, and explained-variance "
        "ordering pinned in tests/test_llm_ops.py."
    ),
)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.similarity import pca_project

    return pca_project(load_table(spark, sf_dir, "embeddings"), k=4)


@register(
    "q_frequent_pairs",
    category="mining",
    cost=1,
    doc=(
        "Market-basket pair mining (apriori-pruned co-occurrence): "
        "distinct (order, part) -> infrequent parts pruned by the "
        "apriori property (pair support <= item support, so the filter "
        "cannot change the answer) -> ONE basket agg per order -> "
        "in-array pair generation (baskets are bounded by order size, "
        "never a self-join of the fact table) -> pair count."
    ),
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        freq AS (
          SELECT l_partkey FROM items GROUP BY l_partkey HAVING count(*) >= 2
        ),
        f_items AS (
          SELECT i.l_orderkey, i.l_partkey FROM items i
          JOIN freq USING (l_partkey)
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM f_items a
        JOIN f_items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    min_support = 2
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_support)
        .select("l_partkey")
    )
    # The part dimension is broadcast-size at any corpus scale (pair
    # mining over an unbounded item space needs the count-min variant);
    # at 100 TB this stays a broadcast semi-join keyed on the item.
    baskets = (
        items.join(F.broadcast(freq), "l_partkey", "left_semi")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("basket"))
    )
    # Pairs are generated INSIDE each basket (<= C(items-per-order, 2)
    # of them), so pair-explosion is bounded by basket size, not by the
    # part catalog; the quadratic term never touches a shuffle until
    # it is already (pair, 1) rows feeding a map-side-combined count.
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(basket, (x, i) ->"
                " transform(slice(basket, i + 2, size(basket)),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .filter(F.col("n_orders") >= min_support)
    )


@register(
    "q_attribution",
    category="temporal",
    cost=1,
    doc=(
        "Marketing attribution per purchase: first-touch (earliest "
        "prior event, running struct-min) and last-touch (lag, masked "
        "to NULL past a 7-day lookback) from ONE per-user window sort. "
        "The (ts, event_id) composite order is total, so struct min / "
        "lag pick identical rows on both engines even under ts ties."
    ),
    oracle="""
        WITH seq AS (
          SELECT event_id, user_id, ts, event_type,
                 min({'ts': ts, 'eid': event_id, 'etype': event_type})
                     OVER w AS first_s,
                 lag({'ts': ts, 'eid': event_id, 'etype': event_type})
                     OVER w AS prev_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, ts,
               first_s.ts AS first_ts, first_s.etype AS first_type,
               CASE WHEN prev_s.ts >= ts - INTERVAL 7 DAY
                    THEN prev_s.ts END AS last_ts,
               CASE WHEN prev_s.ts >= ts - INTERVAL 7 DAY
                    THEN prev_s.etype END AS last_type
        FROM seq WHERE event_type = 'purchase'
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    touch = F.struct(
        F.col("ts"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("etype"),
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_hist = w_seq.rowsBetween(Window.unboundedPreceding, -1)
    in_window = F.col("prev_s.ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return (
        events.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.min(touch).over(w_hist).alias("first_s"),
            F.lag(touch).over(w_seq).alias("prev_s"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("first_s.ts").alias("first_ts"),
            F.col("first_s.etype").alias("first_type"),
            F.when(in_window, F.col("prev_s.ts")).alias("last_ts"),
            F.when(in_window, F.col("prev_s.etype")).alias("last_type"),
        )
    )


@register(
    "q_user_growth",
    category="temporal",
    cost=0,
    doc=(
        "Cumulative adoption curve: first-seen day per user (map-side "
        "combined min), daily new-user counts, running total. The "
        "cumulative window runs over one row PER DAY (the rollup's own "
        "output size class), so its single-partition sort is bounded "
        "by the calendar, not the corpus, at any scale."
    ),
    oracle="""
        WITH firsts AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS first_day
          FROM events GROUP BY user_id
        ),
        daily AS (
          SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
          FROM firsts GROUP BY first_day
        )
        SELECT day, new_users,
               CAST(SUM(new_users) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_users
        FROM daily
    """,
)
def q_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@register(
    "q_rolling_actives",
    category="temporal",
    cost=1,
    doc=(
        "Rolling 7-day active users per day (WAU curve): distinct "
        "(day, user) once, then each observation is EXPLODED into the "
        "<=7 report days it supports and counted distinct per day — "
        "the linear explode-by-window-length shape, never a day-range "
        "self-join (whose candidate set is quadratic in the calendar). "
        "Report days are clamped to observed days so both engines "
        "agree on the curve's domain."
    ),
    oracle="""
        WITH du AS (
          SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        days AS (SELECT DISTINCT day FROM du)
        SELECT d.day, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS active_7d
        FROM days d
        JOIN du ON du.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    """,
)
def q_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    du = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    days = du.select("day").distinct()
    supported = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("day"),
        "user_id",
    )
    return (
        supported.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_7d"))
    )
