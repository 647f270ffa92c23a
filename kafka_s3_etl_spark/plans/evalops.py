"""Round-9 batch 23: reshaping surface (unpivot/melt), mergeable
distinct sketches, interval joins, and retrieval-quality evaluation.

Each entry keeps the house discipline: JVM expressions only, exact
integers wherever a value enters the hash, floats only as a single
terminal division of exact operands, windows only over rollups or
properly partitioned frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_s3_etl_spark.operators.prep import md5_int32
from kafka_s3_etl_spark.plans.prep import WINSORIZE_ORACLE
from kafka_s3_etl_spark.operators.temporal import sessionize
from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table


@register(
    "q_melt",
    category="relational",
    cost=0,
    doc=(
        "Wide-to-long reshape via the native DataFrame.unpivot (Spark "
        "3.4+ melt): per-nation customer metrics (count, balance "
        "cents, negative-balance count — all exact BIGINTs) unpivoted "
        "to (nation, metric, value) rows, vs DuckDB's UNPIVOT. "
        "Map-only after one rollup; value columns share one type so "
        "no implicit cast enters the hash."
    ),
    oracle="""
        WITH wide AS (
          SELECT c_nationkey,
                 CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                      AS BIGINT) AS balance_cents,
                 CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_negative
          FROM customer GROUP BY c_nationkey
        )
        SELECT c_nationkey, metric, value
        FROM (UNPIVOT wide ON n_customers, balance_cents, n_negative
              INTO NAME metric VALUE value)
    """,
)
def q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum(F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("balance_cents"),
            F.sum(F.expr("CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_negative"),
        )
    )
    return wide.unpivot(
        ids=["c_nationkey"],
        values=["n_customers", "balance_cents", "n_negative"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_KMV_K = 64


@register(
    "q_kmv_sketch",
    category="sketch",
    cost=0,
    doc=(
        "KMV (k-minimum-values) distinct-count sketch per event type — "
        "the mergeable bottom-k sibling of HLL that, unlike HLL, has "
        "an exact cross-engine replay: hash users with the house "
        "md5_int32 (bit-identical in DuckDB), take the k-th smallest "
        "DISTINCT hash h_k via the PARTITIONED bucketed two-phase "
        "rank (operators/ranks.py — no per-type single-task sort; "
        "merging sketches = re-taking bottom-k of a union), estimate "
        "(k-1) * 2^32 / h_k as ONE division of exact BIGINTs, and "
        "emit the exact distinct-hash count beside it so the error is "
        "auditable in the result itself."
    ),
    oracle=f"""
        WITH h AS (
          SELECT DISTINCT event_type,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                      AS BIGINT) AS hv
          FROM events
        ), r AS (
          SELECT event_type, hv,
                 ROW_NUMBER() OVER (
                     PARTITION BY event_type ORDER BY hv
                 ) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n_exact
          FROM h
        )
        SELECT event_type,
               CAST(MAX(n_exact) AS BIGINT) AS n_exact,
               CAST(MAX(CASE WHEN rn = {_KMV_K} THEN hv END)
                    AS BIGINT) AS h_k,
               CAST(({_KMV_K} - 1) * 4294967296 AS DOUBLE)
                   / MAX(CASE WHEN rn = {_KMV_K} THEN hv END)
                   AS kmv_estimate
        FROM r GROUP BY event_type
    """,
)
def q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.ranks import bucketed_global_row_number

    h = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            md5_int32(F.col("user_id").cast("string")).alias("hv"),
        )
        .distinct()
    )
    # hv is uniform in [0, 2^32): width 2^24 gives 256 histogram cells
    # per type, so the rank windows only ever see bucket slices.
    r = bucketed_global_row_number(
        h,
        "hv",
        "hv",
        shift=0,
        width=1 << 24,
        descending=False,
        partition_by=["event_type"],
        n_col="n_exact",
    )
    return r.groupBy("event_type").agg(
        F.max("n_exact").cast("bigint").alias("n_exact"),
        F.max(F.expr(f"CASE WHEN rn = {_KMV_K} THEN hv END"))
        .cast("bigint")
        .alias("h_k"),
        F.expr(
            f"CAST(({_KMV_K} - 1) * 4294967296 AS DOUBLE)"
            f" / MAX(CASE WHEN rn = {_KMV_K} THEN hv END)"
        ).alias("kmv_estimate"),
    )


_N_IVAL_BUCKETS = 4096


@register(
    "q_interval_join",
    category="temporal",
    cost=1,
    doc=(
        "Interval-overlap JOIN (sessions x sessions of OTHER users "
        "overlapping in time), the band-join shape a naive engine "
        "writes as cross-join + filter: here each session fans out to "
        "the 4096-bucket time grid cells it spans (fan-out = "
        "span/width + 1, bounded because session gaps bound spans), "
        "candidates come from the bucket EQUI join, the exact overlap "
        "predicate filters, and multi-bucket co-occurrence dedups on "
        "the id pair BEFORE the rollup. Output: per session the count "
        "of overlapping foreign sessions. Oracle states the O(n^2) "
        "semantics directly."
    ),
    oracle="""
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                               PARTITION BY user_id ORDER BY ts)
                           <= 600000000
                      THEN 0 ELSE 1 END AS new_session
          FROM events
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (
                     PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM marked
        ),
        sessions AS (
          SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                 MIN(ts) AS s, MAX(ts) AS e
          FROM numbered GROUP BY user_id, session_id
        )
        SELECT a.user_id, a.session_id,
               CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM sessions a JOIN sessions b
          ON a.user_id != b.user_id AND a.s <= b.e AND b.s <= a.e
        GROUP BY a.user_id, a.session_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize(load_table(spark, sf_dir, "events")).select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        F.unix_micros("session_start").alias("s"),
        F.unix_micros("session_end").alias("e"),
    )
    bounds = sess.agg(F.min("s").alias("lo"), F.max("e").alias("hi")).first()
    if bounds is None or bounds.lo is None:
        return sess.select(
            "user_id",
            "session_id",
            F.lit(None).cast("bigint").alias("n_overlap"),
        ).limit(0)
    width = max(1, (bounds.hi - bounds.lo) // _N_IVAL_BUCKETS + 1)
    fanned = sess.select(
        "user_id",
        "session_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"(s - {bounds.lo}) DIV {width}"),
                F.expr(f"(e - {bounds.lo}) DIV {width}"),
            )
        ).alias("cell"),
    )
    a = fanned.select(
        F.col("user_id").alias("u_a"),
        F.col("session_id").alias("s_a"),
        F.col("s").alias("start_a"),
        F.col("e").alias("end_a"),
        "cell",
    )
    b = fanned.select(
        F.col("user_id").alias("u_b"),
        F.col("session_id").alias("s_b"),
        F.col("s").alias("start_b"),
        F.col("e").alias("end_b"),
        "cell",
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), "cell")
        .filter(
            (F.col("u_a") != F.col("u_b"))
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
        )
        .select("u_a", "s_a", "u_b", "s_b")
        .distinct()
    )
    return pairs.groupBy(
        F.col("u_a").alias("user_id"), F.col("s_a").alias("session_id")
    ).agg(F.count("*").cast("bigint").alias("n_overlap"))


def _ann_recall_oracle() -> str:
    from kafka_s3_etl_spark.plans.llm import ann_sign_rows

    return f"""
        WITH signs(table_id, bit, s) AS (VALUES {ann_sign_rows()}),
        base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        b AS MATERIALIZED (
          SELECT vec_id, table_id,
                 CAST(SUM(CASE WHEN list_dot_product(e, s) > 0
                               THEN bit ELSE 0 END) AS BIGINT) AS bucket
          FROM base, signs GROUP BY vec_id, table_id
        ),
        q AS (SELECT vec_id AS qid, e AS qe FROM base WHERE vec_id < 8),
        exact AS MATERIALIZED (
          SELECT query_id, neighbor_id FROM (
            SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY list_cosine_similarity(q.qe, c.e) DESC,
                                c.vec_id
                   ) AS rnk
            FROM base c JOIN q ON c.vec_id != q.qid
          ) WHERE rnk <= 5
        ),
        cand AS (
          SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
          FROM b qb JOIN b cb
            ON cb.table_id = qb.table_id AND cb.bucket = qb.bucket
               AND cb.vec_id != qb.vec_id
          WHERE qb.vec_id < 8
        ),
        lsh AS MATERIALIZED (
          SELECT query_id, neighbor_id, rnk FROM (
            SELECT c.query_id, c.neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.query_id
                       ORDER BY list_cosine_similarity(eq.e, en.e) DESC,
                                c.neighbor_id
                   ) AS rnk
            FROM cand c
            JOIN base eq ON eq.vec_id = c.query_id
            JOIN base en ON en.vec_id = c.neighbor_id
          ) WHERE rnk <= 5
        ),
        hits AS (
          SELECT l.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
                 CAST(MIN(l.rnk) AS BIGINT) AS best_rank
          FROM lsh l JOIN exact x
            ON x.query_id = l.query_id AND x.neighbor_id = l.neighbor_id
          GROUP BY l.query_id
        ),
        queries AS (SELECT DISTINCT query_id FROM exact)
        SELECT qq.query_id,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5 AS recall_at_5,
               CASE WHEN h.best_rank IS NULL THEN 0.0
                    ELSE 1.0 / h.best_rank END AS mrr
        FROM queries qq LEFT JOIN hits h ON h.query_id = qq.query_id
    """


@register(
    "q_ann_recall",
    category="similarity",
    cost=1,
    doc=(
        "Retrieval-quality evaluation of the LSH ANN index against "
        "exact search — the recall@5 / MRR audit every ANN deployment "
        "runs before trusting the index: brute-force exact top-5 is "
        "the truth set, the pinned sign-LSH top-5 (6 planes x 8 "
        "tables, same hyperplane matrix as q_dedup_embedding) is the "
        "candidate ranking, per-query n_hits / recall / MRR are exact "
        "integers plus one terminal division each. The oracle replays "
        "BOTH pipelines in SQL (sign-matrix literals + "
        "list_dot_product bucket replay), so even the approximate "
        "index's output is hash-verified, not just sanity-checked."
    ),
    oracle=_ann_recall_oracle(),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.similarity import (
        ann_lsh_topk,
        brute_force_topk,
    )
    from kafka_s3_etl_spark.plans.llm import (
        _ANN_DEDUP_PLANES,
        _ANN_DEDUP_TABLES,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact5 = brute_force_topk(emb, n_queries=8, k=5).select(
        "query_id", "neighbor_id"
    )
    lsh5 = ann_lsh_topk(
        emb,
        n_queries=8,
        k=5,
        planes=_ANN_DEDUP_PLANES,
        tables=_ANN_DEDUP_TABLES,
    ).select("query_id", "neighbor_id", "rank")
    hits = (
        lsh5.join(exact5, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_hits"),
            F.min("rank").cast("bigint").alias("best_rank"),
        )
    )
    queries = exact5.select("query_id").distinct()
    return queries.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.expr("CAST(COALESCE(n_hits, 0) AS DOUBLE) / 5").alias(
            "recall_at_5"
        ),
        # literals CAST to DOUBLE: a bare 1.0 is DECIMAL in Spark SQL
        # and would type the column DECIMAL(23,22) vs the oracle's
        # DOUBLE
        F.expr(
            "CASE WHEN best_rank IS NULL THEN CAST(0.0 AS DOUBLE)"
            " ELSE CAST(1.0 AS DOUBLE) / best_rank END"
        ).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# Batch 24: feature hygiene (winsorization), tokenizer coverage audit,
# and the cache/persist runtime surface.
# ---------------------------------------------------------------------------


_OOV_VOCAB = 200


@register(
    "q_oov_rate",
    category="text",
    cost=0,
    doc=(
        "Tokenizer-coverage audit: build the top-200 token vocabulary "
        "(one map-side-combined count + a rank window over the "
        "vocabulary-sized rollup only), broadcast it, and measure the "
        "out-of-vocabulary token rate per language — the coverage "
        "number that decides whether a tokenizer's vocab transfers to "
        "a new corpus slice. Totals are exact BIGINTs; the rate is one "
        "terminal division."
    ),
    oracle=f"""
        WITH toks AS (
          SELECT lang, s AS token
          FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS s
                FROM documents)
        ), counts AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS n
          FROM toks GROUP BY token
        ), vocab AS (
          SELECT token FROM (
            SELECT token,
                   ROW_NUMBER() OVER (ORDER BY n DESC, token) AS r
            FROM counts
          ) WHERE r <= {_OOV_VOCAB}
        )
        SELECT t.lang,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON v.token = t.token
        GROUP BY t.lang
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    # TakeOrdered (per-partition heap + driver merge of 200 rows), the
    # vocab_topk shape — never a single-task rank window over the
    # vocabulary-sized rollup.
    vocab = (
        counts.orderBy(F.col("n").desc(), "token")
        .limit(_OOV_VOCAB)
        .select("token", F.lit(1).alias("iv"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.expr("CASE WHEN iv IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_oov"),
            F.expr(
                "CAST(SUM(CASE WHEN iv IS NULL THEN 1 ELSE 0 END)"
                " AS DOUBLE) / COUNT(*)"
            ).alias("oov_rate"),
        )
    )


@register(
    "x_cache_reuse",
    category="lakehouse",
    cost=0,
    doc=(
        "Explicit .cache() reuse — the one Spark materialization "
        "surface the catalog didn't exercise (localCheckpoint cuts "
        "lineage; cache REUSES a computed rollup across consumers): "
        "the per-priority order rollup is cached, consumed once by the "
        "1-row grand-total aggregate and once by the share projection, "
        "so the plan shows InMemoryTableScan on both branches instead "
        "of two parquet scans (pinned in tests/test_plans.py). Shares "
        "are single divisions of exact cents/counts."
    ),
    oracle="""
        WITH r AS (
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS revenue_cents
          FROM orders GROUP BY o_orderpriority
        ), t AS (
          SELECT CAST(SUM(n_orders) AS BIGINT) AS tn,
                 CAST(SUM(revenue_cents) AS BIGINT) AS tr
          FROM r
        )
        SELECT o_orderpriority, n_orders, revenue_cents,
               CAST(n_orders AS DOUBLE) / tn AS order_share,
               CAST(revenue_cents AS DOUBLE) / tr AS revenue_share
        FROM r, t
    """,
)
def x_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    rollup = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .cache()
    )
    totals = rollup.agg(
        F.sum("n_orders").cast("bigint").alias("tn"),
        F.sum("revenue_cents").cast("bigint").alias("tr"),
    )
    return rollup.crossJoin(F.broadcast(totals)).select(
        "o_orderpriority",
        "n_orders",
        "revenue_cents",
        F.expr("CAST(n_orders AS DOUBLE) / tn").alias("order_share"),
        F.expr("CAST(revenue_cents AS DOUBLE) / tr").alias("revenue_share"),
    )


@register(
    "q_winsorize_scalable",
    category="prep",
    cost=0,
    doc=(
        "q_winsorize without the per-flag single-reducer rank sort — "
        "closing that entry's documented scale note: the p01/p99 CUT "
        "stage runs through the PARTITIONED bucketed two-phase rank "
        "(value = exact price cents, a few thousand histogram buckets "
        "per flag; cut VALUES at a rank are tie-order independent, so "
        "any total order over price agrees), cuts broadcast back, and "
        "the clipping join is unchanged. Hash-matches q_winsorize's "
        "oracle — two physically different cut plans, one result. The "
        "rank positions reuse the oracle's float formula "
        "ceil(0.01 * n) verbatim (bit-identical across engines); an "
        "integer reformulation could disagree at boundary n."
    ),
    oracle=WINSORIZE_ORACLE,
)
def q_winsorize_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.ranks import bucketed_global_row_number

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    base = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("v"),
    )
    ranked = bucketed_global_row_number(
        base,
        "v",
        "l_orderkey",
        shift=0,
        width=4096,
        descending=False,
        partition_by=["l_returnflag"],
    )
    cuts = ranked.groupBy("l_returnflag").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.01 * F.col("n")).cast("bigint"),
                F.col("l_extendedprice"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.99 * F.col("n")).cast("bigint"),
                F.col("l_extendedprice"),
            )
        ).alias("hi"),
    )
    return li.join(F.broadcast(cuts), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.expr(
            "LEAST(GREATEST(l_extendedprice, lo), hi)"
        ).alias("price_w"),
    )


# ---------------------------------------------------------------------------
# Batch 25: error-safe ANSI expressions + the Arrow-native map path.
# ---------------------------------------------------------------------------


@register(
    "q_try_arithmetic",
    category="relational",
    cost=0,
    doc=(
        "Error-safe expression surface: try_cast on a hostile string "
        "(the leading 2 chars of event_type — never numeric, so the "
        "cast-failure path is exercised on every row), JSON-extracted "
        "integers, and try_divide whose denominator hits zero on a "
        "deterministic residue class — NULL-on-error instead of ANSI "
        "aborts, the semantics a production pipeline needs on dirty "
        "data. Oracle spells the same semantics with TRY_CAST and "
        "NULLIF. Aggregated per event type: NULL-skipping SUM over "
        "exact BIGINTs, counts of each failure class."
    ),
    oracle="""
        WITH e AS (
          SELECT event_type,
                 TRY_CAST(substr(event_type, 1, 2) AS BIGINT) AS bad_cast,
                 TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ), d AS (
          SELECT event_type, bad_cast, k,
                 cents / NULLIF(k % 7 - 3, 0) AS safe_ratio
          FROM e
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN bad_cast IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cast_failed,
               CAST(SUM(CASE WHEN safe_ratio IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_div_zero,
               CAST(SUM(k) AS BIGINT) AS k_total
        FROM d GROUP BY event_type
    """,
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("try_cast(substr(event_type, 1, 2) AS BIGINT)").alias(
            "bad_cast"
        ),
        F.expr(
            "try_cast(get_json_object(props, '$.k') AS BIGINT)"
        ).alias("k"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    d = e.select(
        "event_type",
        "bad_cast",
        "k",
        F.expr("try_divide(cents, k % 7 - 3)").alias("safe_ratio"),
    )
    return d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN bad_cast IS NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_cast_failed"),
        F.sum(F.expr("CASE WHEN safe_ratio IS NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_div_zero"),
        F.sum("k").cast("bigint").alias("k_total"),
    )


@register(
    "q_arrow_token_stats",
    category="text",
    cost=0,
    doc=(
        "The Arrow-NATIVE Python map path (DataFrame.mapInArrow): "
        "per-doc token/char counts computed with pyarrow.compute "
        "kernels on the raw RecordBatches — no pandas materialization "
        "at all, the zero-copy shape for Python feature extraction "
        "the mapInPandas family approximates. Partition-preserving, "
        "one scan; split semantics match Spark split / DuckDB "
        "string_split exactly (empty tokens kept)."
    ),
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(LENGTH(text) AS BIGINT) AS n_chars
        FROM documents
    """,
)
def q_arrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.arrowops import token_stats_arrow

    return token_stats_arrow(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


# ---------------------------------------------------------------------------
# Batch 26: corpus boilerplate removal (line-level dedup, the
# CCNet/RefinedWeb cleaning stage).
# ---------------------------------------------------------------------------

_LINE_WORDS = 8
_LINE_MAX_OCC = 2


@register(
    "q_line_dedup",
    category="dedup",
    cost=1,
    doc=(
        "Line-level boilerplate removal (the CCNet/RefinedWeb cleaning "
        "stage): documents split into fixed 8-word 'lines' (the corpus "
        "has no sentence punctuation; the pipeline shape is identical "
        "for real lines), a global line-frequency rollup flags lines "
        "occurring > 2 times as boilerplate, and each doc is REBUILT "
        "from its surviving lines in original order (sorted-struct "
        "collect, no window) with an auditable boilerplate rate (one "
        "exact division). The frequency rollup shuffles md5-sized "
        "lines once; reassembly shuffles on doc_id once."
    ),
    oracle=f"""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), ld AS (
          SELECT doc_id,
                 list_transform(
                     range((len(ws) - 1) // {_LINE_WORDS} + 1),
                     i -> array_to_string(
                         list_slice(ws, i * {_LINE_WORDS} + 1,
                                    i * {_LINE_WORDS} + {_LINE_WORDS}),
                         ' ')
                 ) AS lines
          FROM w WHERE len(ws) > 0
        ), l AS (
          SELECT doc_id, i AS pos, lines[i + 1] AS line
          FROM ld, UNNEST(range(len(lines))) AS t(i)
        ), c AS (
          SELECT line, CAST(COUNT(*) AS BIGINT) AS n_occ
          FROM l GROUP BY line
        ), kept AS (
          SELECT l.doc_id, l.pos, l.line
          FROM l JOIN c ON c.line = l.line
          WHERE c.n_occ <= {_LINE_MAX_OCC}
        ), rebuilt AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_kept,
                 STRING_AGG(line, ' ' ORDER BY pos) AS clean_text
          FROM kept GROUP BY doc_id
        ), sizes AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM l
          GROUP BY doc_id
        )
        SELECT s.doc_id, s.n_lines,
               COALESCE(r.n_kept, 0) AS n_kept,
               CAST(s.n_lines - COALESCE(r.n_kept, 0) AS DOUBLE)
                   / s.n_lines AS boilerplate_rate,
               COALESCE(r.clean_text, '') AS clean_text
        FROM sizes s LEFT JOIN rebuilt r ON r.doc_id = s.doc_id
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lines_expr = (
        f"transform(sequence(0, (size(split(text, ' ')) - 1)"
        f" DIV {_LINE_WORDS}),"
        f" i -> array_join(slice(split(text, ' '),"
        f" i * {_LINE_WORDS} + 1, {_LINE_WORDS}), ' '))"
    )
    l = (
        docs.filter(F.expr("size(split(text, ' ')) > 0"))
        .select(
            "doc_id",
            F.posexplode(F.expr(lines_expr)).alias("pos", "line"),
        )
    )
    c = l.groupBy("line").agg(F.count("*").cast("bigint").alias("n_occ"))
    kept = l.join(c, "line").filter(F.col("n_occ") <= _LINE_MAX_OCC)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(pos, line))), s -> s.line), ' ')"
        ).alias("clean_text"),
    )
    sizes = l.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines")
    )
    return sizes.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.expr(
            "CAST(n_lines - COALESCE(n_kept, 0) AS DOUBLE) / n_lines"
        ).alias("boilerplate_rate"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Batch 29: S3-API object scan through the Python DataSource — the
# boto3 client transport (the reference's production path, no
# hadoop-aws jars) driven END-TO-END inside the catalog, served by an
# in-process moto S3 server (a real socket speaking the real S3 HTTP
# API). The server and per-sf staging are cached for the session, the
# runner._SRC_CACHE discipline.
# ---------------------------------------------------------------------------

_S3_SCAN: dict = {"endpoint": None, "server": None, "staged": {}}
_S3_SCAN_OBJECTS = 8


def _moto_endpoint() -> str:
    if _S3_SCAN["endpoint"] is None:
        import socket

        from moto.server import ThreadedMotoServer

        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        server = ThreadedMotoServer(ip_address="127.0.0.1", port=port)
        server.start()
        _S3_SCAN["server"] = server
        _S3_SCAN["endpoint"] = f"http://127.0.0.1:{port}"
    return _S3_SCAN["endpoint"]


def _put_jsonl(client, bucket: str, key: str, rows: list, objects: int) -> None:
    """Put `rows` as JSONL in `objects` contiguous slices at keys
    `key.format(i)`: the layout a real ingestion job leaves behind."""
    import json

    step = max(1, (len(rows) + objects - 1) // objects)
    for i in range(0, len(rows), step):
        body = "\n".join(json.dumps(r) for r in rows[i : i + step])
        client.put_object(
            Bucket=bucket, Key=key.format(i // step), Body=body.encode("utf-8")
        )


def _s3_entry(spark: SparkSession, bucket: str) -> tuple:
    """The set-up of the S3 entries: ship the workers, register the S3
    formats and create `bucket` on the moto endpoint. Returns the
    endpoint, a client and a fresh `run-<id>/` prefix."""
    import uuid

    from kafka_s3_etl_spark.shiplib import ensure_workers_can_import
    from kafka_s3_etl_spark.sources.objectstore import (
        make_s3_client,
        register_s3jsonl_source,
    )

    ensure_workers_can_import(spark)
    register_s3jsonl_source(spark)
    endpoint = _moto_endpoint()
    client = make_s3_client(endpoint_url=endpoint)
    try:
        client.create_bucket(Bucket=bucket)
    except client.exceptions.BucketAlreadyOwnedByYou:
        pass
    return endpoint, client, f"run-{uuid.uuid4().hex[:8]}/"


def _s3_docs(reader, endpoint: str, bucket: str, prefix: str) -> DataFrame:
    """The documents under (bucket, prefix) through `graft_s3jsonl`;
    `reader` is spark.read or spark.readStream."""
    return (
        reader.format("graft_s3jsonl")
        .options(endpoint=endpoint, bucket=bucket, prefix=prefix)
        .load()
    )


def _stage_documents_jsonl(sf_dir: str) -> tuple[str, str]:
    """Stage the documents table as JSONL objects in the object store
    (once per sf_dir): contiguous row slices over 8 keys."""
    import hashlib

    import pyarrow.parquet as pq

    from kafka_s3_etl_spark.sources.objectstore import make_s3_client

    endpoint = _moto_endpoint()
    if sf_dir in _S3_SCAN["staged"]:
        return endpoint, _S3_SCAN["staged"][sf_dir]
    bucket = "graft-scan-" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    client = make_s3_client(endpoint_url=endpoint)
    client.create_bucket(Bucket=bucket)
    rows = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "text"]
    ).to_pylist()
    _put_jsonl(client, bucket, "docs/part-{:04d}.jsonl", rows, _S3_SCAN_OBJECTS)
    _S3_SCAN["staged"][sf_dir] = bucket
    return endpoint, bucket


@register(
    "x_s3_object_scan",
    category="source",
    cost=1,
    doc=(
        "S3 -> Spark WITHOUT hadoop-aws: the documents table staged as "
        "JSONL objects in a live in-process S3 API server (moto over a "
        "real socket) and scanned back through the graft_s3jsonl "
        "Python DataSource — driver plans one InputPartition per "
        "object (a LIST call), each executor task get_object's its own "
        "key with the boto3 client (the reference's actual transport) "
        "and emits Arrow batches. Hash-checked against the parquet "
        "source of truth, so the whole loop — client upload, S3 "
        "listing, distributed client reads, JSONL parse, Arrow "
        "emission, Spark types — is value-verified end-to-end."
    ),
    oracle="SELECT doc_id, lang, text FROM documents",
)
def x_s3_object_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.sources.objectstore import (
        register_s3jsonl_source,
    )

    endpoint, bucket = _stage_documents_jsonl(sf_dir)
    register_s3jsonl_source(spark)
    return _s3_docs(spark.read, endpoint, bucket, "docs/")


@register(
    "s_s3_autoloader",
    category="streaming",
    cost=2,
    doc=(
        "Incremental object-store ingestion (the notification-less "
        "Auto-Loader shape) through graft_s3jsonl in stream mode: "
        "offsets are key high-water marks over the sorted object "
        "listing, so each micro-batch reads exactly the NEWLY arrived "
        "objects with per-object executor-side boto3 fetches. The "
        "entry stages wave 1, drains it, stages wave 2 ONLY after the "
        "first drain, drains again — the appended memory sink must "
        "hold every document exactly once, hash-checked against the "
        "parquet source of truth. Exactly-once rests on immutable "
        "objects with append-ordered keys (the part-file layout every "
        "ingestion job produces)."
    ),
    oracle="SELECT doc_id, lang, text FROM documents",
)
def s_s3_autoloader(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.parquet as pq

    from kafka_s3_etl_spark.streaming.runner import run_stream

    endpoint, client, run_prefix = _s3_entry(spark, "graft-autoload")
    rows = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "text"]
    ).to_pylist()
    waves = [rows[: len(rows) // 2], rows[len(rows) // 2 :]]

    def put_wave(w: int) -> None:
        key = f"{run_prefix}w{w}-part-{{:04d}}.jsonl"
        _put_jsonl(client, "graft-autoload", key, waves[w], 4)

    put_wave(0)
    stream = _s3_docs(spark.readStream, endpoint, "graft-autoload", run_prefix)
    # wave 1 drains first; wave 2's objects arrive after that drain and
    # are picked up incrementally
    return run_stream(stream, deliveries=[lambda: put_wave(1)])


@register(
    "x_s3_object_sink",
    category="sink",
    cost=1,
    doc=(
        "The WRITE direction of the S3 client transport: documents "
        "written through graft_s3jsonl_sink, which runs the package's "
        "one staged publish (sources/pyds.py::_StagedPublish) on S3 — "
        "tasks put `_staged-` parts, only the driver-side commit() "
        "publishes them via copy_object plus a _SUCCESS manifest, "
        "abort() deletes the stages — then read BACK through the "
        "underscore-skipping graft_s3jsonl scan and hash-checked "
        "against the parquet source of truth: write, commit protocol, "
        "listing hygiene and read-back value-verified in one loop."
    ),
    oracle="SELECT doc_id, lang, text FROM documents",
)
def x_s3_object_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    endpoint, _, prefix = _s3_entry(spark, "graft-sink")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    (
        docs.write.format("graft_s3jsonl_sink")
        .mode("append")  # Python DataSource writers reject ErrorIfExists
        .options(endpoint=endpoint, bucket="graft-sink", prefix=prefix)
        .save()
    )
    return _s3_docs(spark.read, endpoint, "graft-sink", prefix)


@register(
    "s_s3_stream_sink",
    category="streaming",
    cost=2,
    doc=(
        "Streaming WRITE to the object store: the documents stream "
        "drains through graft_s3jsonl_sink in stream mode — the same "
        "staged publish as the batch sink, per micro-batch: batch N "
        "publishes part-bN-* keys plus a _SUCCESS-N manifest after "
        "removing every part an earlier attempt of batch N published, "
        "so a checkpoint replay never leaves duplicates — then the "
        "bucket is read BACK through the graft_s3jsonl scan and hash-"
        "checked against the parquet source of truth."
    ),
    oracle="SELECT doc_id, lang, text FROM documents",
)
def s_s3_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.runner import run_stream, stream_table

    endpoint, _, prefix = _s3_entry(spark, "graft-streamsink")
    stream = stream_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    run_stream(
        stream.writeStream.format("graft_s3jsonl_sink").options(
            endpoint=endpoint, bucket="graft-streamsink", prefix=prefix
        )
    )
    return _s3_docs(spark.read, endpoint, "graft-streamsink", prefix)


# ---------------------------------------------------------------------------
# Batch 33: remaining Spark-4 DataFrame surface — transpose and the
# XML expression pair (the reference is an XML-producing pipeline; the
# engine both renders AND parses the format).
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "q_transpose",
    category="relational",
    cost=0,
    doc=(
        "Native DataFrame.transpose (Spark 4.0): the per-priority "
        "order rollup (2 exact-BIGINT metrics x 5 priorities) flipped "
        "so metrics are rows and priorities are columns — the "
        "report-orientation pivot analysts ask for; transpose sorts "
        "columns by the index values, so the layout is deterministic. "
        "Only ever run on ROLLUPS: the output width equals the input "
        "row count, so the input must be aggregate-sized (this one is "
        "5 rows at any corpus size). Oracle rebuilds the same shape "
        "with conditional aggregates."
    ),
    oracle=f"""
        WITH r AS (
          SELECT o_orderpriority AS p,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS revenue_cents
          FROM orders GROUP BY 1
        )
        SELECT 'n_orders' AS key,
               {", ".join(
                   f'''MAX(CASE WHEN p = '{p}' THEN n_orders END) AS "{p}"'''
                   for p in _PRIORITIES
               )}
        FROM r
        UNION ALL
        SELECT 'revenue_cents' AS key,
               {", ".join(
                   f'''MAX(CASE WHEN p = '{p}' THEN revenue_cents END)'''
                   for p in _PRIORITIES
               )}
        FROM r
    """,
)
def q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    rollup = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )
    return rollup.transpose()


@register(
    "q_xml_roundtrip",
    category="etl",
    cost=0,
    doc=(
        "The Spark-4 XML EXPRESSION pair (to_xml / from_xml) proven "
        "inverse on real data: every order serialized to an XML "
        "fragment and parsed straight back, hash-checked against the "
        "identity projection — the in-engine counterpart of the "
        "reference's document pipeline (functions/xml_render.py covers "
        "the reference's bespoke dialect byte-for-byte; this entry "
        "covers Spark's native XML codec both directions). Map-only, "
        "one scan."
    ),
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    xml = load_table(spark, sf_dir, "orders").select(
        F.to_xml(
            F.struct(
                "o_orderkey",
                "o_orderstatus",
                F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
                    "cents"
                ),
            )
        ).alias("x")
    )
    return xml.select(
        F.from_xml(
            "x", "o_orderkey bigint, o_orderstatus string, cents bigint"
        ).alias("r")
    ).select("r.*")
