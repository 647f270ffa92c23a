"""Retrieval + signal-decomposition depth (round 8, batch 11):

* q_sim_pq — product-quantization ANN
  (operators/similarity.py::pq_topk): the memory-bound regime IVF/LSH
  don't cover — each vector encoded to 4 four-bit codes on its own
  row (~32x smaller than the raw floats), queries scan the CODES with
  per-query LUT arrays (a fixed-order ``lut0[c0] + lut1[c1] + ...``,
  no per-vector float math), exact cosine re-rank of the ADC
  shortlist only. Rows-only (the codebooks are a data-dependent fit);
  recall + true-cosine properties pinned in tests/test_llm_ops.py.
* q_doc_keyterms — per-document keyword extraction: top-3 terms under
  the (tf DESC, df ASC, token) order — highest in-doc frequency,
  corpus-rarest tie-break — the integer-exact form of tf-idf ranking
  (the float score itself is ln-dependent and engines' libm differ in
  the last ulp, so the ORDER is the contract, with tf/df emitted as
  BIGINTs).
* q_trend_decompose — 7-day centered moving-average decomposition of
  daily event counts per type: trend = windowed SUM/COUNT (identical
  operands on both engines — bit-exact), residual = n - trend; the
  windows run over the per-day rollup, never the fact.
* q_outlier_iqr — Tukey-fence outliers per order priority: q1/q3 from
  discrete rank math (q_percentile_disc's pattern), the high fence
  test kept in integers (2*c > 2*q3 + 3*(q3 - q1) == c > q3 + 1.5*IQR)
  — outlier COUNTS per group, no per-row float compares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_s3_etl_spark.operators.similarity import pq_topk
from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table


@register(
    "q_sim_pq",
    category="similarity",
    cost=2,
    doc=(
        "Product-quantization ANN: per-subspace codebooks fit "
        "driver-side on a capped sample (the FAISS shape) and "
        "broadcast as one row; each vector's codes are argmax folds "
        "on its own row, the ADC scan adds per-query LUT entries "
        "lut0[c0] + lut1[c1] + ... in a fixed order, exact cosine "
        "re-rank of the shortlist only — reported cosines are true "
        "cosines."
    ),
)
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_topk(
        load_table(spark, sf_dir, "embeddings"), n_queries=8, k=5
    )


@register(
    "q_sim_ivfpq",
    category="similarity",
    cost=2,
    doc=(
        "IVF-PQ with residual encoding (r9) — the FAISS IndexIVFPQ "
        "production composition: coarse quantizer routes vectors to "
        "cells, PQ codebooks quantize the RESIDUAL (v - centroid), "
        "queries probe their n_probe cells with per-(query, cell) "
        "residual ADC lookup tables, exact cosine re-rank of the "
        "shortlist. Fit is one capped driver-side sample (no "
        "distributed ML job); each vector's cell and M small-int codes "
        "sit on its own row; the cell-matched join scans only probed "
        "cells' codes with the fixed-order ADC lut0[c0] + lut1[c1] + "
        "... . Rows-only (the books are a data-dependent fit); recall "
        "+ true-cosine properties in tests/test_llm_ops.py."
    ),
)
def q_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"), n_queries=8, k=5
    )


@register(
    "q_doc_keyterms",
    category="llm",
    cost=1,
    doc=(
        "Per-document keyword extraction: top-3 distinct terms under "
        "the (tf DESC, df ASC, token) total order — the integer-exact "
        "tf-idf ranking (in-doc frequency first, corpus rarity "
        "tie-break); tf/df emitted as BIGINTs, no float score."
    ),
    oracle="""
        WITH t AS (
          SELECT doc_id, s AS token,
                 CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS s
                FROM documents)
          WHERE s != ''
          GROUP BY doc_id, s
        ), d AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS df
          FROM t GROUP BY token
        )
        SELECT doc_id, token, tf, df,
               CAST(rnk AS INT) AS rnk
        FROM (
          SELECT t.doc_id, t.token, t.tf, d.df,
                 ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                    ORDER BY t.tf DESC, d.df, t.token)
                     AS rnk
          FROM t JOIN d USING (token)
        ) WHERE rnk <= 3
    """,
)
def q_doc_keyterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    d = t.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df"), F.col("token")
    )
    return (
        t.join(d, "token")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "rnk")
    )


@register(
    "q_trend_decompose",
    category="timeseries",
    cost=1,
    doc=(
        "7-day centered moving-average decomposition of daily event "
        "counts per type: trend = windowed SUM/COUNT over the per-day "
        "rollup (identical operands both engines — bit-exact), "
        "residual = n - trend; windows never touch the fact."
    ),
    oracle="""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, n,
               CAST(SUM(n) OVER w AS DOUBLE) / COUNT(n) OVER w AS trend,
               n - CAST(SUM(n) OVER w AS DOUBLE) / COUNT(n) OVER w
                   AS residual
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
)
def q_trend_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trend = F.sum("n").over(w).cast("double") / F.count("n").over(w)
    return daily.select(
        "event_type",
        "day",
        "n",
        trend.alias("trend"),
        (F.col("n") - trend).alias("residual"),
    )


@register(
    "q_outlier_iqr",
    category="statistics",
    cost=1,
    doc=(
        "Tukey-fence outlier counts per order priority: q1/q3 cents "
        "from discrete rank math, high-fence test as the integer "
        "cross-multiply 2*c > 2*q3 + 3*(q3 - q1) — group-level "
        "counts, zero per-row float compares."
    ),
    oracle="""
        WITH r AS (
          SELECT o_orderpriority,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
                 o_orderkey
          FROM orders
        ), s AS (
          SELECT o_orderpriority, c,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY c, o_orderkey) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM r
        ), q AS (
          SELECT o_orderpriority,
                 CAST(MAX(n) AS BIGINT) AS n_orders,
                 MAX(CASE WHEN rn = (n + 3) // 4 THEN c END) AS q1_cents,
                 MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN c END) AS q3_cents
          FROM s GROUP BY o_orderpriority
        )
        SELECT q.o_orderpriority, q.n_orders, q.q1_cents, q.q3_cents,
               CAST(SUM(CASE WHEN 2 * r.c >
                                  2 * q.q3_cents
                                  + 3 * (q.q3_cents - q.q1_cents)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_outliers_high,
               MAX(r.c) AS max_cents
        FROM r JOIN q USING (o_orderpriority)
        GROUP BY 1, 2, 3, 4
    """,
)
def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("c"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority")
    s = r.select(
        "o_orderpriority",
        "c",
        F.row_number().over(w.orderBy("c", "o_orderkey")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    q = s.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max(F.expr("CASE WHEN rn = (n + 3) DIV 4 THEN c END")).alias(
            "q1_cents"
        ),
        F.max(
            F.expr("CASE WHEN rn = (3 * n + 3) DIV 4 THEN c END")
        ).alias("q3_cents"),
    )
    return (
        r.join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority", "n_orders", "q1_cents", "q3_cents")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN 2 * c > 2 * q3_cents"
                    " + 3 * (q3_cents - q1_cents) THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_outliers_high"),
            F.max("c").alias("max_cents"),
        )
    )
