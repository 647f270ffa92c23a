"""Round-11 batch 63: training-mix balancing.

Temperature-based language/source rebalancing is the knob every
multilingual / multi-source pretraining pipeline ships (sample lang l
with probability proportional to n_l^alpha, alpha < 1, so head
languages shrink toward the tail — XLM-R's alpha = 0.3-0.7 family).
The catalog already has reproducible uniform hash sampling
(q_sample_hash) and RNG stratified sampling (q_sample_stratified,
rows-only); this adds the NON-uniform, corpus-statistics-driven rate
with the whole pipeline still exactly replayable:

* per-language keep probability sqrt(n_min / n_l) (alpha = 0.5
  flattening toward the smallest language), realized as one integer
  threshold per language: t_l = floor(sqrt(n_min/n_l * 2^40)) over a
  20-bit md5 hash of the doc id. sqrt and the single division are
  each ONE correctly-rounded IEEE op on the same inputs in both
  engines, and the quantization to t_l happens once per DISTINCT
  LANGUAGE (the q_lm_score discipline), so the per-doc keep decision
  h < t_l is an exact integer compare — reproducible under any
  partitioning, any engine, any rerun, unlike rand()-based sampling.
* the doc-level decision needs only (doc_id, lang): two column-pruned
  scans (one for the 5-row rate table, one for the decision rollup)
  and a broadcast join — no wide shuffle anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table, local_frame

# 2^40: the threshold scale. h is 5 hex chars = 20 bits, t_l is
# floor(sqrt(ratio) * 2^20) = floor(sqrt(ratio * 2^40)).
_T_SCALE = 1099511627776


@register(
    "q_sample_temperature",
    cost=1,
    category="prep",
    doc=(
        "Temperature-flattened language mix (alpha = 0.5): per-lang "
        "keep probability sqrt(n_min/n_l) via one integer threshold "
        "per language (floor(sqrt(n_min/n_l * 2^40))) against a "
        "20-bit md5(doc_id) hash — head languages downsample toward "
        "the tail, reproducibly (hash-threshold, never rand()). "
        "Output is the per-language audit rollup: corpus count, kept "
        "count, the threshold, and realized rate. Exact integer "
        "compares everywhere; sqrt/division are single "
        "correctly-rounded IEEE ops quantized once per language."
    ),
    oracle=f"""
        WITH n AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
          FROM documents GROUP BY lang
        ),
        mn AS (SELECT MIN(n_l) AS n_min FROM n),
        t AS (
          SELECT lang, n_l,
                 CAST(floor(sqrt(CAST(n_min AS DOUBLE)
                                 / CAST(n_l AS DOUBLE)
                                 * {_T_SCALE})) AS BIGINT) AS t_l
          FROM n CROSS JOIN mn
        )
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN ('0x' || substr(
                        md5(CAST(d.doc_id AS VARCHAR)), 1, 5))::BIGINT
                        < t.t_l THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(MIN(t.t_l) AS BIGINT) AS t_threshold,
               CAST(CAST(SUM(CASE WHEN ('0x' || substr(
                        md5(CAST(d.doc_id AS VARCHAR)), 1, 5))::BIGINT
                        < t.t_l THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS keep_rate
        FROM documents d JOIN t ON d.lang = t.lang
        GROUP BY d.lang
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    n = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_l"))
    mn = n.agg(F.min("n_l").alias("n_min"))
    t = n.crossJoin(F.broadcast(mn)).select(
        "lang",
        F.expr(
            f"CAST(FLOOR(SQRT(CAST(n_min AS DOUBLE)"
            f" / CAST(n_l AS DOUBLE) * {_T_SCALE})) AS BIGINT)"
        ).alias("t_l"),
    )
    kept = F.expr(
        "CASE WHEN CAST(conv(substring(md5(CAST(doc_id AS STRING)),"
        " 1, 5), 16, 10) AS BIGINT) < t_l THEN 1 ELSE 0 END"
    )
    return (
        docs.join(F.broadcast(t), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.min("t_l").cast("bigint").alias("t_threshold"),
        )
        .select(
            "lang",
            "n_docs",
            "n_kept",
            "t_threshold",
            F.expr(
                "CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)"
            ).alias("keep_rate"),
        )
    )


# ---------------------------------------------------- round 11, batch 64

_TR_ITERS = 6
_TR_INIT = 1_000_000_000
_TR_AN = 85
_TR_AD = 100


def _textrank_oracle() -> str:
    """Six rounds of integer fixed-point PageRank over the adjacent-
    token co-occurrence graph, replayed as a generated AS MATERIALIZED
    CTE chain — the q_graph_pagerank_exact template with the word
    graph as the edge source."""
    teleport = (_TR_AD - _TR_AN) * _TR_INIT // _TR_AD
    rounds = []
    for t in range(_TR_ITERS):
        rounds.append(f"""
        r{t + 1} AS MATERIALIZED (
          SELECT n.node,
                 CAST({teleport} + ({_TR_AN} * COALESCE(i.s, 0))
                      // {_TR_AD} AS BIGINT) AS pr
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, CAST(SUM(r.pr // d.deg) AS BIGINT) AS s
            FROM edges e
            JOIN r{t} r ON r.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) i ON i.node = n.node
        )""")
    chain = ",".join(rounds)
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        prs AS (
          SELECT w[i+1] AS x, w[i+2] AS y
          FROM toks, UNNEST(range(len(w) - 1)) AS t(i)
          WHERE len(w) >= 2
        ),
        und AS (
          SELECT DISTINCT x, y FROM prs
          WHERE x != y AND x != '' AND y != ''
        ),
        edges AS MATERIALIZED (
          SELECT x AS src, y AS dst FROM und
          UNION
          SELECT y AS src, x AS dst FROM und
        ),
        deg AS MATERIALIZED (
          SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
        ),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
        r0 AS MATERIALIZED (
          SELECT node, CAST({_TR_INIT} AS BIGINT) AS pr FROM nodes
        ),{chain}
        SELECT node AS token, pr AS rank_fp FROM r{_TR_ITERS}
        ORDER BY pr DESC, node LIMIT 10
    """


@register(
    "q_keyword_textrank",
    cost=2,
    category="text",
    doc=(
        "TextRank keyword extraction (Mihalcea & Tarau '04): corpus "
        "co-occurrence graph over adjacent token pairs (undirected, "
        "distinct, self-loops dropped) scored by integer fixed-point "
        "PageRank (operators/graph.py::pagerank_fixedpoint — bigint "
        "floor arithmetic makes all six rounds associative and "
        "engine-exact), top-10 keywords on the (rank_fp DESC, token) "
        "total order via TakeOrdered. The oracle replays edge "
        "construction AND the full iteration as a generated "
        "MATERIALIZED CTE chain. Scale: the graph is vocab-bounded "
        "(nodes = distinct tokens, edges = distinct adjacent pairs), "
        "so the per-round join+rollup shuffles a vocabulary-sized "
        "table regardless of corpus size; the one corpus-scale stage "
        "is the distinct over exploded pairs, map-side combined."
    ),
    oracle=_textrank_oracle(),
)
def q_keyword_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from kafka_s3_etl_spark.operators.graph import pagerank_fixedpoint

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.select(
            F.col("tok").alias("doc_a"), F.lead("tok").over(w).alias("doc_b")
        )
        .filter(
            (F.col("doc_b").isNotNull())
            & (F.col("doc_a") != F.col("doc_b"))
            & (F.col("doc_a") != "")
            & (F.col("doc_b") != "")
        )
        .distinct()
    )
    ranks = pagerank_fixedpoint(
        pairs,
        iters=_TR_ITERS,
        init=_TR_INIT,
        alpha_num=_TR_AN,
        alpha_den=_TR_AD,
    )
    return (
        ranks.select(F.col("doc_id").alias("token"), "rank_fp")
        .orderBy(F.desc("rank_fp"), "token")
        .limit(10)
    )


@register(
    "q_embed_quantize_int8",
    cost=1,
    category="similarity",
    doc=(
        "Symmetric int8 scalar quantization of the embedding column — "
        "the 4x storage/bandwidth compression an ANN serving tier "
        "applies before indexing: per-vector scale = max |v_i| (float "
        "comparisons, exact), code_i = trunc(v_i * 127 / scale) "
        "(float32 widens to double exactly; the multiply and divide "
        "are the same two IEEE ops in both engines, and truncation "
        "toward zero is stated explicitly on both sides — Spark CAST "
        "truncates, the oracle spells CAST(trunc(..))). Output is the "
        "per-vector integer audit: dims, exact code sum, min/max code "
        "and the double scale — the codes themselves stay an array "
        "transform away. Map-only, no shuffle, no Python. Known "
        "shape cost: HOF lambdas get no common-subexpression "
        "elimination, so the inlined per-element scale re-derivation "
        "is O(d^2)/vector - measured 0.25 s at sf0.1 for d=64; for "
        "high-d corpora restructure as explode + per-vec window max "
        "(one exchange) instead."
    ),
    oracle="""
        WITH v AS (
          SELECT vec_id, embedding,
                 (SELECT MAX(abs(CAST(x AS DOUBLE)))
                  FROM UNNEST(embedding) AS u(x)) AS scale
          FROM embeddings
        ),
        c AS (
          SELECT vec_id, scale,
                 CAST(trunc(CAST(x AS DOUBLE) * 127 / scale) AS BIGINT)
                   AS code
          FROM v, UNNEST(embedding) AS u(x)
        )
        SELECT vec_id,
               CAST(COUNT(*) AS INTEGER) AS n_dims,
               MIN(scale) AS scale,
               CAST(SUM(code) AS BIGINT) AS code_sum,
               CAST(MIN(code) AS BIGINT) AS code_min,
               CAST(MAX(code) AS BIGINT) AS code_max
        FROM c GROUP BY vec_id
    """,
)
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.expr("CAST(size(embedding) AS INT)").alias("n_dims"),
        F.expr(
            "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        ).alias("scale"),
        F.expr(
            "CAST(aggregate(transform(embedding,"
            " x -> CAST(CAST(x AS DOUBLE) * 127 / "
            "array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE))))"
            " AS BIGINT)), 0L, (a, b) -> a + b) AS BIGINT)"
        ).alias("code_sum"),
        F.expr(
            "CAST(array_min(transform(embedding,"
            " x -> CAST(CAST(x AS DOUBLE) * 127 / "
            "array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE))))"
            " AS BIGINT))) AS BIGINT)"
        ).alias("code_min"),
        F.expr(
            "CAST(array_max(transform(embedding,"
            " x -> CAST(CAST(x AS DOUBLE) * 127 / "
            "array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE))))"
            " AS BIGINT))) AS BIGINT)"
        ).alias("code_max"),
    )


# ---------------------------------------------------- round 11, batch 65

_BATCH_B = 32  # training micro-batch size for the padding audit
_CHUNK_W = 16  # fixed chunk width in tokens
_CHUNK_S = 8  # stride (50% overlap)


@register(
    "q_padding_waste",
    cost=1,
    category="prep",
    doc=(
        "Padding-efficiency audit for length-bucketed batching — the "
        "measurement behind every 'sort by length before batching' "
        "training-throughput win: documents are grouped into batches "
        "of 32 either in arrival (doc_id) order or in (token count, "
        "doc_id) order, each batch pads to its max length, and the "
        "entry reports total vs padded tokens and the waste ratio per "
        "strategy. Exact integers throughout (the ratio is the single "
        "terminal division); both global total orders ride "
        "bucketed_global_row_number — exact ROW_NUMBER with no "
        "single-task sort, the operators/ranks.py machinery."
    ),
    oracle=f"""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '),
                                      x -> x != '')) AS BIGINT) AS n_tok
          FROM documents
        ),
        naive AS (
          SELECT doc_id, n_tok,
                 (ROW_NUMBER() OVER (ORDER BY doc_id) - 1)
                   // {_BATCH_B} AS b
          FROM d
        ),
        srt AS (
          SELECT doc_id, n_tok,
                 (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1)
                   // {_BATCH_B} AS b
          FROM d
        ),
        nb AS (
          SELECT b, MAX(n_tok) AS mx, COUNT(*) AS c, SUM(n_tok) AS s
          FROM naive GROUP BY b
        ),
        sb AS (
          SELECT b, MAX(n_tok) AS mx, COUNT(*) AS c, SUM(n_tok) AS s
          FROM srt GROUP BY b
        ),
        agg AS (
          SELECT 'naive' AS strategy,
                 CAST(SUM(c) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_batches,
                 CAST(SUM(s) AS BIGINT) AS total_tokens,
                 CAST(SUM(c * mx) AS BIGINT) AS padded_tokens
          FROM nb
          UNION ALL
          SELECT 'sorted',
                 CAST(SUM(c) AS BIGINT),
                 CAST(COUNT(*) AS BIGINT),
                 CAST(SUM(s) AS BIGINT),
                 CAST(SUM(c * mx) AS BIGINT)
          FROM sb
        )
        SELECT strategy, n_docs, n_batches, total_tokens, padded_tokens,
               CAST(padded_tokens - total_tokens AS BIGINT)
                 AS waste_tokens,
               CAST(padded_tokens - total_tokens AS DOUBLE)
                 / CAST(padded_tokens AS DOUBLE) AS waste_ratio
        FROM agg
    """,
)
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.ranks import bucketed_global_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)"
        ).alias("n_tok"),
    )

    def audit(value: str, label: str) -> DataFrame:
        ranked = bucketed_global_row_number(
            docs, value, "doc_id", shift=0, descending=False
        )
        per_batch = (
            ranked.withColumn(
                "b", F.expr(f"(rn - 1) div {_BATCH_B}")
            )
            .groupBy("b")
            .agg(
                F.max("n_tok").alias("mx"),
                F.count("*").alias("c"),
                F.sum("n_tok").alias("s"),
            )
        )
        return per_batch.agg(
            F.lit(label).alias("strategy"),
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_batches"),
            F.sum("s").cast("bigint").alias("total_tokens"),
            F.sum(F.expr("c * mx")).cast("bigint").alias("padded_tokens"),
        )

    out = audit("doc_id", "naive").unionByName(audit("n_tok", "sorted"))
    return out.select(
        "strategy",
        "n_docs",
        "n_batches",
        "total_tokens",
        "padded_tokens",
        (F.col("padded_tokens") - F.col("total_tokens"))
        .cast("bigint")
        .alias("waste_tokens"),
        F.expr(
            "CAST(padded_tokens - total_tokens AS DOUBLE)"
            " / CAST(padded_tokens AS DOUBLE)"
        ).alias("waste_ratio"),
    )


@register(
    "q_chunk_fixed_overlap",
    cost=1,
    category="text",
    doc=(
        "Fixed-size sliding-window chunking (width 16 tokens, stride "
        "8 = 50% overlap) — the RAG/embedding chunker every retrieval "
        "pipeline ships beside the content-defined q_chunk_cdc: "
        "chunk starts via sequence(0, len-1, stride), token slices "
        "via slice(), identity via md5 of the joined tokens. One "
        "explode, wholly JVM, embarrassingly parallel; the oracle "
        "replays starts/slices with UNNEST(range(...)) + 1-based "
        "list slicing."
    ),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x != '') AS w
          FROM documents
        ),
        st AS (
          SELECT doc_id, w, UNNEST(range(0, len(w), {_CHUNK_S})) AS s
          FROM toks WHERE len(w) > 0
        )
        SELECT doc_id,
               CAST(s // {_CHUNK_S} AS INTEGER) AS chunk_idx,
               CAST(s AS INTEGER) AS start_pos,
               CAST(least({_CHUNK_W}, len(w) - s) AS INTEGER) AS n_tokens,
               md5(list_aggregate(w[s + 1 : s + {_CHUNK_W}],
                                  'string_agg', ' ')) AS chunk_md5
        FROM st
    """,
)
def q_chunk_fixed_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("w"),
    ).filter(F.expr("size(w) > 0"))
    st = toks.select(
        "doc_id",
        "w",
        F.explode(
            F.expr(f"sequence(0, size(w) - 1, {_CHUNK_S})")
        ).alias("s"),
    )
    return st.select(
        "doc_id",
        F.expr(f"CAST(s div {_CHUNK_S} AS INT)").alias("chunk_idx"),
        F.col("s").cast("int").alias("start_pos"),
        F.expr(f"CAST(least({_CHUNK_W}, size(w) - s) AS INT)").alias(
            "n_tokens"
        ),
        F.expr(
            f"md5(concat_ws(' ', slice(w, s + 1, {_CHUNK_W})))"
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------- round 11, batch 66


@register(
    "q_tfidf_topk",
    cost=1,
    category="text",
    doc=(
        "Top-3 TF-IDF terms per document — the classic IR feature "
        "under the house exact-arithmetic discipline: tf is the exact "
        "in-doc term count, idf is ln(N/df) quantized ONCE per "
        "distinct token to integer micro-nats (the q_lm_score rule — "
        "df is a per-token constant, so the only float op happens "
        "token-cardinality times, never row times), and the score "
        "tf * idf_q is an exact BIGINT product, making the per-doc "
        "(score DESC, token) rank total and engine-exact. The per-doc "
        "window partitions on doc_id — high cardinality, so every "
        "partition is one document and no task sees more than a "
        "document's vocabulary; no bucketed rank needed."
    ),
    oracle="""
        WITH toks AS (
          SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                            x -> x != '')) AS token
          FROM documents
        ),
        tf AS (
          SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
          FROM toks GROUP BY doc_id, token
        ),
        df AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
          GROUP BY token
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token, tf.tf, df.df,
                 CAST(tf.tf * CAST(ROUND(ln(CAST(n.n_docs AS DOUBLE)
                          / CAST(df.df AS DOUBLE)) * 1000000) AS BIGINT)
                      AS BIGINT) AS score_fp
          FROM tf JOIN df USING (token) CROSS JOIN n
        )
        SELECT doc_id, token, tf, df, score_fp,
               CAST(rk AS INTEGER) AS rk
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score_fp DESC, token) AS rk
          FROM scored
        ) WHERE rk <= 3
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(text, ' '), x -> x != '')")
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df_ = tf.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.expr(
                "CAST(tf * CAST(ROUND(ln(CAST(n_docs AS DOUBLE)"
                " / CAST(df AS DOUBLE)) * 1000000) AS BIGINT) AS BIGINT)"
            ).alias("score_fp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_fp"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", "score_fp", "rk")
    )


@register(
    "q_embed_centroid_exact",
    cost=1,
    category="similarity",
    doc=(
        "Per-label embedding centroids in exact fixed point — the "
        "class-prototype computation behind centroid classifiers and "
        "semantic-drift monitors, made hash-verifiable: each float32 "
        "coordinate quantizes ONCE to integer micro-units "
        "(trunc(v * 1e6), float32 widens to double exactly, one "
        "multiply + one trunc identical in both engines), and the "
        "centroid numerator is then an exact BIGINT sum — "
        "association-free, unlike a float mean. One explode + one "
        "map-side-combined (label, dim) rollup; 10 labels x 64 dims "
        "of output regardless of corpus size. The double centroid is "
        "the single terminal division chain."
    ),
    oracle="""
        WITH v AS (
          SELECT label, embedding,
                 UNNEST(range(len(embedding))) AS dim
          FROM embeddings
        ),
        q AS (
          SELECT label, CAST(dim AS INTEGER) AS dim,
                 CAST(trunc(CAST(embedding[dim + 1] AS DOUBLE) * 1000000)
                      AS BIGINT) AS fx
          FROM v
        )
        SELECT label, dim,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(fx) AS BIGINT) AS sum_fp,
               CAST(CAST(SUM(fx) AS BIGINT) AS DOUBLE)
                 / CAST(COUNT(*) AS BIGINT) / 1000000 AS centroid
        FROM q GROUP BY label, dim
    """,
)
def q_embed_centroid_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        F.expr(
            "CAST(CAST(CAST(x AS DOUBLE) * 1000000 AS BIGINT) AS BIGINT)"
        ).alias("fx"),
    )
    return q.groupBy("label", "dim").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("fx").cast("bigint").alias("sum_fp"),
        F.expr(
            "CAST(CAST(SUM(fx) AS BIGINT) AS DOUBLE)"
            " / CAST(COUNT(*) AS BIGINT) / 1000000"
        ).alias("centroid"),
    )


# ---------------------------------------------------- round 11, batch 67

_XC_PACK = 1099511627776  # 2^40: (16-agree, base_doc) packed arg-min


def _cross_dedup_oracle() -> str:
    """md5-MinHash banding replayed with the two corpora split by
    doc_id % 10, joined one-sided (incoming x base), resolved to the
    per-incoming-doc admit/reject decision."""
    from kafka_s3_etl_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_K,
        SHINGLE_N,
    )

    mins = ",\n                 ".join(
        f"MIN(md5(g || '{i}')) AS mh{i}" for i in range(MINHASH_K)
    )
    sig_cols = ", ".join(f"mh{i}" for i in range(MINHASH_K))
    r = MINHASH_K // LSH_BANDS
    band_selects = "\n          UNION ALL\n          ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS key, {cols} FROM sig".format(
            b=b,
            key=" || ".join(f"mh{b * r + j}" for j in range(r)),
            cols=sig_cols,
        )
        for b in range(LSH_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K)
    )
    shingle_expr = " || ' ' || ".join(
        f"w[i+{j + 1}]" for j in range(SHINGLE_N)
    )
    return f"""
        WITH words AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id, s FROM words,
            UNNEST(list_transform(range(len(w) - {SHINGLE_N - 1}),
                   i -> {shingle_expr})) AS t(s)
          WHERE len(w) >= {SHINGLE_N}
        ),
        g AS (SELECT doc_id, md5(s) AS g FROM sh),
        sig AS MATERIALIZED (
          SELECT doc_id,
                 {mins}
          FROM g GROUP BY doc_id
        ),
        bands AS MATERIALIZED (
          {band_selects}
        ),
        crs AS (
          SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS base_doc,
                 {agree} AS agree
          FROM bands a JOIN bands b
            ON b.band_id = a.band_id AND b.key = a.key
          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
            AND {agree} >= 8
        ),
        hits AS (
          SELECT new_doc, CAST(COUNT(*) AS BIGINT) AS n_matches,
                 MIN((16 - agree) * {_XC_PACK} + base_doc) AS pk
          FROM crs GROUP BY new_doc
        )
        SELECT d.doc_id AS new_doc,
               COALESCE(h.n_matches, 0) AS n_matches,
               CAST(16 - h.pk // {_XC_PACK} AS INTEGER) AS best_agree,
               CAST(h.pk % {_XC_PACK} AS BIGINT) AS best_base,
               h.pk IS NOT NULL AS is_dup
        FROM documents d LEFT JOIN hits h ON h.new_doc = d.doc_id
        WHERE d.doc_id % 10 = 0
    """


@register(
    "q_dedup_cross_corpus",
    cost=2,
    category="dedup",
    doc=(
        "Cross-corpus fuzzy dedup — the crawl-refresh decision every "
        "continuously-trained pipeline runs: incoming documents "
        "(doc_id % 10 = 0 plays the new crawl) are MinHash-banded "
        "against the existing corpus ONLY (operators/dedup.py::"
        "md5_minhash_cross_dups — a one-sided band equi-join, work = "
        "|new| x bucket occupancy, never a self-join over the union), "
        "and each incoming doc resolves to a linear admit/reject row: "
        "match count, best agreement (exact /16 fraction as an int), "
        "deterministic best base match via a packed integer arg-min. "
        "md5 family end-to-end, so the oracle replays shingles -> "
        "signatures -> bands -> cross join -> decision value-for-"
        "value. Linear output (one row per incoming doc) — the "
        "PAIRS-output rule never engages."
    ),
    oracle=_cross_dedup_oracle(),
)
def q_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import md5_minhash_cross_dups

    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 10 == 0)
    base_docs = docs.filter(F.col("doc_id") % 10 != 0)
    matches = md5_minhash_cross_dups(
        new_docs, base_docs, threshold=0.5
    ).select(
        "new_doc",
        "base_doc",
        F.expr("CAST(ROUND(est_jaccard * 16) AS BIGINT)").alias("agree"),
    )
    hits = matches.groupBy("new_doc").agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.min(
            F.expr(f"(16 - agree) * {_XC_PACK} + base_doc")
        ).alias("pk"),
    )
    return (
        new_docs.select(F.col("doc_id").alias("new_doc"))
        .join(hits, "new_doc", "left")
        .select(
            "new_doc",
            F.coalesce(F.col("n_matches"), F.lit(0).cast("bigint")).alias(
                "n_matches"
            ),
            F.expr(f"CAST(16 - pk div {_XC_PACK} AS INT)").alias(
                "best_agree"
            ),
            F.expr(f"CAST(pk % {_XC_PACK} AS BIGINT)").alias("best_base"),
            F.col("pk").isNotNull().alias("is_dup"),
        )
    )


# ---------------------------------------------------- round 11, batch 68

_KANON_K = 5
_LDIV_L = 3


@register(
    "q_kanonymity_audit",
    cost=1,
    category="governance",
    doc=(
        "k-anonymity / l-diversity audit over the customer quasi-"
        "identifiers (nation x market segment): per-QI-group size, "
        "distinct-sensitive-value count (account balance in 1000-unit "
        "bins), and the k<5 / l<3 violation flags — the re-"
        "identification risk report a privacy review runs before a "
        "dataset ships. The FULL group table is emitted (bounded at "
        "|nations| x |segments| rows at any corpus size), not just "
        "violators, so the oracle check never goes vacuous at small "
        "SF (the r10 collocations lesson). One map-side-combined "
        "rollup; exact integers only."
    ),
    oracle=f"""
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS group_size,
               CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
                    AS BIGINT) AS l_diversity,
               COUNT(*) < {_KANON_K} AS k_violation,
               CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
                    AS BIGINT) < {_LDIV_L} AS l_violation
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    """,
)
def q_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    sens = F.expr("CAST(FLOOR(c_acctbal / 1000) AS BIGINT)")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("group_size"),
            F.countDistinct(sens).cast("bigint").alias("l_diversity"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            "l_diversity",
            (F.col("group_size") < _KANON_K).alias("k_violation"),
            (F.col("l_diversity") < _LDIV_L).alias("l_violation"),
        )
    )


@register(
    "q_freshness_lag",
    cost=1,
    category="governance",
    doc=(
        "Per-stream freshness audit — the staleness monitor a "
        "data-platform SLO dashboard reads: per event type, the last "
        "event time and its lag behind the globally freshest event, "
        "computed in exact microseconds (unix_micros subtraction — "
        "never cast('long'), which truncates to seconds; the "
        "tests/test_testdata_canary.py rule) with the single terminal "
        "division to seconds. Two tiny rollups, the global max "
        "broadcast back on."
    ),
    oracle="""
        WITH per AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 MAX(ts) AS last_ts,
                 MAX(epoch_us(ts)) AS last_us
          FROM events GROUP BY event_type
        ),
        g AS (SELECT MAX(last_us) AS global_us FROM per)
        SELECT event_type, n_events, last_ts,
               CAST(g.global_us - per.last_us AS BIGINT) AS lag_us,
               CAST(g.global_us - per.last_us AS DOUBLE) / 1000000
                 AS lag_seconds
        FROM per CROSS JOIN g
    """,
)
def q_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("ts").alias("last_ts"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    g = per.agg(F.max("last_us").alias("global_us"))
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        "last_ts",
        (F.col("global_us") - F.col("last_us")).cast("bigint").alias(
            "lag_us"
        ),
        F.expr(
            "CAST(global_us - last_us AS DOUBLE) / 1000000"
        ).alias("lag_seconds"),
    )


# ---------------------------------------------------- round 11, batch 69

_MAXSIM_TOKS = 4  # token vectors per group (multi-vector doc/query)
_MAXSIM_K = 5


@register(
    "q_maxsim_late_interaction",
    cost=2,
    category="similarity",
    doc=(
        "ColBERT-style late-interaction retrieval (Khattab & Zaharia "
        "'20): consecutive embedding rows group into multi-vector "
        "units of 4 token vectors (vec_id div 4 = unit, vec_id % 4 = "
        "token slot); score(q, d) = sum over query tokens of the max "
        "dot product against d's token vectors. Every dot product is "
        "the bit-exact primitive (Spark aggregate(zip_with) in "
        "doubles == DuckDB list_dot_product on DOUBLE[] — the "
        "q_dedup_embedding discipline), max-selection is exact, and "
        "the 4-term sum is a FIXED-ORDER expression over pivoted "
        "slots (m0+m1+m2+m3 — the PQ-ADC rule: never a float groupBy "
        "SUM whose association depends on partitioning), so the "
        "MaxSim double itself is hash-stable. Top-5 per query via "
        "the bucketed per-group rank (no single-task sort). Scale: "
        "queries broadcast against doc tokens — one linear pass, "
        "candidate pruning (an ANN front like the LSH entries) slots "
        "in before this exact re-rank at larger k."
    ),
    oracle=f"""
        WITH v AS (
          SELECT vec_id // {_MAXSIM_TOKS} AS g,
                 vec_id % {_MAXSIM_TOKS} AS tok,
                 CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
        ),
        full_g AS (
          SELECT g FROM v GROUP BY g HAVING COUNT(*) = {_MAXSIM_TOKS}
        ),
        q AS (
          SELECT g AS qg, tok AS qi, e AS qe
          FROM v JOIN full_g USING (g) WHERE g <= 1
        ),
        d AS (
          SELECT g AS dg, tok AS dj, e AS de
          FROM v JOIN full_g USING (g) WHERE g > 1
        ),
        dots AS (
          SELECT qg, dg, qi, MAX(list_dot_product(qe, de)) AS m
          FROM q JOIN d ON true GROUP BY qg, dg, qi
        ),
        ms AS (
          SELECT qg, dg,
                 MAX(CASE WHEN qi = 0 THEN m END)
                 + MAX(CASE WHEN qi = 1 THEN m END)
                 + MAX(CASE WHEN qi = 2 THEN m END)
                 + MAX(CASE WHEN qi = 3 THEN m END) AS maxsim
          FROM dots GROUP BY qg, dg
        )
        SELECT qg, dg, maxsim, CAST(rk AS INTEGER) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qg
                       ORDER BY maxsim DESC, dg) AS rk
          FROM ms
        ) WHERE rk <= {_MAXSIM_K}
    """,
)
def q_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        F.expr(f"vec_id div {_MAXSIM_TOKS}").alias("g"),
        F.expr(f"vec_id % {_MAXSIM_TOKS}").alias("tok"),
        F.expr(
            "transform(embedding, x -> CAST(x AS DOUBLE))"
        ).alias("e"),
    )
    full_g = v.groupBy("g").count().filter(
        F.col("count") == _MAXSIM_TOKS
    ).select("g")
    v = v.join(full_g, "g")
    q = v.filter(F.col("g") <= 1).select(
        F.col("g").alias("qg"), F.col("tok").alias("qi"), F.col("e").alias("qe")
    )
    d = v.filter(F.col("g") > 1).select(
        F.col("g").alias("dg"), F.col("tok").alias("dj"), F.col("e").alias("de")
    )
    dots = (
        d.crossJoin(F.broadcast(q))
        .select(
            "qg",
            "dg",
            "qi",
            F.expr(
                "aggregate(zip_with(qe, de, (x, y) -> x * y),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias("dot"),
        )
        .groupBy("qg", "dg", "qi")
        .agg(F.max("dot").alias("m"))
    )
    ms = dots.groupBy("qg", "dg").agg(
        (
            F.max(F.when(F.col("qi") == 0, F.col("m")))
            + F.max(F.when(F.col("qi") == 1, F.col("m")))
            + F.max(F.when(F.col("qi") == 2, F.col("m")))
            + F.max(F.when(F.col("qi") == 3, F.col("m")))
        ).alias("maxsim")
    )
    # maxsim is a double whose every value is bit-exact across engines,
    # so the (maxsim DESC, dg) order is total and engine-stable. The
    # per-qg rank window has 2 low-cardinality partitions — acceptable
    # here because at scale an ANN candidate front bounds what reaches
    # this exact re-rank, exactly like the LSH re-rank entries.
    from pyspark.sql.window import Window

    w = Window.partitionBy("qg").orderBy(F.desc("maxsim"), "dg")
    return (
        ms.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _MAXSIM_K)
        .select("qg", "dg", "maxsim", "rk")
    )


# ---------------------------------------------------- round 11, batch 70

_EVAL_QUERIES = 16  # vec_id < 16 are the pinned evaluation queries
_EVAL_K = 10
# 1/rank scaled by lcm(1..10) — exact integer reciprocal ranks
_MRR_LCM = 2520
# DCG position weights: round(1e9 / log2(i+1)), PINNED as literals so
# both engines use identical integers and no transcendental enters
# either plan (computed once here, at import time, in Python).
import math as _math

_DCG_W = [round(1e9 / _math.log2(i + 1)) for i in range(1, _EVAL_K + 1)]

_COSINE_SQL = (
    "list_dot_product(qe, de)"
    " / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(de, de)))"
)

_SCORED_CTE = f"""
        e AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve
          FROM embeddings
        ),
        q AS (
          SELECT vec_id AS qid, label AS lq, ve AS qe FROM e
          WHERE vec_id < {_EVAL_QUERIES}
        ),
        d AS (SELECT vec_id AS did, label AS ld, ve AS de FROM e),
        scored AS MATERIALIZED (
          SELECT qid, lq, did, ld, rk FROM (
            SELECT qid, lq, did, ld,
                   ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY {_COSINE_SQL} DESC, did) AS rk
            FROM q JOIN d ON did != qid
          ) WHERE rk <= {_EVAL_K}
        )
"""


def _scored_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine candidates per pinned evaluation query with ranks
    — every cosine is a fixed-order chain of bit-exact ops (fold dot,
    correctly-rounded sqrt, one multiply, one divide), so the
    (cosine DESC, did) rank order is total and engine-stable."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("ve"),
    )
    q = emb.filter(F.col("vec_id") < _EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("lq"),
        F.col("ve").alias("qe"),
    )
    d = emb.select(
        F.col("vec_id").alias("did"),
        F.col("label").alias("ld"),
        F.col("ve").alias("de"),
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cosine = F.expr(
        f"{dot.format(a='qe', b='de')}"
        f" / (sqrt({dot.format(a='qe', b='qe')})"
        f" * sqrt({dot.format(a='de', b='de')}))"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "did")
    return (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("did") != F.col("qid"))
        .select("qid", "lq", "did", "ld", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _EVAL_K)
        .select("qid", "lq", "did", "ld", "rk")
    )


@register(
    "q_mrr_eval",
    cost=1,
    category="evaluation",
    doc=(
        "Mean-reciprocal-rank retrieval evaluation over the pinned "
        "query set (vec_id < 16, relevant = same label): top-10 "
        "cosine candidates per query (every cosine a fixed-order "
        "chain of bit-exact ops, so ranks are engine-stable), first "
        "relevant rank per query, and the reciprocal rank as the "
        "EXACT integer 2520/rank (lcm(1..10) scaling — no float sum "
        "anywhere; the terminal double is one division). Per-query "
        "rows, so the check is non-vacuous regardless of how many "
        "queries find a relevant hit."
    ),
    oracle=f"""
        WITH {_SCORED_CTE},
        firstrel AS (
          SELECT qid, MIN(rk) AS first_rel_rank
          FROM scored WHERE ld = lq GROUP BY qid
        )
        SELECT q.qid AS query_id,
               CAST(f.first_rel_rank AS INTEGER) AS first_rel_rank,
               CAST(COALESCE({_MRR_LCM} // f.first_rel_rank, 0)
                    AS BIGINT) AS rr_fp,
               CAST(COALESCE({_MRR_LCM} // f.first_rel_rank, 0) AS DOUBLE)
                 / {_MRR_LCM} AS reciprocal
        FROM (SELECT DISTINCT qid FROM scored) q
        LEFT JOIN firstrel f USING (qid)
    """,
)
def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored_candidates(spark, sf_dir).localCheckpoint()
    firstrel = (
        scored.filter(F.col("ld") == F.col("lq"))
        .groupBy("qid")
        .agg(F.min("rk").alias("first_rel_rank"))
    )
    return (
        scored.select("qid")
        .distinct()
        .join(firstrel, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.col("first_rel_rank").cast("int").alias("first_rel_rank"),
            F.coalesce(
                F.expr(f"{_MRR_LCM} div first_rel_rank"), F.lit(0)
            )
            .cast("bigint")
            .alias("rr_fp"),
            (
                F.coalesce(
                    F.expr(f"{_MRR_LCM} div first_rel_rank"), F.lit(0)
                ).cast("double")
                / _MRR_LCM
            ).alias("reciprocal"),
        )
    )


@register(
    "q_ndcg_eval",
    cost=1,
    category="evaluation",
    doc=(
        "NDCG@10 with graded relevance (grade = 3 - min(3, |label "
        "distance|)) over the pinned query set: DCG accumulates "
        "grade x weight with the position weights round(1e9/log2(i+1)) "
        "PINNED as integer literals at registration (no transcendental "
        "in either engine's plan), IDCG re-ranks the same grades "
        "descending, both as exact BIGINT sums; ndcg is the single "
        "terminal division. The ideal order ties break on the "
        "retrieved rank, stated identically on both sides."
    ),
    oracle=f"""
        WITH {_SCORED_CTE},
        graded AS (
          SELECT qid, rk, 3 - least(3, abs(lq - ld)) AS rel
          FROM scored
        ),
        ideal AS (
          SELECT qid, rel,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY rel DESC, rk) AS irk
          FROM graded
        ),
        w(pos, wt) AS (VALUES {", ".join(f"({i + 1}, {w})" for i, w in enumerate(_DCG_W))}),
        dcg AS (
          SELECT g.qid, CAST(SUM(g.rel * w.wt) AS BIGINT) AS dcg_fp
          FROM graded g JOIN w ON w.pos = g.rk GROUP BY g.qid
        ),
        idcg AS (
          SELECT i.qid, CAST(SUM(i.rel * w.wt) AS BIGINT) AS idcg_fp
          FROM ideal i JOIN w ON w.pos = i.irk GROUP BY i.qid
        )
        SELECT dcg.qid AS query_id, dcg.dcg_fp, idcg.idcg_fp,
               CASE WHEN idcg.idcg_fp > 0
                    THEN CAST(dcg.dcg_fp AS DOUBLE)
                         / CAST(idcg.idcg_fp AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS ndcg
        FROM dcg JOIN idcg ON idcg.qid = dcg.qid
    """,
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = _scored_candidates(spark, sf_dir).localCheckpoint()
    graded = scored.select(
        "qid",
        "rk",
        F.expr("3 - least(3, abs(lq - ld))").alias("rel"),
    )
    wi = Window.partitionBy("qid").orderBy(F.desc("rel"), "rk")
    ideal = graded.withColumn("irk", F.row_number().over(wi))
    w_rows = [(i + 1, wt) for i, wt in enumerate(_DCG_W)]
    wdf = F.broadcast(
        local_frame(scored.sparkSession, w_rows, "pos int, wt bigint")
    )
    dcg = (
        graded.join(wdf, graded.rk == wdf.pos)
        .groupBy("qid")
        .agg(F.sum(F.expr("rel * wt")).cast("bigint").alias("dcg_fp"))
    )
    idcg = (
        ideal.join(wdf, ideal.irk == wdf.pos)
        .groupBy("qid")
        .agg(F.sum(F.expr("rel * wt")).cast("bigint").alias("idcg_fp"))
    )
    return (
        dcg.join(idcg, "qid")
        .select(
            F.col("qid").alias("query_id"),
            "dcg_fp",
            "idcg_fp",
            F.expr(
                "CASE WHEN idcg_fp > 0 THEN CAST(dcg_fp AS DOUBLE)"
                " / CAST(idcg_fp AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
            ).alias("ndcg"),
        )
    )


# ---------------------------------------------------- round 11, batch 71

_WEEK_US = 7 * 24 * 3600 * 1_000_000
_EPOCH0_US = 1704067200000000  # 2024-01-01 00:00:00 UTC in microseconds
_NEG_QUERIES = 32
_NEG_SLOTS = 5


@register(
    "q_label_churn",
    cost=1,
    category="prep",
    doc=(
        "Supervised churn-label generation — the label pipeline a "
        "retention model trains on: per (user, week) activity rollup "
        "(weeks = exact integer microsecond arithmetic from the "
        "pinned 2024-01-01 epoch, unix_micros — never second-"
        "truncating casts), label churned = the user has NO event in "
        "the following week, read off lead(week) over the per-user "
        "week sequence (no self-join). The final observed week per "
        "user is censored (label undefined) and excluded, stated "
        "identically on both sides. Pre-epoch events are filtered on "
        "BOTH sides (Spark div truncates toward zero, DuckDB // "
        "floors — they only agree for non-negative operands, the "
        "ranks.py constraint). Global max week via agg + broadcast "
        "crossJoin — never an unpartitioned window (single-task "
        "funnel). One rollup + one user-partitioned window."
    ),
    oracle=f"""
        WITH w AS (
          SELECT user_id,
                 (epoch_us(ts) - {_EPOCH0_US}) // {_WEEK_US} AS week,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events
          WHERE epoch_us(ts) >= {_EPOCH0_US}
          GROUP BY 1, 2
        ),
        led AS (
          SELECT user_id, week, n_events,
                 LEAD(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS next_week
          FROM w
        ),
        g AS (SELECT MAX(week) AS max_week FROM w)
        SELECT user_id, CAST(week AS BIGINT) AS week, n_events,
               next_week IS NULL OR next_week > week + 1 AS churned
        FROM led CROSS JOIN g WHERE week < max_week
    """,
)
def q_label_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events").filter(
        F.unix_micros("ts") >= F.lit(_EPOCH0_US)
    )
    w = events.groupBy(
        "user_id",
        F.expr(
            f"(unix_micros(ts) - {_EPOCH0_US}) div {_WEEK_US}"
        ).alias("week"),
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    wu = Window.partitionBy("user_id").orderBy("week")
    led = w.select(
        "user_id",
        "week",
        "n_events",
        F.lead("week").over(wu).alias("next_week"),
    )
    g = w.agg(F.max("week").alias("max_week"))
    return led.crossJoin(F.broadcast(g)).filter(
        F.col("week") < F.col("max_week")
    ).select(
        "user_id",
        F.col("week").cast("bigint").alias("week"),
        "n_events",
        (
            F.col("next_week").isNull()
            | (F.col("next_week") > F.col("week") + 1)
        ).alias("churned"),
    )


@register(
    "q_negative_sampling",
    cost=1,
    category="prep",
    doc=(
        "Hash-reproducible negative sampling for contrastive training "
        "— per pinned query (vec_id < 32), 5 pseudo-uniform negatives "
        "drawn by md5(query||slot) mod corpus size (rerolled +1 once "
        "if the draw hits the query itself), each audited for label "
        "collision (a false negative that shares the query's label). "
        "Deterministic under any partitioning/rerun — the rand()-free "
        "sampling discipline of q_sample_hash applied to pair mining; "
        "the negative join is a broadcast of 160 draw rows against "
        "the id-keyed corpus."
    ),
    oracle=f"""
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs
                   FROM embeddings),
        q AS (
          SELECT vec_id AS query_id, label AS ql FROM embeddings
          WHERE vec_id < {_NEG_QUERIES}
        ),
        draws AS (
          SELECT query_id, ql, s.slot,
                 ('0x' || substr(md5(CAST(query_id AS VARCHAR) || '-'
                        || CAST(s.slot AS VARCHAR)), 1, 8))::BIGINT
                   % n.n_vecs AS raw
          FROM q CROSS JOIN n,
               (SELECT UNNEST(range({_NEG_SLOTS})) AS slot) s
        ),
        fixed AS (
          SELECT query_id, ql, CAST(slot AS INTEGER) AS slot,
                 CASE WHEN raw = query_id
                      THEN (raw + 1) % (SELECT n_vecs FROM n)
                      ELSE raw END AS neg_id
          FROM draws
        )
        SELECT f.query_id, f.slot, CAST(f.neg_id AS BIGINT) AS neg_id,
               e.label = f.ql AS label_collision
        FROM fixed f JOIN embeddings e ON e.vec_id = f.neg_id
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count("*").cast("bigint").alias("n_vecs"))
    q = emb.filter(F.col("vec_id") < _NEG_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
    )
    slots = emb.sparkSession.range(_NEG_SLOTS).select(
        F.col("id").cast("int").alias("slot")
    )
    draws = (
        q.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(slots))
        .select(
            "query_id",
            "ql",
            "slot",
            "n_vecs",
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(query_id AS STRING),"
                " '-', CAST(slot AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                " % n_vecs"
            ).alias("raw"),
        )
    )
    fixed = draws.select(
        "query_id",
        "ql",
        "slot",
        F.expr(
            "CASE WHEN raw = query_id THEN (raw + 1) % n_vecs"
            " ELSE raw END"
        ).cast("bigint").alias("neg_id"),
    )
    return (
        emb.select("vec_id", "label")
        .join(F.broadcast(fixed), F.col("vec_id") == F.col("neg_id"))
        .select(
            "query_id",
            "slot",
            "neg_id",
            (F.col("label") == F.col("ql")).alias("label_collision"),
        )
    )


# ---------------------------------------------------- round 11, batch 72

# exact fixed-point image of the event value: one multiply + one
# truncation, the same two IEEE/integer ops in both engines (ROUND is
# banned per-row — HALF_UP vs binary rounding diverges; trunc does not)
_VFP = "CAST(value * 1000000 AS BIGINT)"
_VFP_DUCK = "CAST(trunc(value * 1000000) AS BIGINT)"


@register(
    "q_quantile_normalize",
    cost=1,
    category="statistics",
    doc=(
        "Per-type quantile normalization of the event value — the "
        "rank-based feature transform (quantile scaling) a feature "
        "store applies to heavy-tailed inputs: rank key is the exact "
        "fixed-point value image (trunc(value*1e6) — per-row ROUND is "
        "banned, truncation of the same double is engine-exact) with "
        "event_id tiebreak, ranked per type by "
        "bucketed_global_row_number (partition_by=['event_type'] — "
        "the low-cardinality-partition rule: 5 types would otherwise "
        "funnel the corpus through 5 window tasks); qn = (rn-1)/(n-1) "
        "is the single terminal division."
    ),
    oracle=f"""
        WITH v AS (
          SELECT event_id, event_type, value,
                 {_VFP_DUCK} AS v_fp
          FROM events
        ),
        r AS (
          SELECT event_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY v_fp, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM v
        )
        SELECT event_id, event_type, value,
               CAST(rn AS BIGINT) AS rn,
               CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS qn
        FROM r
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.ranks import bucketed_global_row_number

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", F.expr(_VFP).alias("v_fp")
    )
    ranked = bucketed_global_row_number(
        events,
        "v_fp",
        "event_id",
        shift=0,
        descending=False,
        partition_by=["event_type"],
    )
    return ranked.select(
        "event_id",
        "event_type",
        "value",
        F.col("rn").cast("bigint").alias("rn"),
        F.expr(
            "CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)"
        ).alias("qn"),
    )


@register(
    "q_winsorize_clip",
    cost=1,
    category="statistics",
    doc=(
        "Per-type winsorization at p01/p99 — outlier clipping before "
        "model features, via the value-HISTOGRAM trick (the r9 rule: "
        "a value at a global rank never needs per-row ranks — ties "
        "make tie order irrelevant to the VALUE): per (type, "
        "fixed-point value) counts, a prefix sum over the bounded "
        "distinct-value table, exact ceil thresholds k = (p*n + 99) "
        "div 100, clip bounds = min value whose cumulative count "
        "reaches k, then a broadcast join clips every row with "
        "least/greatest — no row-level window anywhere."
    ),
    oracle=f"""
        WITH v AS (
          SELECT event_id, event_type, value, {_VFP_DUCK} AS v_fp
          FROM events
        ),
        h AS (
          SELECT event_type, v_fp, CAST(COUNT(*) AS BIGINT) AS c
          FROM v GROUP BY event_type, v_fp
        ),
        cum AS (
          SELECT event_type, v_fp,
                 SUM(c) OVER (PARTITION BY event_type ORDER BY v_fp) AS cc,
                 SUM(c) OVER (PARTITION BY event_type) AS n
          FROM h
        ),
        bounds AS (
          SELECT event_type,
                 MIN(CASE WHEN cc >= (n + 99) // 100
                          THEN v_fp END) AS lo_fp,
                 MIN(CASE WHEN cc >= (99 * n + 99) // 100
                          THEN v_fp END) AS hi_fp
          FROM cum GROUP BY event_type
        )
        SELECT v.event_id, v.event_type, v.value,
               CAST(b.lo_fp AS BIGINT) AS lo_fp,
               CAST(b.hi_fp AS BIGINT) AS hi_fp,
               CAST(least(greatest(v.v_fp, b.lo_fp), b.hi_fp) AS BIGINT)
                 AS clipped_fp,
               CAST(least(greatest(v.v_fp, b.lo_fp), b.hi_fp) AS DOUBLE)
                 / 1000000 AS clipped
        FROM v JOIN bounds b USING (event_type)
    """,
)
def q_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", F.expr(_VFP).alias("v_fp")
    )
    h = events.groupBy("event_type", "v_fp").agg(
        F.count("*").cast("bigint").alias("c")
    )
    # the window runs over the DISTINCT-value table (bounded by value
    # cardinality, not corpus size) — the value-histogram discipline
    wc = Window.partitionBy("event_type").orderBy("v_fp")
    cum = h.select(
        "event_type",
        "v_fp",
        F.sum("c").over(
            wc.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cc"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    bounds = cum.groupBy("event_type").agg(
        F.min(
            F.when(
                F.expr("cc >= (n + 99) div 100"), F.col("v_fp")
            )
        ).alias("lo_fp"),
        F.min(
            F.when(
                F.expr("cc >= (99 * n + 99) div 100"), F.col("v_fp")
            )
        ).alias("hi_fp"),
    )
    return events.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.col("lo_fp").cast("bigint").alias("lo_fp"),
        F.col("hi_fp").cast("bigint").alias("hi_fp"),
        F.expr("CAST(least(greatest(v_fp, lo_fp), hi_fp) AS BIGINT)").alias(
            "clipped_fp"
        ),
        F.expr(
            "CAST(least(greatest(v_fp, lo_fp), hi_fp) AS DOUBLE) / 1000000"
        ).alias("clipped"),
    )


# ---------------------------------------------------- round 11, batch 73


@register(
    "q_hard_negatives",
    cost=1,
    category="prep",
    doc=(
        "Hard-negative mining for contrastive training — the "
        "complement of q_negative_sampling's uniform draws: from each "
        "pinned query's engine-stable cosine top-10 (the "
        "q_mrr_eval/q_ndcg_eval candidate machinery), keep the 3 "
        "highest-ranked WRONG-label neighbors — semantically close "
        "but negative, the pairs that actually move a contrastive "
        "loss. Rank re-numbering inside the filtered set rides the "
        "already-total retrieved order, so everything stays exact."
    ),
    oracle=f"""
        WITH {_SCORED_CTE},
        wrong AS (
          SELECT qid, did, ld, rk,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rk)
                   AS neg_rank
          FROM scored WHERE ld != lq
        )
        SELECT qid AS query_id, did AS neg_id,
               CAST(ld AS INTEGER) AS neg_label,
               CAST(rk AS INTEGER) AS retrieved_rank,
               CAST(neg_rank AS INTEGER) AS neg_rank
        FROM wrong WHERE neg_rank <= 3
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = _scored_candidates(spark, sf_dir)
    wrong = scored.filter(F.col("ld") != F.col("lq"))
    w = Window.partitionBy("qid").orderBy("rk")
    return (
        wrong.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
        .select(
            F.col("qid").alias("query_id"),
            F.col("did").alias("neg_id"),
            F.col("ld").cast("int").alias("neg_label"),
            F.col("rk").cast("int").alias("retrieved_rank"),
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
    )
