"""Round-12 training-pipeline operators (SURVEY §2 batch 76).

Five first-class LLM-data-pipeline ops the catalog did not yet cover,
each JVM-expression-only (no Python on any path) and hash-gated:

* q_event_debounce      — first-event-per-burst keep filter (the
                          telemetry debounce every event pipeline runs
                          before sessionization);
* q_dedup_prefix_tokens — first-K-token prefix-hash dedup resolved to
                          clusters (the cheap crawl-pipeline pre-pass
                          ahead of MinHash; measured non-degenerate on
                          this corpus: max cluster 4 at sf0.1);
* q_span_corruption     — deterministic MLM-style token corruption
                          audit (mask token i of doc d iff
                          md5(d,i) % 5 == 0): counts + an order-free
                          XOR fingerprint of the masked positions;
* q_embed_dim_stats     — per-dimension exact moments of the embedding
                          matrix (dimension-collapse QA): components
                          quantized to 1e4 fixed-point ONCE, BIGINT
                          linear sums (the PSI discipline — s2 stays
                          in-range to ~6e11 rows), variance as ONE
                          fixed-order double expression;
* q_regex_funcs         — the regex function surface (count / extract /
                          extract_all / global replace) cross-checked
                          against DuckDB's RE2 on class-only patterns
                          (dialect-safe subset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.session import pinned_confs
from kafka_s3_etl_spark.sources.tables import load_table

_DEBOUNCE_US = 300_000_000  # 5 minutes


@register(
    "q_event_debounce",
    category="temporal",
    doc=(
        "Debounce: keep an event iff the previous event of the same "
        "(user_id, event_type) is more than 5 minutes older (or "
        "absent) — the burst-collapse a telemetry pipeline applies "
        "before sessionization/attribution. One lag window over a "
        "total order (ts, event_id — ties made deterministic by the "
        "unique id), exact microsecond arithmetic (unix_micros, never "
        "second-truncating casts). Scale: partitioned by "
        "(user_id, event_type) — no global funnel."
    ),
    oracle=f"""
        WITH lagged AS (
          SELECT event_id, user_id, event_type, ts,
                 LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS prev_us
          FROM events
        )
        SELECT event_id, user_id, event_type, ts
        FROM lagged
        WHERE prev_us IS NULL
           OR epoch_us(ts) - prev_us > {_DEBOUNCE_US}
    """,
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = events.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    )
    return lagged.filter(
        F.col("prev_us").isNull()
        | (F.unix_micros("ts") - F.col("prev_us") > _DEBOUNCE_US)
    ).select("event_id", "user_id", "event_type", "ts")


_PREFIX_K = 8


@register(
    "q_dedup_prefix_tokens",
    category="dedup",
    doc=(
        "First-K-token prefix-hash dedup, resolved to CLUSTERS (the "
        "house pairs rule): md5 of the first 8 whitespace tokens keys "
        "each document; groups with >= 2 docs are near-certain "
        "head-duplicates (the cheap crawl-pipeline pre-pass ahead of "
        "MinHash — CCNet runs exactly this shape on paragraph heads). "
        "Measured on this corpus before registration (house rule): "
        "500 docs -> 476 prefixes, max cluster 3 at sf0.01; 4 at "
        "sf0.1 — not degenerate. Output: one row per duplicate "
        "cluster (prefix key, size, min-doc_id representative). "
        "Scale: one map-side md5 + one groupBy on the 32-char key."
    ),
    oracle=f"""
        SELECT md5(array_to_string(
                 list_slice(string_split(text, ' '), 1, {_PREFIX_K}), ' '))
                 AS prefix_key,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS rep_doc_id
        FROM documents
        GROUP BY 1 HAVING COUNT(*) >= 2
    """,
)
def q_dedup_prefix_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.md5(
                F.array_join(
                    F.slice(F.split("text", " "), 1, _PREFIX_K), " "
                )
            ).alias("prefix_key"),
        )
        .groupBy("prefix_key")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "q_span_corruption",
    category="prep",
    doc=(
        "Deterministic MLM-style corruption audit (the BERT/T5 "
        "denoising-objective mask, made reproducible): token i of doc "
        "d is masked iff the first 8 hex chars of md5(d || '-' || i) "
        "taken as an integer are divisible by 5 — a partition- and "
        "rerun-independent ~20% draw (the q_sample_hash discipline "
        "applied per token). Per doc: token count, masked count, and "
        "an ORDER-FREE fingerprint of the masked positions "
        "(bit_xor of the draw integers, identity 0 — SUM would "
        "overflow, the CLAUDE.md rule). Scale: map-side explode + one "
        "combinable agg keyed by doc_id."
    ),
    oracle="""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS l FROM documents
        ),
        pos AS (
          SELECT doc_id, CAST(i + 1 AS BIGINT) AS p,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' ||
                        CAST(i + 1 AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM toks, UNNEST(range(len(l))) AS t(i)
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN h % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_masked,
               BIT_XOR(CASE WHEN h % 5 = 0 THEN h ELSE 0 END) AS mask_fp
        FROM pos GROUP BY doc_id
    """,
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i", "tok"),
    ).select(
        "doc_id",
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '-', "
            "CAST(i + 1 AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    return pos.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("h") % 5 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_masked"),
        F.expr("bit_xor(CASE WHEN h % 5 = 0 THEN h ELSE 0 END)").alias(
            "mask_fp"
        ),
    )


_DIM_Q = 10_000  # 1e4 fixed-point: s2 stays in BIGINT range to ~6e11 rows


@register(
    "q_embed_dim_stats",
    category="quality",
    doc=(
        "Per-dimension exact moments of the embedding matrix — the "
        "dimension-collapse / dead-dimension QA a retrieval pipeline "
        "runs on every new encoder: components quantized ONCE to 1e4 "
        "fixed-point (float32 -> double is exact; *1e4 and floor are "
        "single IEEE ops, identical cross-engine), then BIGINT linear "
        "sums per dim (the PSI per-side-linear-sum rule: q*q <= 1.4e7 "
        "keeps s2 in range to ~6e11 rows) and mean/variance as ONE "
        "fixed-order double expression over the exact ints. Scale: "
        "posexplode is map-side; the agg is 64-key combinable."
    ),
    oracle=f"""
        WITH comp AS (
          SELECT CAST(i AS INTEGER) AS dim,
                 CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * {_DIM_Q})
                      AS BIGINT) AS q
          FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
        )
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS s1,
               CAST(SUM(q * q) AS BIGINT) AS s2,
               CAST(SUM(q) AS DOUBLE) / COUNT(*) / {_DIM_Q} AS mean_val,
               (CAST(SUM(q * q) AS DOUBLE) * COUNT(*)
                - CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE))
                 / (CAST(COUNT(*) AS DOUBLE) * COUNT(*))
                 / ({_DIM_Q} * {_DIM_Q}.0) AS var_val
        FROM comp GROUP BY dim
    """,
)
def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim",
        F.floor(F.col("v").cast("double") * _DIM_Q).cast("bigint").alias("q"),
    )
    agg = comp.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("s2"),
    )
    return agg.select(
        "dim",
        "n",
        "s1",
        "s2",
        F.expr(f"CAST(s1 AS DOUBLE) / n / {_DIM_Q}").alias("mean_val"),
        F.expr(
            "(CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * "
            f"CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * n) "
            f"/ ({_DIM_Q} * {_DIM_Q}.0)"
        ).alias("var_val"),
    )


@register(
    "q_regex_funcs",
    category="rowops",
    doc=(
        "Regex function surface (the q_string_funcs sibling): "
        "regexp_count, regexp_extract (first group), size of "
        "regexp_extract_all, and length after a GLOBAL "
        "regexp_replace, cross-checked against DuckDB's RE2 (Spark "
        "is Java regex — the patterns stay in the class-only subset "
        "where the dialects agree; DuckDB's replace needs the "
        "explicit 'g' flag Spark applies by default)."
    ),
    oracle="""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, 's[a-z]+')) AS BIGINT)
                 AS n_s_words,
               regexp_extract(text, '(b[a-z]+)', 1) AS first_b_word,
               CAST(length(regexp_replace(text, '[aeiou]', '', 'g'))
                 AS INTEGER) AS len_novowel
        FROM documents
    """,
)
def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("CAST(regexp_count(text, 's[a-z]+') AS BIGINT)").alias(
            "n_s_words"
        ),
        F.regexp_extract("text", "(b[a-z]+)", 1).alias("first_b_word"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias(
            "len_novowel"
        ),
    )


# ---------------------------------------------------- round 12, batch 77

_BFS_ITERS = 4
_BFS_SEED_MOD = 50


def _bfs_kstep_oracle(iters: int = _BFS_ITERS) -> str:
    """K min-plus relaxation rounds over the md5-pair graph as a
    MATERIALIZED CTE chain (the label_propagation_kstep replay
    pattern) — all integer arithmetic, bit-exact across engines."""
    from kafka_s3_etl_spark.plans.oracleext import _md5_pairs_ctes

    rounds = []
    for t in range(iters):
        rounds.append(f"""
        r{t + 1} AS MATERIALIZED (
          SELECT e.src AS node,
                 CAST(MIN(r.dist + CASE WHEN e.src = e.dst THEN 0 ELSE 1 END)
                      AS BIGINT) AS dist
          FROM edges e JOIN r{t} r ON r.node = e.dst
          GROUP BY e.src
        )""")
    chain = ",".join(rounds)
    return f"""
        WITH {_md5_pairs_ctes()},
        sympairs AS (
          SELECT doc_a AS src, doc_b AS dst FROM thr
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM thr
        ),
        edges AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM sympairs
            UNION ALL
            SELECT doc_id AS src, doc_id AS dst FROM documents
          )
        ),
        r0 AS MATERIALIZED (
          SELECT doc_id AS node, CAST(0 AS BIGINT) AS dist
          FROM documents WHERE doc_id % {_BFS_SEED_MOD} = 0
        ),{chain}
        SELECT node, dist FROM r{iters}
    """


@register(
    "q_graph_bfs_kstep",
    cost=3,
    category="graph",
    doc=(
        "Fixed-4-round BFS distances from a pinned seed set (doc_id % "
        "50 = 0) over the md5-MinHash near-dup graph — the blast-"
        "radius / contamination-reach query (how far does a flagged "
        "document's duplicate neighborhood extend?). Min-plus "
        "relaxation with self-loops carrying settled distances at +0; "
        "unreached nodes absent, never sentinel infinities. Same "
        "MATERIALIZED-CTE replay oracle family as "
        "q_label_propagation_kstep/q_markov_kstep. Scale: per round "
        "one frontier join + a combinable MIN — the same bounded "
        "Pregel-lite shape as the LPA family."
    ),
    oracle=_bfs_kstep_oracle(),
)
def q_graph_bfs_kstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import md5_minhash_near_dups
    from kafka_s3_etl_spark.operators.graph import bfs_kstep
    from kafka_s3_etl_spark.plans.oracleext import _THRESHOLD

    docs = load_table(spark, sf_dir, "documents")
    pairs = md5_minhash_near_dups(docs, threshold=_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    seeds = docs.select("doc_id").filter(
        F.col("doc_id") % _BFS_SEED_MOD == 0
    )
    return bfs_kstep(pairs, docs.select("doc_id"), seeds, iters=_BFS_ITERS)


@register(
    "q_asof_join_nearest",
    category="temporal",
    cost=1,
    doc=(
        "Nearest as-of join (merge_asof direction='nearest'): per "
        "order, the CLOSER of the latest prior and earliest following "
        "event of the matching user, ties to backward — ONE "
        "union-merge with two frames over a single sort (never two "
        "as-of joins re-joined; operators/temporal.py::"
        "_asof_join_nearest), gaps compared in exact microseconds. "
        "Oracle: the SAME single union-merge replayed with LAST/FIRST_"
        "VALUE(IGNORE NULLS) frames over a total (ts, side, event_id) "
        "order + the identical gap CASE — deterministic under ties "
        "where native ASOF is not (the q_asof_join discipline)."
    ),
    oracle="""
        WITH m AS (
          SELECT o_custkey AS k, o_orderdate AS mts, 1 AS side,
                 NULL::BIGINT AS tb, o_orderkey, o_custkey, o_orderdate,
                 NULL::STRUCT(ts TIMESTAMP, event_type VARCHAR) AS r
          FROM orders
          UNION ALL
          SELECT user_id, ts, 0, event_id, NULL, NULL, NULL,
                 {'ts': ts, 'event_type': event_type}
          FROM events
        ), w AS (
          SELECT o_orderkey, o_custkey, o_orderdate, side,
                 LAST_VALUE(r IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY mts, side, tb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS b,
                 FIRST_VALUE(r IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY mts, side, tb
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                 ) AS f
          FROM m
        )
        SELECT o_orderkey, o_custkey, o_orderdate,
               CASE WHEN f IS NULL THEN b.ts
                    WHEN b IS NULL THEN f.ts
                    WHEN epoch_us(o_orderdate) - epoch_us(b.ts)
                         <= epoch_us(f.ts) - epoch_us(o_orderdate)
                    THEN b.ts ELSE f.ts END AS near_ts,
               CASE WHEN f IS NULL THEN b.event_type
                    WHEN b IS NULL THEN f.event_type
                    WHEN epoch_us(o_orderdate) - epoch_us(b.ts)
                         <= epoch_us(f.ts) - epoch_us(o_orderdate)
                    THEN b.event_type ELSE f.event_type END
                 AS near_event_type
        FROM w WHERE side = 1
    """,
)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.temporal import asof_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    events = load_table(spark, sf_dir, "events")
    return asof_join(
        orders,
        events,
        key="o_custkey",
        right_key="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        tiebreak="event_id",
        payload=["event_type"],
        prefix="near_",
        direction="nearest",
    )


@register(
    "q_map_funcs",
    category="rowops",
    doc=(
        "Map-typed function surface (the higher-order-map siblings of "
        "q_array_algebra): per-doc token counts built with "
        "map_from_entries, thinned with map_filter (count >= 2), "
        "transformed with transform_values (squared) — then projected "
        "back to SORTED key/value arrays for the hash (map iteration "
        "order is engine-private; sorted projections are the "
        "deterministic contract). DuckDB twin recomputes from the "
        "token rollup with ordered list aggs — no map type crosses "
        "the comparison."
    ),
    oracle="""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
          FROM documents
        ),
        cnt AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY doc_id, tok
        )
        SELECT doc_id,
               CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END), 0)
                    AS INTEGER) AS n_repeated,
               COALESCE(LIST(tok ORDER BY tok)
                          FILTER (WHERE c >= 2), []) AS rep_tokens,
               COALESCE(LIST(c * c ORDER BY tok)
                          FILTER (WHERE c >= 2), []) AS rep_sq_counts
        FROM cnt GROUP BY doc_id
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    m = cnt.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "c"))
        ).alias("m")
    )
    return m.select(
        "doc_id",
        F.expr(
            "transform_values(map_filter(m, (k, v) -> v >= 2),"
            " (k, v) -> v * v)"
        ).alias("m2"),
    ).select(
        "doc_id",
        F.size("m2").alias("n_repeated"),
        F.sort_array(F.map_keys("m2")).alias("rep_tokens"),
        F.expr(
            "transform(sort_array(map_keys(m2)), k -> element_at(m2, k))"
        ).alias("rep_sq_counts"),
    )


# ---------------------------------------------------- round 12, batch 78

@register(
    "q_image_channel_stats",
    category="multimodal",
    doc=(
        "Per-channel pixel statistics from a REAL image decode — the "
        "white-balance / dead-channel QA a vision corpus runs before "
        "training: parse_ppm decodes each P6 file, numpy reduces each "
        "RGB plane to exact integer stats (3 rows per image) inside "
        "mapInPandas. The oracle recomputes every stat from the "
        "generator's closed form (pixel i of doc d = (d + i) % 256, "
        "channel = i % 3) without touching the binary; the modality "
        "predicate is pushed BELOW the payload generator (mapInPandas "
        "blocks pushdown — the r11 media rule)."
    ),
    oracle="""
        WITH m AS (
          SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
          FROM documents WHERE doc_id % 3 = 0
        ),
        px AS (
          SELECT doc_id,
                 CAST(i % 3 AS INTEGER) AS channel,
                 (doc_id + i) % 256 AS v
          FROM m, UNNEST(range(0, w * h * 3)) AS t(i)
        )
        SELECT doc_id, channel,
               CAST(COUNT(*) AS INTEGER) AS n,
               CAST(SUM(v) AS BIGINT) AS byte_sum,
               CAST(MIN(v) AS INTEGER) AS byte_min,
               CAST(MAX(v) AS INTEGER) AS byte_max
        FROM px GROUP BY doc_id, channel
    """,
)
def q_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.multimodal import (
        channel_stats,
        documents_as_media,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    media = documents_as_media(docs)
    return channel_stats(media.filter(F.col("media_type") == "image"))


# ---------------------------------------------------- round 12, batch 79


@register(
    "q_sql_scripting",
    category="sqlsurface",
    doc=(
        "Spark 4 SQL SCRIPTING surface (BEGIN/END, DECLARE, data-"
        "driven SET from a scalar subquery, IF/THEN control flow): a "
        "two-pass script — pass 1 binds the corpus size to a session "
        "variable, an IF branches on it (a data-dependent plan "
        "decision no single static query can express), pass 2 filters "
        "the rollup by the integer cross-multiplied share floor "
        "(count * denom >= n_total — the corpus-relative-floor rule). "
        "The script returns its final SELECT. Oracle replays the "
        "branch as a CASE over the same exact counts; the one share "
        "division is terminal over exact ints."
    ),
    oracle="""
        WITH g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events),
        t AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events GROUP BY event_type
        )
        SELECT event_type, n_events, n_users,
               CAST(n_events AS DOUBLE) / g.n_total AS share
        FROM t CROSS JOIN g
        WHERE n_events * (CASE WHEN g.n_total > 1000 THEN 200 ELSE 1 END)
              >= g.n_total
    """,
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_script_v"
    )
    # scripting.enabled gates PARSING only — the returned df is an
    # ordinary plan, so set/restore around spark.sql() is leak-free on
    # the shared session (session.pinned_confs).
    with pinned_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql("""
    BEGIN
      DECLARE n_total BIGINT;
      DECLARE min_denom INT DEFAULT 1;
      SET n_total = (SELECT COUNT(*) FROM events_script_v);
      IF n_total > 1000 THEN
        SET min_denom = 200;
      END IF;
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS DOUBLE) / n_total AS share
      FROM events_script_v
      GROUP BY event_type
      HAVING COUNT(*) * min_denom >= n_total;
    END
    """)


# ---------------------------------------------------- round 12, batch 80


@register(
    "q_parameterized_sql",
    category="sqlsurface",
    doc=(
        "Parameterized SQL surface (Spark 3.4+/4): spark.sql named "
        "parameters (the injection-safe :param binding every SQL "
        "front-end needs) plus LATERAL COLUMN ALIAS references in the "
        "SELECT list (avg_price reuses total_cents and n_orders — "
        "resolved left-to-right, no restatement). Values are exact "
        "ROUND-cents arithmetic; the one division chain is terminal."
    ),
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 100 AS avg_price
        FROM orders
        WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
        GROUP BY o_orderpriority
    """,
)
def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_param_v"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               CAST(total_cents AS DOUBLE) / n_orders / 100 AS avg_price
        FROM (
          SELECT o_orderpriority,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders_param_v
          WHERE o_totalprice > :min_price AND o_orderstatus = :status
        )
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000.0, "status": "O"},
    )


# ---------------------------------------------------- round 12, batch 81


@register(
    "q_udf_iterator",
    category="udf",
    doc=(
        "ITERATOR-form scalar pandas UDF "
        "(SQL_SCALAR_PANDAS_ITER_UDF, eval type pinned in "
        "tests/test_llm_ops.py) — the eval mode that amortizes "
        "expensive per-task init (model / tokenizer load) across "
        "Arrow batches: state is built once before the batch loop. "
        "Same tier semantics and oracle family as q_udf_scalar "
        "(the series-form twin)."
    ),
    oracle="""
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_totalprice <= 50000.0 THEN 'low'
                    WHEN o_totalprice <= 150000.0 THEN 'mid'
                    ELSE 'high' END AS tier
        FROM orders
    """,
)
def q_udf_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.udfs import price_tier_iter

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        price_tier_iter("o_totalprice").alias("tier"),
    )


@register(
    "q_udaf_window",
    category="udf",
    doc=(
        "Grouped-agg pandas UDF evaluated as a WINDOW function — the "
        "PythonWindowFunction eval path (q_udaf exercises the same "
        "UDAF shape through applyInPandas; this is the OVER(...) "
        "cell): exact integer cents total per user attached to every "
        "event row over an unbounded frame, then projected distinct. "
        "Exact-int accumulation keeps the hash engine-stable; the "
        "oracle is the groupBy restatement. API cell ONLY — NEVER use "
        "this shape for a plain per-group total in production: every "
        "event row rides the Arrow window path where the groupBy "
        "(q_udaf) touches each group once."
    ),
    oracle="""
        SELECT user_id,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM events GROUP BY user_id
    """,
)
def q_udaf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from kafka_s3_etl_spark.operators.udfs import cents_sum_udaf

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        events.select(
            "user_id", cents_sum_udaf("value").over(w).alias("total_cents")
        )
        .distinct()
    )


@register(
    "q_collated_group",
    category="sqlsurface",
    doc=(
        "Spark 4 COLLATION surface: tokens mixed-cased "
        "deterministically (upper() on even doc_ids), grouped under "
        "the UTF8_LCASE collation — the engine-level case-insensitive "
        "grouping a multilingual corpus rollup wants without a "
        "normalize pass. The group key is projected back through "
        "lower() (a collated group's representative casing is "
        "engine-private); the oracle groups the lower-cased tokens "
        "directly."
    ),
    oracle="""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
          FROM documents
        )
        SELECT lower(CASE WHEN doc_id % 2 = 0 THEN upper(tok) ELSE tok END)
                 AS token,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM toks GROUP BY 1
    """,
)
def q_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("tok"))
        .otherwise(F.col("tok"))
        .alias("mixed")
    )
    return (
        toks.groupBy(F.collate("mixed", "UTF8_LCASE").alias("k"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.lower("k").cast("string").alias("token"), "n")
    )
