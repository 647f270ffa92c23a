"""Round-10 batch 49: statistical text mining — collocation strength
and winnowing fingerprints.

Two corpus-statistics operators a tokenizer/curation pipeline runs
before training:

* ``q_collocations_lift`` — PMI-family collocation mining. The usual
  formulation ranks adjacent pairs by ``log P(x,y)/(P(x)P(y))``; the
  log is monotone, so ranking by the *lift* ratio itself drops the
  transcendental while preserving the order exactly. Every input to
  the ratio is an exact integer from ONE map-side-combined pair
  rollup, and the ratio is evaluated with the identical
  multiply-multiply-divide association on both engines (IEEE-754
  double ops are correctly rounded in the JVM and DuckDB alike, the
  same bit-exactness contract the ``list_dot_product`` oracles rely
  on), so the float CAN enter the driver's hash.
* ``q_winnow_fingerprints`` — winnowing document fingerprints
  (Schleimer, Wilkerson & Aiken, SIGMOD '03 — the MOSS algorithm):
  k-gram hashes, one selected per sliding window of w consecutive
  grams, which guarantees any shared run of ``w + k - 1`` tokens
  between two documents shares at least one fingerprint. We pick the
  *leftmost* minimal (hash, pos) in each window (a valid choice
  function — the guarantee holds for any per-window minimum; the
  struct-min is deterministic and identical across engines, the
  q_attribution arg-min pattern).

Scale shape: both operators explode tokens once and ride a single
doc_id exchange (windows, the per-doc rollups, and the final join all
reuse it); the collocation rollup's distinct-key space is vocab**2, so
everything after the one big shuffle is broadcast-sized. Nothing here
is all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table, local_frame

# Collocation support floor, RELATIVE to corpus size: keep pairs with
# c_xy >= n_pairs / _PAIR_FLOOR_DENOM (0.05% of all adjacent pairs).
# An absolute floor (the r10 _MIN_PAIR=100) filtered EVERYTHING at the
# sf0.01 driver-gate scale, making the oracle check vacuous (ADVICE
# r10); the relative form is expressed as the integer cross-multiply
# c_xy * DENOM >= n_pairs so no division enters either engine.
_PAIR_FLOOR_DENOM = 2000
_GRAM_K = 4  # winnowing k-gram width in tokens
_WINNOW_W = 4  # winnowing window: one fingerprint per w consecutive grams


@register(
    "q_collocations_lift",
    cost=1,
    category="text",
    doc=(
        "Collocation mining by exact lift (the monotone core of PMI, "
        "log dropped so no transcendental enters the hash): adjacent "
        "word pairs roll up map-side-combined ONCE; the marginals c_x "
        "/ c_y and the grand total are re-aggregations of that "
        "vocab^2-row pair table (never a second corpus pass) and ride "
        "broadcast joins back on. lift = (c_xy*N)/(c_x*c_y) as DOUBLE "
        "with pinned association — bit-exact across engines, so the "
        "float is hashable. Support floor is RELATIVE (c_xy*2000 >= "
        "n_pairs, i.e. 0.05% of all pairs) so the filter is non-vacuous "
        "at every SF the oracle runs at. Top-20 on the (lift DESC, x, "
        "y) total order via TakeOrdered, never a global sort."
    ),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        prs AS (
          SELECT w[i+1] AS x, w[i+2] AS y
          FROM toks, UNNEST(range(len(w) - 1)) AS t(i)
          WHERE len(w) >= 2
        ),
        pc AS (SELECT x, y, COUNT(*) AS c_xy FROM prs GROUP BY x, y),
        cx AS (
          SELECT x, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM pc GROUP BY x
        ),
        cy AS (
          SELECT y, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM pc GROUP BY y
        ),
        n AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_pairs FROM pc)
        SELECT x, y, c_xy, c_x, c_y, n_pairs,
               (CAST(c_xy AS DOUBLE) * CAST(n_pairs AS DOUBLE))
                 / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)) AS lift
        FROM pc JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN n
        WHERE c_xy * {_PAIR_FLOOR_DENOM} >= n_pairs
        ORDER BY lift DESC, x, y LIMIT 20
    """,
)
def q_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.select(
        F.col("tok").alias("x"), F.lead("tok").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    # One corpus pass: materialize the distinct-pair rollup (vocab^2
    # rows at most) so the three marginal re-aggregations below read
    # the tiny table instead of re-running the scan+window per branch
    # (unchecked, Spark recomputes the lineage 4x — measured 22
    # exchanges / 4 parquet scans in the naive plan).
    pc = (
        pairs.groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
        .localCheckpoint()
    )
    cx = pc.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    cy = pc.groupBy("y").agg(F.sum("c_xy").alias("c_y"))
    n = pc.agg(F.sum("c_xy").alias("n_pairs"))
    lift = (F.col("c_xy").cast("double") * F.col("n_pairs").cast("double")) / (
        F.col("c_x").cast("double") * F.col("c_y").cast("double")
    )
    return (
        pc.join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(n))
        .filter(F.col("c_xy") * _PAIR_FLOOR_DENOM >= F.col("n_pairs"))
        .select(
            "x", "y", "c_xy", "c_x", "c_y", "n_pairs", lift.alias("lift")
        )
        .orderBy(F.desc("lift"), "x", "y")
        .limit(20)
    )


@register(
    "q_winnow_fingerprints",
    cost=1,
    category="text",
    doc=(
        "Winnowing fingerprints (Schleimer et al. '03 / MOSS): md5 "
        "4-token-gram hashes, the leftmost-minimal (hash, pos) of "
        "every window of 4 consecutive grams is selected, so any "
        "shared 7-token run between documents is guaranteed a shared "
        "fingerprint — the robust sketch plagiarism/near-dup systems "
        "store instead of all grams (~1/w density). Per doc: gram and "
        "selection counts plus an order-canonical md5 digest of the "
        "distinct-fingerprint SET, so the driver hash pins the exact "
        "selection. One explode, one doc_id exchange reused by both "
        "window passes and the rollups; no joins beyond doc_id."
    ),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
          SELECT doc_id, i AS pos,
                 md5(list_aggregate(w[i+1 : i+{_GRAM_K}],
                                    'string_agg', ' ')) AS g
          FROM toks, UNNEST(range(len(w) - {_GRAM_K} + 1)) AS t(i)
          WHERE len(w) >= {_GRAM_K}
        ),
        win AS (
          SELECT doc_id, pos, g,
                 min({{'g': g, 'pos': pos}}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS sel,
                 COUNT(*) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS cnt
          FROM grams
        ),
        selected AS (
          SELECT DISTINCT doc_id,
                 struct_extract(sel, 'g') AS sg,
                 struct_extract(sel, 'pos') AS sp
          FROM win WHERE cnt = {_WINNOW_W}
        ),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
        ),
        per_sel AS (
          SELECT doc_id,
                 COUNT(*) AS n_selected,
                 COUNT(DISTINCT sg) AS n_distinct_fp,
                 md5(list_aggregate(list_sort(list(DISTINCT sg)),
                                    'string_agg', '')) AS fp_digest
          FROM selected GROUP BY doc_id
        )
        SELECT doc_id, n_grams, n_selected, n_distinct_fp, fp_digest
        FROM per_doc JOIN per_sel USING (doc_id)
    """,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=_GRAM_K, w=_WINNOW_W
    )


# ---------------------------------------------------- round 10, batch 50

_OVERLAP_MIN_SHARED = 2  # MOSS match threshold: >=2 shared fingerprints
_CDC_THRESHOLD = "20000000"  # md5-hex boundary: ~1/8 of positions cut
_CDC_TOPK = 50
_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_TOPN = 100  # fuse the top-100 of each ranking
_RRF_OUT = 20


@register(
    "q_winnow_overlap",
    cost=1,
    category="dedup",
    doc=(
        "The MOSS match report over q_winnow_fingerprints' selections: "
        "document pairs sharing >= 2 winnow fingerprints with the "
        "shared count (the plagiarism-detector output). The equi "
        "self-join keys on the md5 fingerprint (measured on THIS "
        "corpus before registering, per the round-10 banding rule: "
        "max fingerprint df 6, 15.9k fanout pairs, 308 survivors at "
        "sf0.1 — no mega-bucket); shuffle_hash hinted since the "
        "output needs no sort order. Pair volume is quadratic in "
        "duplicate multiplicity by DEFINITION of pair output (the "
        "q_dedup_image_phash caveat class) — fingerprint df stays "
        "bounded by near-dup group size, never corpus size "
        "(measured 6.9x at the 30x twin probe — the pair COUNT is "
        "the quadratic part; q_winnow_clusters is the scale "
        "deliverable). PAIRS-output rule (SCALE.md): this entry is an "
        "oracle gate, headline-excluded since r11."
    ),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
          SELECT doc_id, i AS pos,
                 md5(list_aggregate(w[i+1 : i+{_GRAM_K}],
                                    'string_agg', ' ')) AS g
          FROM toks, UNNEST(range(len(w) - {_GRAM_K} + 1)) AS t(i)
          WHERE len(w) >= {_GRAM_K}
        ),
        win AS (
          SELECT doc_id, pos,
                 min({{'g': g, 'pos': pos}}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS sel,
                 COUNT(*) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS cnt
          FROM grams
        ),
        fp AS (
          SELECT DISTINCT doc_id, struct_extract(sel, 'g') AS sg
          FROM win WHERE cnt = {_WINNOW_W}
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_fps
        FROM fp a JOIN fp b ON b.sg = a.sg AND b.doc_id > a.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {_OVERLAP_MIN_SHARED}
    """,
)
def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.text import winnow_selected

    fp = (
        winnow_selected(
            load_table(spark, sf_dir, "documents"),
            k=_GRAM_K,
            w=_WINNOW_W,
        )
        .select("doc_id", "sg")
        .distinct()
    )
    # Both join sides are the IDENTICAL subplan shuffled on sg, so the
    # executed plan reuses one exchange (the minhash_near_dups
    # discipline) — the winnow selection runs once, not twice.
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("b.sg") == F.col("a.sg"))
            & (F.col("b.doc_id") > F.col("a.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= _OVERLAP_MIN_SHARED)
    )


# Shared CDC chunk derivation (oracle side), reused by q_chunk_cdc and
# q_cdc_dedup_ratio — one source of truth for the boundary rule.
_CDC_CTES = f"""
        toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        tp AS (
          SELECT doc_id, i AS pos, w[i+1] AS tok, len(w) AS n
          FROM toks, UNNEST(range(len(w))) AS t(i)
        ),
        fl AS (
          SELECT doc_id, pos, tok,
                 CASE WHEN pos >= {_GRAM_K - 1} AND
                      md5(list_aggregate(w[pos - {_GRAM_K - 2} : pos + 1],
                                         'string_agg', ' '))
                        < '{_CDC_THRESHOLD}'
                      THEN 1 ELSE 0 END AS cut
          FROM tp JOIN toks USING (doc_id)
        ),
        ch AS (
          SELECT doc_id, pos, tok,
                 SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS chunk_id
          FROM fl
        ),
        chunks AS (
          SELECT doc_id,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_g,
                 CAST(COUNT(*) AS BIGINT) AS tok_len
          FROM ch GROUP BY doc_id, COALESCE(chunk_id, 0)
        )
"""


def _cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared CDC derivation over the corpus table — delegates to
    :func:`operators.text.cdc_chunks` (which carries the property
    tests: boundary locality under insertion)."""
    from kafka_s3_etl_spark.operators.text import cdc_chunks

    return cdc_chunks(
        load_table(spark, sf_dir, "documents"),
        k=_GRAM_K,
        threshold=_CDC_THRESHOLD,
    )


@register(
    "q_chunk_cdc",
    cost=1,
    category="text",
    doc=(
        "Content-defined chunking (the rolling-hash boundary rule of "
        "storage/dataset dedup systems like LBFS/restic, at token "
        "granularity): a chunk boundary falls AFTER any position whose "
        "4-token context md5 sorts below a fixed hex threshold (~1/8 "
        "of positions -> ~8-token expected chunks), so an insertion "
        "re-chunks only its neighborhood — unlike fixed windows, "
        "chunk identity survives shifts (the property that makes CDC "
        "dedup work). Chunks rebuild order-exactly per (doc, chunk "
        "id = prefix sum of boundary flags), then roll up by chunk "
        "md5: the top-50 most duplicated chunks with occurrence/doc "
        "counts via TakeOrdered. Single corpus scan, one doc_id "
        "exchange for the windows, one map-side-combined chunk rollup."
    ),
    oracle=f"""
        WITH {_CDC_CTES}
        SELECT chunk_g, tok_len,
               CAST(COUNT(*) AS BIGINT) AS n_occ,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM chunks
        GROUP BY chunk_g, tok_len
        HAVING COUNT(*) > 1
        ORDER BY n_occ DESC, chunk_g LIMIT {_CDC_TOPK}
    """,
)
def q_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cdc_chunks(spark, sf_dir)
        .groupBy("chunk_g", "tok_len")
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occ") > 1)
        .orderBy(F.desc("n_occ"), "chunk_g")
        .limit(_CDC_TOPK)
    )


def _rrf_oracle() -> str:
    from kafka_s3_etl_spark.operators.text import BPE_MERGES  # noqa: F401
    from kafka_s3_etl_spark.plans.llm import BM25_QUERY_TERMS

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
          FROM documents
        ),
        dl AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_len
          FROM documents
        ),
        consts AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 SUM(doc_len) / COUNT(*) AS avgdl
          FROM dl
        ),
        tf AS (
          SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
          FROM toks WHERE token IN ({terms})
          GROUP BY doc_id, token
        ),
        dfq AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
        ),
        bm25 AS (
          SELECT tf.doc_id,
                 ROUND(SUM(
                   ln(CAST(1.0 AS DOUBLE)
                      + (consts.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * ((tf.tf * CAST(2.2 AS DOUBLE))
                      / (tf.tf + CAST(1.2 AS DOUBLE)
                         * (CAST(0.25 AS DOUBLE)
                            + (CAST(0.75 AS DOUBLE) * dl.doc_len)
                              / consts.avgdl)))
                 ), 4) AS bm25
          FROM tf
          JOIN dfq USING (token)
          JOIN dl USING (doc_id)
          CROSS JOIN consts
          GROUP BY tf.doc_id
        ),
        vocab AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
        tot AS (SELECT SUM(c) AS t FROM vocab),
        lpq AS (
          SELECT token,
                 CAST(ROUND(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                            * 1000000) AS BIGINT) AS lpq
          FROM vocab, tot
        ),
        dt AS (
          SELECT doc_id, token, COUNT(*) AS ndt
          FROM toks GROUP BY doc_id, token
        ),
        lm AS (
          SELECT doc_id,
                 CAST(SUM(ndt * lpq) AS DOUBLE) / 1e6
                     / CAST(CAST(SUM(ndt) AS BIGINT) AS DOUBLE)
                   AS avg_logprob
          FROM dt JOIN lpq USING (token) GROUP BY doc_id
        ),
        ra AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                      AS INTEGER) AS rank_bm25
          FROM (SELECT * FROM bm25 ORDER BY bm25 DESC, doc_id
                LIMIT {_RRF_TOPN})
        ),
        rb AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id)
                      AS INTEGER) AS rank_lm
          FROM (SELECT * FROM lm ORDER BY avg_logprob DESC, doc_id
                LIMIT {_RRF_TOPN})
        )
        SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
               rank_bm25, rank_lm,
               COALESCE(CAST(1.0 AS DOUBLE)
                          / CAST({_RRF_K} + rank_bm25 AS DOUBLE),
                        CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE)
                            / CAST({_RRF_K} + rank_lm AS DOUBLE),
                          CAST(0.0 AS DOUBLE)) AS rrf
        FROM ra FULL JOIN rb ON rb.doc_id = ra.doc_id
        ORDER BY rrf DESC, doc_id LIMIT {_RRF_OUT}
    """


@register(
    "q_rrf_fusion",
    cost=1,
    category="text",
    doc=(
        "Reciprocal-rank fusion (Cormack et al. '09 — the standard "
        "score-free way to combine retrieval rankings): the BM25 "
        "ranking (q_bm25's scorer, operators/text.py::bm25_scores) "
        "fused with the unigram-LM quality ranking (q_lm_score's "
        "scorer) as sum(1/(60+rank)). Both scorers are already "
        "hash-exact across engines, so rank equality follows from "
        "value equality; ranks come from the top-100 of each list "
        "(TakeOrdered — the global row_number runs on the 100-row "
        "result, a bounded constant at any corpus scale, never on the "
        "corpus). The scorers keep their own registered plan shapes "
        "(q_bm25 / q_lm_score); the fusion itself adds only a 100-row "
        "full outer join and a top-20 TakeOrdered. All float terms "
        "evaluate with pinned association (and CAST .. AS DOUBLE "
        "everywhere a bare literal would type DECIMAL)."
    ),
    oracle=_rrf_oracle(),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.text import (
        bm25_scores,
        lm_quality_score,
    )
    from kafka_s3_etl_spark.plans.llm import BM25_QUERY_TERMS

    docs = load_table(spark, sf_dir, "documents")
    wa = Window.orderBy(F.desc("bm25"), "doc_id")
    ra = (
        bm25_scores(docs, BM25_QUERY_TERMS)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_TOPN)
        .select(
            "doc_id", F.row_number().over(wa).cast("int").alias("rank_bm25")
        )
    )
    wb = Window.orderBy(F.desc("avg_logprob"), "doc_id")
    rb = (
        lm_quality_score(docs)
        .orderBy(F.desc("avg_logprob"), "doc_id")
        .limit(_RRF_TOPN)
        .select(
            "doc_id", F.row_number().over(wb).cast("int").alias("rank_lm")
        )
    )
    rrf = F.coalesce(
        F.expr(f"CAST(1.0 AS DOUBLE) / CAST({_RRF_K} + rank_bm25 AS DOUBLE)"),
        F.expr("CAST(0.0 AS DOUBLE)"),
    ) + F.coalesce(
        F.expr(f"CAST(1.0 AS DOUBLE) / CAST({_RRF_K} + rank_lm AS DOUBLE)"),
        F.expr("CAST(0.0 AS DOUBLE)"),
    )
    return (
        ra.join(rb, "doc_id", "full")
        .select("doc_id", "rank_bm25", "rank_lm", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(_RRF_OUT)
    )


# ---------------------------------------------------- round 10, batch 51


@register(
    "q_cdc_dedup_ratio",
    cost=1,
    category="text",
    doc=(
        "The storage-dedup report over the shared CDC derivation "
        "(_cdc_chunks / _CDC_CTES — one source of truth with "
        "q_chunk_cdc): chunk and unique-chunk counts, total vs unique "
        "token volume, and the dedup ratio a CDC store would achieve "
        "on this corpus. One pass over the chunk table: the per-chunk "
        "rollup carries (n_occ, tok_len), the global aggregate "
        "derives everything — unique token volume is sum(tok_len) of "
        "one representative per chunk identity, never a second corpus "
        "scan. The ratio divides two exact BIGINTs once (pinned "
        "association, hashable DOUBLE)."
    ),
    oracle=f"""
        WITH {_CDC_CTES},
        per AS (
          SELECT chunk_g,
                 CAST(COUNT(*) AS BIGINT) AS n_occ,
                 CAST(MAX(tok_len) AS BIGINT) AS tok_len
          FROM chunks GROUP BY chunk_g
        )
        SELECT CAST(SUM(n_occ) AS BIGINT) AS n_chunks,
               CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
               CAST(SUM(n_occ * tok_len) AS BIGINT) AS total_tokens,
               CAST(SUM(tok_len) AS BIGINT) AS unique_tokens,
               CAST(CAST(SUM(n_occ * tok_len) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(SUM(tok_len) AS BIGINT) AS DOUBLE)
                 AS dedup_ratio
        FROM per
    """,
)
def q_cdc_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _cdc_chunks(spark, sf_dir)
        .groupBy("chunk_g")
        .agg(
            F.count("*").alias("n_occ"),
            F.max("tok_len").alias("tok_len"),
        )
    )
    return per.agg(
        F.sum("n_occ").cast("bigint").alias("n_chunks"),
        F.count("*").alias("n_unique_chunks"),
        F.sum(F.col("n_occ") * F.col("tok_len"))
        .cast("bigint")
        .alias("total_tokens"),
        F.sum("tok_len").cast("bigint").alias("unique_tokens"),
    ).select(
        "*",
        F.expr(
            "CAST(total_tokens AS DOUBLE) / CAST(unique_tokens AS DOUBLE)"
        ).alias("dedup_ratio"),
    )


# ---------------------------------------------------- round 10, batch 53

_ZIPF_Q = 1000  # millinat quantization of ln(rank)/ln(freq)


@register(
    "q_zipf_slope",
    cost=1,
    category="text",
    doc=(
        "Zipf's-law slope of the token frequency distribution — the "
        "one-number corpus health check (natural text sits near -1; "
        "template/boilerplate corpora flatten). Least squares over "
        "(ln rank, ln freq), both quantized to integer millinats ONCE "
        "per vocab word (the q_lm_score discipline); the regression "
        "sums accumulate in exact BIGINT and the slope divides the "
        "CAST-to-DOUBLE sums with pinned association. Ranks come from "
        "operators/ranks.py::bucketed_global_row_number — never a "
        "single-task sort over the vocabulary (millions of rows on a "
        "real corpus). One corpus explode, one vocab rollup, one "
        "bucket-rank pass, one global aggregate."
    ),
    oracle=f"""
        WITH toks AS (
          SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
        ),
        vocab AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY token
        ),
        ranked AS (
          SELECT token, c,
                 CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token)
                      AS BIGINT) AS rn
          FROM vocab
        ),
        q AS (
          SELECT CAST(ROUND(ln(CAST(rn AS DOUBLE)) * {_ZIPF_Q})
                      AS BIGINT) AS x,
                 CAST(ROUND(ln(CAST(c AS DOUBLE)) * {_ZIPF_Q})
                      AS BIGINT) AS y
          FROM ranked
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               (CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(x * y) AS BIGINT)
                                                AS DOUBLE)
                  - CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE)
                      * CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE))
               / (CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(x * x) AS BIGINT)
                                                  AS DOUBLE)
                    - CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE)
                        * CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE))
                 AS zipf_slope
        FROM q
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.ranks import bucketed_global_row_number

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ranked = bucketed_global_row_number(vocab, "c", "token", shift=0)
    q = ranked.select(
        F.expr(f"CAST(ROUND(ln(CAST(rn AS DOUBLE)) * {_ZIPF_Q}) AS BIGINT)")
        .alias("x"),
        F.expr(f"CAST(ROUND(ln(CAST(c AS DOUBLE)) * {_ZIPF_Q}) AS BIGINT)")
        .alias("y"),
    )
    agg = q.agg(
        F.count("*").alias("n_vocab"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
    )
    return agg.select(
        "n_vocab",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.expr(
            "(CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        ).alias("zipf_slope"),
    )


@register(
    "q_embedding_norm_hist",
    cost=1,
    category="similarity",
    doc=(
        "Embedding-norm QA histogram: per-vector squared L2 norm as "
        "the exact left-fold self-dot (Spark aggregate(zip_with) == "
        "DuckDB list_dot_product, the bit-exact primitive), bucketed "
        "at 0.1 granularity with per-bucket count and min/max — the "
        "sanity check a pipeline runs before cosine ANN (zero or "
        "wildly-scaled norms poison similarity search). Map-only "
        "fold + one map-side-combined rollup; FLOOR on bit-exact "
        "doubles lands every vector in the same bucket on both "
        "engines, and the min/max extremes are hashable because the "
        "fold itself is."
    ),
    oracle="""
        WITH n AS (
          SELECT vec_id,
                 list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[])) AS norm2
          FROM embeddings
        )
        SELECT CAST(FLOOR(norm2 * 10) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               MIN(norm2) AS min_norm2,
               MAX(norm2) AS max_norm2
        FROM n GROUP BY 1
    """,
)
def q_embedding_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        F.zip_with(
            "embedding",
            "embedding",
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n = emb.select(norm2.alias("norm2"))
    return n.groupBy(
        F.expr("CAST(FLOOR(norm2 * 10) AS BIGINT)").alias("bucket")
    ).agg(
        F.count("*").alias("n_vecs"),
        F.min("norm2").alias("min_norm2"),
        F.max("norm2").alias("max_norm2"),
    )


# ---------------------------------------------------- round 10, batch 54

_LM2_LAMBDA_NUM = 3  # interpolation 3/4 bigram, 1/4 unigram
_LM2_Q = 1000000  # micro-nat quantization (the q_lm_score discipline)


@register(
    "q_bigram_lm_score",
    cost=1,
    category="text",
    doc=(
        "Interpolated bigram-LM quality score — the stronger "
        "perplexity filter over q_lm_score's unigram model: p(y|x) = "
        "0.75*c_xy/c_x + 0.25*c_y/T from exact integer counts, ln "
        "computed ONCE per distinct bigram and quantized to integer "
        "micro-nats (both ratio terms evaluate with pinned division "
        "association before the one ln call), per-document totals "
        "accumulate count x quantized-logprob in exact BIGINT and "
        "divide once. Scale shape: bigram/unigram rollups with "
        "map-side combine, the probability join keys on the "
        "vocab^2-bounded bigram table, one doc-keyed aggregation — "
        "no window over the corpus, no Python."
    ),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        bg AS (
          SELECT doc_id, w[i+1] AS x, w[i+2] AS y
          FROM toks, UNNEST(range(len(w) - 1)) AS t(i)
          WHERE len(w) >= 2
        ),
        c2 AS (
          SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
          FROM bg GROUP BY x, y
        ),
        c1 AS (
          SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM c2 GROUP BY x
        ),
        cu AS (
          SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM c2 GROUP BY y
        ),
        tot AS (SELECT CAST(SUM(cxy) AS BIGINT) AS t FROM c2),
        lp AS (
          SELECT x, y,
                 CAST(ROUND(ln(
                   CAST({_LM2_LAMBDA_NUM} AS DOUBLE) / CAST(4 AS DOUBLE)
                     * (CAST(cxy AS DOUBLE) / CAST(cx AS DOUBLE))
                   + CAST(1.0 AS DOUBLE) / CAST(4 AS DOUBLE)
                     * (CAST(cy AS DOUBLE) / CAST(t AS DOUBLE))
                 ) * {_LM2_Q}) AS BIGINT) AS lpq
          FROM c2 JOIN c1 USING (x) JOIN cu USING (y) CROSS JOIN tot
        ),
        db AS (
          SELECT doc_id, x, y, CAST(COUNT(*) AS BIGINT) AS ndt
          FROM bg GROUP BY doc_id, x, y
        )
        SELECT doc_id,
               CAST(SUM(ndt) AS BIGINT) AS n_bigrams,
               CAST(SUM(ndt * lpq) AS DOUBLE) / 1e6
                   / CAST(CAST(SUM(ndt) AS BIGINT) AS DOUBLE)
                 AS avg_logprob2
        FROM db JOIN lp USING (x, y) GROUP BY doc_id
    """,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        "doc_id",
        F.col("tok").alias("x"),
        F.lead("tok").over(wd).alias("y"),
    ).filter(F.col("y").isNotNull())
    # One corpus pass: the per-doc bigram rollup is the finest grain;
    # every model table (global bigram, left/right marginals, total)
    # re-aggregates IT (localCheckpointed — vocab^2-bounded), so the
    # corpus is scanned exactly once.
    db = (
        bg.groupBy("doc_id", "x", "y")
        .agg(F.count("*").cast("bigint").alias("ndt"))
        .localCheckpoint()
    )
    c2 = db.groupBy("x", "y").agg(F.sum("ndt").cast("bigint").alias("cxy"))
    c1 = c2.groupBy("x").agg(F.sum("cxy").cast("bigint").alias("cx"))
    cu = c2.groupBy("y").agg(F.sum("cxy").cast("bigint").alias("cy"))
    tot = c2.agg(F.sum("cxy").cast("bigint").alias("t"))
    lp = (
        c2.join(F.broadcast(c1), "x")
        .join(F.broadcast(cu), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            F.expr(
                f"CAST(ROUND(ln("
                f"CAST({_LM2_LAMBDA_NUM} AS DOUBLE) / CAST(4 AS DOUBLE)"
                f" * (CAST(cxy AS DOUBLE) / CAST(cx AS DOUBLE))"
                f" + CAST(1.0 AS DOUBLE) / CAST(4 AS DOUBLE)"
                f" * (CAST(cy AS DOUBLE) / CAST(t AS DOUBLE))"
                f") * {_LM2_Q}) AS BIGINT)"
            ).alias("lpq"),
        )
    )
    return (
        db.join(F.broadcast(lp), ["x", "y"])
        .groupBy("doc_id")
        .agg(
            F.sum("ndt").cast("bigint").alias("n_bigrams"),
            F.sum(F.expr("ndt * lpq")).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr(
                "CAST(s AS DOUBLE) / 1e6 / CAST(n_bigrams AS DOUBLE)"
            ).alias("avg_logprob2"),
        )
    )


# ---------------------------------------------------- round 10, batch 57

# Shared winnow-selection CTE body (docs -> distinct (doc_id, sg)),
# reused by q_winnow_overlap's oracle above and the clusters closure.
_WINNOW_FP_CTES = f"""
        toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
          SELECT doc_id, i AS pos,
                 md5(list_aggregate(w[i+1 : i+{_GRAM_K}],
                                    'string_agg', ' ')) AS g
          FROM toks, UNNEST(range(len(w) - {_GRAM_K} + 1)) AS t(i)
          WHERE len(w) >= {_GRAM_K}
        ),
        win AS (
          SELECT doc_id, pos,
                 min({{'g': g, 'pos': pos}}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS sel,
                 COUNT(*) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS cnt
          FROM grams
        ),
        fp AS (
          SELECT DISTINCT doc_id, struct_extract(sel, 'g') AS sg
          FROM win WHERE cnt = {_WINNOW_W}
        )
"""


@register(
    "q_winnow_clusters",
    cost=2,
    category="dedup",
    doc=(
        "MOSS overlap resolved to CLUSTERS — the keep-one-"
        "representative deliverable over q_winnow_overlap's pair "
        "report (the q_dedup_embedding_clusters / q_dedup_image_"
        "clusters shape applied to winnow fingerprints): pairs "
        "sharing >= 2 selected fingerprints close under connected "
        "components (alternating-star contraction, O(log n) rounds "
        "at any graph diameter) into (doc_id, cluster_id, keep) over "
        "ALL documents — untouched docs are singleton clusters. "
        "Exact-dup pre-pass on identical fingerprint SETS (|set| >= "
        "2 guard — see the builder comment for why that makes the "
        "identity edges component-preserving): costs ~1.8 s extra at "
        "sf0.1 (two checkpoints + the digest rollup) but cuts the "
        "30x probe from 3.3x to 2.3x by collapsing twin cliques "
        "before the pair join — the q_label_propagation_capped "
        "trade, paid at small SF, repaid at scale. Oracle: the "
        "winnow CTEs + a recursive-CTE min-label closure (unchanged "
        "by the pre-pass — components are equal by construction)."
    ),
    oracle=f"""
        WITH RECURSIVE {_WINNOW_FP_CTES},
        prs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM fp a JOIN fp b ON b.sg = a.sg AND b.doc_id > a.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING COUNT(*) >= {_OVERLAP_MIN_SHARED}
        ),
        sym AS (
          SELECT doc_a AS src, doc_b AS dst FROM prs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM prs
        ),
        reach AS (
          SELECT doc_id AS node, doc_id AS lbl FROM documents
          UNION
          SELECT s.dst AS node, r.lbl
          FROM reach r JOIN sym s ON r.node = s.src
          WHERE r.lbl < s.dst
        )
        SELECT node AS doc_id, MIN(lbl) AS cluster_id,
               node = MIN(lbl) AS keep
        FROM reach GROUP BY node
    """,
)
def q_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import connected_components_star
    from kafka_s3_etl_spark.operators.text import winnow_selected

    docs = load_table(spark, sf_dir, "documents")
    fp = (
        winnow_selected(docs, k=_GRAM_K, w=_WINNOW_W)
        .select("doc_id", "sg")
        .distinct()
        .localCheckpoint()
    )
    # Exact-dup pre-pass (the q_dedup_image_clusters discipline):
    # documents with IDENTICAL fingerprint sets of size >= 2 share >=
    # 2 fingerprints with each other and have identical neighbors, so
    # collapsing each such group to its min-id representative before
    # the pair join and re-attaching members via identity edges
    # preserves components EXACTLY — while a k-copy twin clique stops
    # contributing O(k^2) pair rows (30-twin probe corpora: 435 pairs
    # per clique). The |set| >= 2 guard is what makes the identity
    # edge sound: a single-fingerprint group would NOT meet the
    # >= 2-shared pair threshold, so those docs stay uncollapsed.
    digest = fp.groupBy("doc_id").agg(
        F.md5(F.concat_ws("", F.sort_array(F.collect_set("sg")))).alias(
            "dg"
        ),
        F.countDistinct("sg").alias("nfp"),
    )
    rep_w = Window.partitionBy("dg")
    with_rep = digest.select(
        "doc_id",
        "nfp",
        F.when(
            F.col("nfp") >= _OVERLAP_MIN_SHARED,
            F.min("doc_id").over(rep_w),
        )
        .otherwise(F.col("doc_id"))
        .alias("rep"),
    ).localCheckpoint()
    rep_fp = fp.join(
        with_rep.filter(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
    )
    a, b = rep_fp.alias("a"), rep_fp.alias("b")
    band_pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("b.sg") == F.col("a.sg"))
            & (F.col("b.doc_id") > F.col("a.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _OVERLAP_MIN_SHARED)
        .select("doc_a", "doc_b")
    )
    identity_edges = with_rep.filter(
        F.col("doc_id") != F.col("rep")
    ).select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    pairs = band_pairs.unionByName(identity_edges)
    cc = connected_components_star(pairs, docs.select("doc_id"))
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


# ---------------------------------------------------- round 10, batch 58

_COVERAGE_KS = [1, 2, 4, 8, 16, 24, 31]  # vocab-size spine


@register(
    "q_vocab_coverage_curve",
    cost=1,
    category="text",
    doc=(
        "Token-mass coverage at every candidate vocabulary size — the "
        "curve that sizes a tokenizer's vocab (what fraction of the "
        "corpus the top-k types cover): one vocab rollup, exact ranks "
        "via bucketed_global_row_number (no single-task sort over a "
        "millions-row vocabulary), then a broadcast k-spine cross "
        "join rolls covered token mass per k in exact BIGINT; the "
        "coverage fraction divides once. The whole curve costs ONE "
        "corpus pass + vocab-bounded work (the q_dedup_threshold_"
        "curve shape: never re-run per knob setting)."
    ),
    oracle=f"""
        WITH toks AS (
          SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
        ),
        vocab AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY token
        ),
        ranked AS (
          SELECT c,
                 CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token)
                      AS BIGINT) AS rn
          FROM vocab
        ),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
        ks AS (SELECT UNNEST(ARRAY{_COVERAGE_KS}) AS k)
        SELECT CAST(ks.k AS BIGINT) AS k,
               CAST(SUM(CASE WHEN rn <= ks.k THEN c ELSE 0 END)
                    AS BIGINT) AS covered_tokens,
               CAST(MAX(tot.t) AS BIGINT) AS total_tokens,
               CAST(CAST(SUM(CASE WHEN rn <= ks.k THEN c ELSE 0 END)
                         AS BIGINT) AS DOUBLE)
                 / CAST(MAX(tot.t) AS DOUBLE) AS coverage
        FROM ranked CROSS JOIN ks CROSS JOIN tot
        GROUP BY ks.k
    """,
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.ranks import bucketed_global_row_number

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    ranked = bucketed_global_row_number(vocab, "c", "token", shift=0)
    tot = vocab.agg(F.sum("c").cast("bigint").alias("t"))
    ks = local_frame(spark, [(k,) for k in _COVERAGE_KS], "k bigint")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.sum(F.expr("CASE WHEN rn <= k THEN c ELSE 0 END"))
            .cast("bigint")
            .alias("covered_tokens"),
            F.max("t").cast("bigint").alias("total_tokens"),
        )
        .select(
            "k",
            "covered_tokens",
            "total_tokens",
            F.expr(
                "CAST(covered_tokens AS DOUBLE)"
                " / CAST(total_tokens AS DOUBLE)"
            ).alias("coverage"),
        )
    )


@register(
    "q_distinct_ngrams",
    cost=1,
    category="text",
    doc=(
        "Distinct-n diversity (the n-gram uniqueness ratios used to "
        "detect templated/generated corpora — low distinct-2/3 means "
        "boilerplate): totals and distinct counts for n = 1, 2, 3 "
        "from ONE token explode + one doc_id window pass (the n-gram "
        "strings materialize once via leads, the three aggregates "
        "re-read the localCheckpointed gram table); ratios divide "
        "exact BIGINTs once."
    ),
    oracle="""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        g AS (
          SELECT doc_id, i AS pos,
                 w[i+1] AS g1,
                 CASE WHEN i + 2 <= len(w)
                      THEN w[i+1] || ' ' || w[i+2] END AS g2,
                 CASE WHEN i + 3 <= len(w)
                      THEN w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                      END AS g3
          FROM toks, UNNEST(range(len(w))) AS t(i)
        )
        SELECT 1 AS n, CAST(COUNT(g1) AS BIGINT) AS total_ngrams,
               CAST(COUNT(DISTINCT g1) AS BIGINT) AS distinct_ngrams,
               CAST(COUNT(DISTINCT g1) AS DOUBLE)
                 / CAST(COUNT(g1) AS DOUBLE) AS distinct_ratio
        FROM g
        UNION ALL
        SELECT 2, CAST(COUNT(g2) AS BIGINT),
               CAST(COUNT(DISTINCT g2) AS BIGINT),
               CAST(COUNT(DISTINCT g2) AS DOUBLE)
                 / CAST(COUNT(g2) AS DOUBLE)
        FROM g
        UNION ALL
        SELECT 3, CAST(COUNT(g3) AS BIGINT),
               CAST(COUNT(DISTINCT g3) AS BIGINT),
               CAST(COUNT(DISTINCT g3) AS DOUBLE)
                 / CAST(COUNT(g3) AS DOUBLE)
        FROM g
    """,
)
def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    g = toks.select(
        "doc_id",
        F.col("tok").alias("g1"),
        F.lead("tok", 1).over(wd).alias("t1"),
        F.lead("tok", 2).over(wd).alias("t2"),
    ).select(
        "g1",
        F.when(
            F.col("t1").isNotNull(), F.concat_ws(" ", "g1", "t1")
        ).alias("g2"),
        F.when(
            F.col("t2").isNotNull(), F.concat_ws(" ", "g1", "t1", "t2")
        ).alias("g3"),
    ).localCheckpoint()

    def one(n: int, col: str) -> DataFrame:
        return g.agg(
            F.count(col).alias("total_ngrams"),
            F.countDistinct(col).alias("distinct_ngrams"),
        ).select(
            F.lit(n).cast("int").alias("n"),
            "total_ngrams",
            "distinct_ngrams",
            F.expr(
                "CAST(distinct_ngrams AS DOUBLE)"
                " / CAST(total_ngrams AS DOUBLE)"
            ).alias("distinct_ratio"),
        )

    return one(1, "g1").unionByName(one(2, "g2")).unionByName(one(3, "g3"))


# ---------------------------------------------------- round 10, batch 59

_MP_PLANES = 6
_MP_TABLES = 2


def _ann_multiprobe_oracle(n_queries: int = 8, k: int = 5) -> str:
    from kafka_s3_etl_spark.plans.llm import ann_sign_rows

    rows = ann_sign_rows(tables=_MP_TABLES, planes=_MP_PLANES)
    flips = ", ".join(["0"] + [str(1 << p) for p in range(_MP_PLANES)])
    return f"""
        WITH signs(table_id, bit, s) AS (VALUES {rows}),
        base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        b AS (
          SELECT vec_id, table_id,
                 CAST(SUM(CASE WHEN list_dot_product(e, s) > 0
                               THEN bit ELSE 0 END) AS BIGINT) AS bucket
          FROM base, signs GROUP BY vec_id, table_id
        ),
        q AS (
          SELECT vec_id, table_id, xor(bucket, f.flip) AS bucket
          FROM b, UNNEST(ARRAY[{flips}]) AS f(flip)
          WHERE vec_id < {n_queries}
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM b c JOIN q
            ON c.table_id = q.table_id AND c.bucket = q.bucket
               AND c.vec_id != q.vec_id
        ),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 list_cosine_similarity(eq.e, ec.e) AS c
          FROM cand
          JOIN base eq ON eq.vec_id = cand.query_id
          JOIN base ec ON ec.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY c DESC, neighbor_id
                 ) AS rnk
          FROM scored) WHERE rnk <= {k}
    """


@register(
    "q_sim_ann_multiprobe",
    cost=2,
    category="similarity",
    doc=(
        "Multi-probe LSH ANN top-5 (Lv et al. '07): each query probes "
        "its own bucket plus every Hamming-1 neighbor bucket (one "
        "sign-bit flip), so 2 tables x 7 probes buy the recall that "
        "single-probe LSH needs 8+ tables for — at 100 TB the bucket "
        "table IS the index and tables multiply its ROWS, while "
        "probes only multiply the tiny broadcast query side (~4x "
        "smaller index than q_sim_ann_lsh's 8-table layout for "
        "comparable recall, measured in the property test). Pinned "
        "2x6 sign layout; probe bucket = bucket XOR flip, integer-"
        "exact on both engines; rank-only output. The recall-vs-"
        "single-probe superset property is asserted in "
        "tests/test_llm_ops.py."
    ),
    oracle=_ann_multiprobe_oracle(),
)
def q_sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.similarity import (
        ann_lsh_multiprobe_topk,
    )

    return ann_lsh_multiprobe_topk(
        load_table(spark, sf_dir, "embeddings"),
        planes=_MP_PLANES,
        tables=_MP_TABLES,
    ).select("query_id", "neighbor_id", "rank")


# ---------------------------------------------------- round 10, batch 61

_LANGID_CASE = """
      CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'en'
           WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
           WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
           WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
           WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
           ELSE 'zh' END
"""


@register(
    "q_langid_confusion",
    cost=1,
    category="text",
    doc=(
        "The language-ID confusion matrix — the standard eval "
        "artifact over q_text_langid's marker heuristic against the "
        "labeled lang column: (actual, predicted, n, share-of-actual) "
        "per cell. One scan (the per-doc scorer is map-only), one "
        "map-side-combined rollup on a |langs|^2-bounded key space, "
        "the per-actual share via a broadcast re-aggregation of the "
        "cell table (the q_collocations_lift marginal pattern); the "
        "share divides two exact BIGINTs once."
    ),
    oracle=f"""
        WITH scored AS (
          SELECT doc_id, lang,
                 len(regexp_extract_all(' ' || text || ' ',
                     ' the | and | with | for ')) AS s_en,
                 len(regexp_extract_all(' ' || text || ' ',
                     ' der | und | nicht | das ')) AS s_de,
                 len(regexp_extract_all(' ' || text || ' ',
                     ' le | et | pas | les ')) AS s_fr,
                 len(regexp_extract_all(' ' || text || ' ',
                     ' el | que | los | por ')) AS s_es,
                 len(regexp_extract_all(' ' || text || ' ',
                     ' de5 | shi4 | bu4 | le5 ')) AS s_zh
          FROM documents
        ),
        cells AS (
          SELECT lang AS actual, {_LANGID_CASE} AS predicted,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM scored GROUP BY 1, 2
        ),
        tot AS (
          SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
          FROM cells GROUP BY actual
        )
        SELECT actual, predicted, n, n_actual,
               CAST(n AS DOUBLE) / CAST(n_actual AS DOUBLE) AS share
        FROM cells JOIN tot USING (actual)
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.text import language_id

    pred = language_id(load_table(spark, sf_dir, "documents"))
    cells = (
        pred.groupBy(
            F.col("lang").alias("actual"),
            F.col("pred_lang").alias("predicted"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    tot = cells.groupBy("actual").agg(F.sum("n").cast("bigint").alias("n_actual"))
    return (
        cells.join(F.broadcast(tot), "actual")
        .select(
            "actual",
            "predicted",
            "n",
            "n_actual",
            F.expr("CAST(n AS DOUBLE) / CAST(n_actual AS DOUBLE)").alias(
                "share"
            ),
        )
    )
