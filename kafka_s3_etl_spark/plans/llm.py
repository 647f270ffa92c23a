"""LLM-data-pipeline query catalog (SURVEY.md section 2b M8): dedup,
similarity search, text analysis, multimodal plumbing, UDF surface.

Oracle policy: pure-expression text ops and exact dedup/jaccard are
hash-matched against equivalent DuckDB SQL; hash-seeded ops (MinHash/
SimHash — xxhash64 has no DuckDB twin) and float-ranked ANN are
rows-only, with property assertions in tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_near_dups,
    ngram_jaccard_consecutive,
    simhash_near_dups,
)
from kafka_s3_etl_spark.operators.multimodal import (
    decode_metadata,
    documents_as_media,
)
from kafka_s3_etl_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    embedding_near_dups_ann,
    ivf_topk,
)
from kafka_s3_etl_spark.operators.text import (
    chunk_windows,
    fingerprint,
    language_id,
    quality_score,
    remove_stopwords,
    repetition_score,
    rolling_hash,
    text_stats,
    vocab_topk,
)
from kafka_s3_etl_spark.operators.udfs import (
    explode_quantity_units,
    label_price_tiers,
    weighted_avg_price,
)
from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ dedup


@register(
    "q_dedup_exact",
    category="dedup",
    doc="Exact dedup, deterministic keep-lowest-id per text.",
    oracle="""
        SELECT doc_id, lang, source, n_chars FROM (
            SELECT doc_id, lang, source, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "q_dedup_fuzzy",
    cost=1,
    category="dedup",
    doc="MinHash+LSH near-dup pairs (rows-only: seeded xxhash64 has no "
    "DuckDB equivalent; properties asserted in tests).",
    oracle=None,
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_dups(load_table(spark, sf_dir, "documents"))


@register(
    "q_dedup_simhash",
    cost=1,
    category="dedup",
    doc="SimHash near-dup pairs via 16-bit chunk candidates (rows-only).",
    oracle=None,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dups(load_table(spark, sf_dir, "documents"))


@register(
    "q_ngram_jaccard",
    category="dedup",
    doc="Exact word-3-gram Jaccard for consecutive doc pairs.",
    oracle="""
        WITH words AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        shingles AS (
          SELECT DISTINCT doc_id, s FROM words,
            UNNEST(list_transform(range(len(w) - 2),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS t(s)
          WHERE len(w) >= 3
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, COUNT(*) AS i
          FROM shingles a JOIN shingles b
            ON b.doc_id = a.doc_id + 1 AND b.s = a.s
          GROUP BY 1
        )
        SELECT sa.doc_id AS doc_a, sa.doc_id + 1 AS doc_b,
               COALESCE(i.i, 0) / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
        FROM sizes sa
        JOIN sizes sb ON sb.doc_id = sa.doc_id + 1
        LEFT JOIN inter i ON i.doc_a = sa.doc_id
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_consecutive(load_table(spark, sf_dir, "documents"))


# The ANN dedup's LSH layout is pinned so the oracle can replay it:
# the hyperplane sign matrix is the seeded `_plane_signs` constant,
# rendered into the oracle SQL as 48 DOUBLE[] literals (+-1.0 is
# exactly representable, and DuckDB's list_dot_product sums left to
# right exactly like Spark's aggregate() fold — verified bit-exact
# over all 24k (vector, table, plane) projections at sf0.01).
_ANN_DEDUP_PLANES = 6
_ANN_DEDUP_TABLES = 8
_ANN_DEDUP_DIM = 64  # pinned to the testdata corpus; canary-checked


def ann_sign_rows(
    tables: int = _ANN_DEDUP_TABLES,
    planes: int = _ANN_DEDUP_PLANES,
    dim: int = _ANN_DEDUP_DIM,
) -> str:
    """The pinned LSH hyperplane matrix rendered as SQL VALUES rows
    (table_id, bit, s DOUBLE[]) — the oracle-side twin of
    `_sign_table`; shared by every oracle that replays LSH buckets."""
    from kafka_s3_etl_spark.operators.similarity import _plane_signs

    signs = _plane_signs(tables, planes, dim)
    return ", ".join(
        f"({t}, {1 << p}, ["
        + ",".join(str(int(v)) for v in signs[t][p])
        + "]::DOUBLE[])"
        for t in range(tables)
        for p in range(planes)
    )


def _ann_dedup_oracle(threshold: float) -> str:
    rows = ann_sign_rows()
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
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
          FROM b a JOIN b b2
            ON b2.table_id = a.table_id AND b2.bucket = a.bucket
               AND b2.vec_id > a.vec_id
        )
        SELECT c.vec_a, c.vec_b
        FROM cand c
        JOIN base ea ON ea.vec_id = c.vec_a
        JOIN base eb ON eb.vec_id = c.vec_b
        WHERE list_cosine_similarity(ea.e, eb.e) >= {threshold}
    """


@register(
    "q_dedup_embedding",
    category="dedup",
    doc=(
        "Embedding near-dup pairs with a REAL ANN candidate source: "
        "sign-LSH buckets (6 planes x 8 tables, the ann_lsh_topk "
        "machinery) generate candidate pairs, exact double cosine "
        "verifies them — the operator a 100 TB embedding dedup runs, "
        "replacing the earlier consecutive-id verification toy. "
        "Threshold 0.2 is matched to the synthetic corpus (near-random "
        "vectors, pairwise cosine ~N(0, 1/sqrt(d))) so the output is "
        "non-vacuous; output is the pair ids only — both sides compute "
        "every projection and cosine in double with the same "
        "association order (DuckDB list_dot_product == Spark aggregate "
        "fold, verified bit-exact), so bucket bits and threshold "
        "membership are hash-stable while the float itself stays out "
        "of the hash. CAVEAT: PAIR output is quadratic in duplicate "
        "multiplicity by definition (the pinned-plane oracle probe "
        "measured 11.4x at 10x; the operator's auto-plane default is "
        "1.6x) — the scalable deliverable is q_dedup_embedding_"
        "clusters (plans/oracleext.py), whose exact-dup pre-pass "
        "collapses identity cliques before LSH. Copy that shape, not "
        "this one, into a production pipeline. PAIRS-output rule "
        "(SCALE.md): this entry is an oracle gate, headline-excluded "
        "since r11."
    ),
    oracle=_ann_dedup_oracle(0.2),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups_ann(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.2,
        planes=_ANN_DEDUP_PLANES,
        tables=_ANN_DEDUP_TABLES,
    ).select("vec_a", "vec_b")


@register(
    "q_dedup_clusters",
    cost=4,
    category="dedup",
    doc=(
        "Fuzzy-dedup resolution: MinHash pairs -> connected components "
        "(iterative min-label propagation) -> per-doc cluster id + keep "
        "flag. Rows-only: iterative algorithm over hash-seeded pairs; "
        "component correctness asserted against union-find in tests."
    ),
    oracle=None,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters(load_table(spark, sf_dir, "documents"))


@register(
    "q_dedup_incremental",
    category="dedup",
    doc=(
        "Incremental corpus dedup: new docs (second half of the corpus) "
        "whose content fingerprint is unseen in the existing corpus "
        "(first half) — the anti-join shape a rolling ingestion pipeline "
        "runs every batch against its fingerprint store."
    ),
    oracle="""
        WITH fps AS (
          SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
          FROM documents
        ),
        bound AS (SELECT (MAX(doc_id) + MIN(doc_id)) / 2 AS mid FROM fps)
        SELECT n.doc_id, n.fp FROM fps n, bound
        WHERE n.doc_id > bound.mid
          AND NOT EXISTS (
            SELECT 1 FROM fps seen, bound
            WHERE seen.doc_id <= bound.mid AND seen.fp = n.fp
          )
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import incremental_new_docs

    return incremental_new_docs(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------- similarity


@register(
    "q_sim_topk",
    cost=1,
    category="similarity",
    doc=(
        "Brute-force exact cosine top-5 for 8 query vectors, emitted as "
        "RANKS (the float cosine itself stays out of the hash — per-row "
        "floats are the one thing the oracle cannot absorb). Both sides "
        "compute cosine in double and break ties by neighbor_id, so the "
        "ranking agrees unless two candidates sit within float-rounding "
        "of each other (verified stable at sf0.001/0.01/0.1; the cosine "
        "values are recall-tested in tests/test_llm_ops.py)."
    ),
    oracle="""
        WITH base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        q AS (SELECT vec_id AS qid, e AS qe FROM base WHERE vec_id < 8),
        scored AS (
          SELECT q.qid AS query_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(q.qe, b.e) AS c
          FROM base b JOIN q ON b.vec_id != q.qid
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY c DESC, neighbor_id
                 ) AS rnk
          FROM scored) WHERE rnk <= 5
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(load_table(spark, sf_dir, "embeddings")).select(
        "query_id", "neighbor_id", "rank"
    )


def _ann_lsh_topk_oracle(n_queries: int = 8, k: int = 5) -> str:
    """LSH top-k replay: same pinned sign matrix as q_dedup_embedding
    (ann_sign_rows), bucket candidates, exact cosine re-rank. Rank-only
    output keeps the float out of the hash; the cosine ORDERING parity
    (Spark aggregate-fold dot vs DuckDB list_cosine_similarity) is the
    one q_sim_topk already proves hash-stable on this corpus."""
    rows = ann_sign_rows()
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
        q AS (SELECT vec_id, table_id, bucket FROM b WHERE vec_id < {n_queries}),
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
    "q_sim_ann_lsh",
    cost=2,
    category="similarity",
    doc=(
        "Sign-random-projection LSH ANN top-5, hash-verified (upgraded "
        "from rows-only in round 9): the registered entry pins the "
        "6-plane x 8-table layout so the oracle can replay the exact "
        "bucket join and cosine re-rank via the shared ann_sign_rows "
        "matrix; rank-only output keeps floats out of the hash. The "
        "operator's auto-plane default (bucket occupancy ~constant as "
        "the corpus scales) remains the production path and keeps its "
        "brute-force recall property test."
    ),
    oracle=_ann_lsh_topk_oracle(),
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh_topk(
        load_table(spark, sf_dir, "embeddings"),
        planes=_ANN_DEDUP_PLANES,
        tables=_ANN_DEDUP_TABLES,
    ).select("query_id", "neighbor_id", "rank")


@register(
    "q_sim_ivf",
    cost=2,
    category="similarity",
    doc="IVF ANN top-5: k-means coarse quantizer, 4-of-16 cell probe, "
    "exact re-rank (rows-only; recall asserted in tests).",
    oracle=None,
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(load_table(spark, sf_dir, "embeddings"))


def _ivf_centroid_rows(n_cells: int = 16, dim: int = _ANN_DEDUP_DIM) -> str:
    """The pinned IVF sign-centroid matrix rendered as SQL VALUES rows
    (cell, c DOUBLE[]) — the oracle-side twin of ivf_pinned_topk's
    broadcast centroid table."""
    from kafka_s3_etl_spark.operators.similarity import _plane_signs

    signs = _plane_signs(n_cells, 1, dim)
    return ", ".join(
        f"({c}, [" + ",".join(str(int(v)) for v in signs[c][0]) + "]::DOUBLE[])"
        for c in range(n_cells)
    )


def _ivf_pinned_oracle(
    n_queries: int = 8, k: int = 5, n_probe: int = 4
) -> str:
    rows = _ivf_centroid_rows()
    return f"""
        WITH cent(cell, c) AS (VALUES {rows}),
        base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        ranked AS (
          SELECT vec_id, e, cell,
                 ROW_NUMBER() OVER (
                     PARTITION BY vec_id
                     ORDER BY list_dot_product(e, c) DESC, cell
                 ) AS rn
          FROM base, cent
        ),
        assigned AS (SELECT vec_id, e, cell FROM ranked WHERE rn = 1),
        probe AS (
          SELECT vec_id AS query_id, e AS qe, cell
          FROM ranked WHERE vec_id < {n_queries} AND rn <= {n_probe}
        ),
        scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 list_cosine_similarity(p.qe, a.e) AS cos
          FROM probe p
          JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.query_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                 ) AS rnk
          FROM scored) WHERE rnk <= {k}
    """


@register(
    "q_sim_ivf_pinned",
    cost=2,
    category="similarity",
    doc=(
        "IVF ANN top-5, hash-verified — the pinned-layout twin that "
        "dents the q_sim_ivf impossibility note (Lloyd's centroids are "
        "data-dependent floats no static SQL can restate; PINNED "
        "centroids are constants both engines share, the q_sim_ann_lsh "
        "pattern applied to IVF). Centroids are the seeded sign matrix "
        "— equal norms make nearest-centroid-by-L2 exactly argmax dot, "
        "the one primitive verified bit-exact across engines (Spark "
        "aggregate fold == DuckDB list_dot_product) — so assignment, "
        "4-of-16 cell probe, candidate join, and cosine re-rank all "
        "replay in the oracle; rank-only output keeps floats out of "
        "the hash. Quantizer QUALITY stays the fitted production "
        "entry's concern (its brute-force recall property test); this "
        "entry hash-gates the IVF probe MECHANICS end-to-end."
    ),
    oracle=_ivf_pinned_oracle(),
)
def q_sim_ivf_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.similarity import ivf_pinned_topk

    return ivf_pinned_topk(load_table(spark, sf_dir, "embeddings"))


def _pq_codebook_rows(
    m_subspaces: int = 4, n_codes: int = 16, sub_d: int = 16
) -> str:
    """The pinned PQ sign codebooks rendered as SQL VALUES rows
    (sub, code, cw DOUBLE[]) — the oracle-side twin of the one-row
    ``cb[sub][code]`` array the pinned PQ twins broadcast
    (``similarity._pinned_consts``). Same seeded signs, same layout."""
    from kafka_s3_etl_spark.operators.similarity import _plane_signs

    signs = _plane_signs(m_subspaces * n_codes, 1, sub_d)
    return ", ".join(
        f"({m}, {c}, ["
        + ",".join(str(int(v)) for v in signs[m * n_codes + c][0])
        + "]::DOUBLE[])"
        for m in range(m_subspaces)
        for c in range(n_codes)
    )


def _pq_pinned_oracle(
    n_queries: int = 8,
    k: int = 5,
    m_subspaces: int = 4,
    sub_d: int = 16,
    rerank: int = 48,
) -> str:
    rows = _pq_codebook_rows(m_subspaces=m_subspaces, sub_d=sub_d)
    code_cols = ", ".join(
        f"MAX(CASE WHEN sub = {m} THEN code END) AS c{m}"
        for m in range(m_subspaces)
    )
    lut_joins = "\n          ".join(
        f"JOIN lut l{m} ON l{m}.sub = {m} AND l{m}.code = p.c{m}"
        + (f" AND l{m}.query_id = l0.query_id" if m else "")
        for m in range(m_subspaces)
    )
    approx = " + ".join(f"l{m}.v" for m in range(m_subspaces))
    return f"""
        WITH cb(sub, code, cw) AS (VALUES {rows}),
        base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        subv AS (
          SELECT vec_id, m.m AS sub,
                 e[m.m * {sub_d} + 1 : m.m * {sub_d} + {sub_d}] AS sv
          FROM base, (SELECT UNNEST(range({m_subspaces})) AS m) m
        ),
        coded AS (
          SELECT vec_id, sub, code FROM (
            SELECT s.vec_id, s.sub, cb.code,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.sub
                       ORDER BY list_dot_product(s.sv, cb.cw) DESC, cb.code
                   ) AS rn
            FROM subv s JOIN cb ON cb.sub = s.sub) WHERE rn = 1
        ),
        pivoted AS (
          SELECT vec_id, {code_cols} FROM coded GROUP BY vec_id
        ),
        lut AS (
          SELECT s.vec_id AS query_id, s.sub, cb.code,
                 list_dot_product(s.sv, cb.cw) AS v
          FROM subv s JOIN cb ON cb.sub = s.sub
          WHERE s.vec_id < {n_queries}
        ),
        scored AS (
          SELECT l0.query_id, p.vec_id, {approx} AS approx
          FROM pivoted p
          {lut_joins}
          WHERE p.vec_id != l0.query_id
        ),
        shortlist AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY approx DESC, vec_id) AS srn
            FROM scored) WHERE srn <= {rerank}
        ),
        reranked AS (
          SELECT s.query_id, s.vec_id AS neighbor_id,
                 list_cosine_similarity(q.e, n.e) AS cos
          FROM shortlist s
          JOIN base q ON q.vec_id = s.query_id
          JOIN base n ON n.vec_id = s.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                 ) AS rnk
          FROM reranked) WHERE rnk <= {k}
    """


@register(
    "q_sim_pq_pinned",
    cost=2,
    category="similarity",
    doc=(
        "Product-quantization ANN top-5, hash-verified — the pinned "
        "twin that dents the q_sim_pq impossibility note the way "
        "q_sim_ivf_pinned dents IVF's. Two moves unlock the gate: "
        "seeded sign CODEBOOKS (equal-norm codewords make encode's "
        "argmin-L2 exactly argmax dot, the bit-exact primitive), and "
        "a DETERMINISTIC ADC — each corpus row's code per subspace is "
        "an argmax fold over a one-row broadcast codebook, each query "
        "carries one LUT array per subspace, and the asymmetric inner "
        "product is lut0[c0]+lut1[c1]+lut2[c2]+lut3[c3] added left to "
        "right, not a groupBy SUM whose float association depends on "
        "partitioning. Encode, LUT, ADC "
        "scan, shortlist, and exact cosine re-rank all replay in the "
        "oracle; rank-only output keeps floats out of the hash. "
        "Compression QUALITY stays the fitted production entry's "
        "recall property test; this gates the MECHANICS."
    ),
    oracle=_pq_pinned_oracle(),
)
def q_sim_pq_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.similarity import pq_pinned_topk

    return pq_pinned_topk(load_table(spark, sf_dir, "embeddings"))


def _ivfpq_pinned_oracle(
    n_queries: int = 8,
    k: int = 5,
    n_probe: int = 4,
    m_subspaces: int = 4,
    sub_d: int = 16,
    rerank: int = 48,
) -> str:
    cent_rows = _ivf_centroid_rows()
    cb_rows = _pq_codebook_rows(m_subspaces=m_subspaces, sub_d=sub_d)
    code_cols = ", ".join(
        f"MAX(CASE WHEN sub = {m} THEN code END) AS c{m}"
        for m in range(m_subspaces)
    )
    lut_joins = "\n          ".join(
        f"JOIN lut l{m} ON l{m}.sub = {m} AND l{m}.code = p.c{m}"
        f" AND l{m}.query_id = cand.query_id"
        for m in range(m_subspaces)
    )
    approx = " + ".join(f"l{m}.v" for m in range(m_subspaces))
    return f"""
        WITH cent(cell, c) AS (VALUES {cent_rows}),
        cb(sub, code, cw) AS (VALUES {cb_rows}),
        base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        cranked AS (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (
                     PARTITION BY vec_id
                     ORDER BY list_dot_product(e, c) DESC, cell
                 ) AS rn
          FROM base, cent
        ),
        assigned AS (SELECT vec_id, cell FROM cranked WHERE rn = 1),
        probe AS (
          SELECT vec_id AS query_id, cell
          FROM cranked WHERE vec_id < {n_queries} AND rn <= {n_probe}
        ),
        cand AS (
          SELECT p.query_id, a.vec_id
          FROM probe p JOIN assigned a
            ON a.cell = p.cell AND a.vec_id != p.query_id
        ),
        subv AS (
          SELECT vec_id, m.m AS sub,
                 e[m.m * {sub_d} + 1 : m.m * {sub_d} + {sub_d}] AS sv
          FROM base, (SELECT UNNEST(range({m_subspaces})) AS m) m
        ),
        pivoted AS (
          SELECT vec_id, {code_cols} FROM (
            SELECT s.vec_id, s.sub, cb.code FROM (
              SELECT s.vec_id, s.sub, cb.code,
                     ROW_NUMBER() OVER (
                         PARTITION BY s.vec_id, s.sub
                         ORDER BY list_dot_product(s.sv, cb.cw) DESC,
                                  cb.code) AS rn
              FROM subv s JOIN cb ON cb.sub = s.sub) s(vec_id, sub, code, rn)
              JOIN cb ON cb.sub = s.sub AND cb.code = s.code
            WHERE rn = 1
          ) GROUP BY vec_id
        ),
        lut AS (
          SELECT s.vec_id AS query_id, s.sub, cb.code,
                 list_dot_product(s.sv, cb.cw) AS v
          FROM subv s JOIN cb ON cb.sub = s.sub
          WHERE s.vec_id < {n_queries}
        ),
        scored AS (
          SELECT cand.query_id, cand.vec_id, {approx} AS approx
          FROM cand
          JOIN pivoted p ON p.vec_id = cand.vec_id
          {lut_joins}
        ),
        shortlist AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY approx DESC, vec_id) AS srn
            FROM scored) WHERE srn <= {rerank}
        ),
        reranked AS (
          SELECT s.query_id, s.vec_id AS neighbor_id,
                 list_cosine_similarity(q.e, n.e) AS cos
          FROM shortlist s
          JOIN base q ON q.vec_id = s.query_id
          JOIN base n ON n.vec_id = s.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                 ) AS rnk
          FROM reranked) WHERE rnk <= {k}
    """


@register(
    "q_sim_ivfpq_pinned",
    cost=2,
    category="similarity",
    doc=(
        "IVF+PQ two-level ANN top-5, hash-verified — the composition "
        "of q_sim_ivf_pinned's sign-centroid cell probe and "
        "q_sim_pq_pinned's sign codebooks + deterministic ADC, "
        "completing the pinned-twin coverage of the ANN family "
        "(LSH r9, IVF/PQ/IVFPQ r10): coarse cells gate WHICH codes "
        "are scanned, the fixed-order LUT chain approximates the "
        "scan, exact cosine re-ranks the shortlist, and every stage "
        "replays in the oracle. The fitted q_sim_ivfpq stays the "
        "production entry with its recall property test."
    ),
    oracle=_ivfpq_pinned_oracle(),
)
def q_sim_ivfpq_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.similarity import ivfpq_pinned_topk

    return ivfpq_pinned_topk(load_table(spark, sf_dir, "embeddings"))


def _randproj_oracle(out_dim: int = 16, dim: int = _ANN_DEDUP_DIM) -> str:
    from kafka_s3_etl_spark.operators.similarity import _plane_signs

    signs = _plane_signs(1, out_dim, dim)
    rows = ", ".join(
        f"({p}, [" + ",".join(str(int(v)) for v in signs[0][p]) + "]::DOUBLE[])"
        for p in range(out_dim)
    )
    comps = ",\n               ".join(
        f"MAX(CASE WHEN m.p = {p} THEN list_dot_product(b.e, m.s) END)"
        f" * 0.25 AS r{p}"
        for p in range(out_dim)
    )
    return f"""
        WITH mat(p, s) AS (VALUES {rows}),
        b AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        )
        SELECT vec_id,
               {comps}
        FROM b, mat m GROUP BY vec_id, b.e
    """


@register(
    "q_embed_randproj",
    cost=1,
    category="similarity",
    doc=(
        "Johnson-Lindenstrauss random projection 64 -> 16 dims "
        "(Achlioptas '03 +-1 entries, scale 1/sqrt(16) = 0.25 — every "
        "constant exactly representable), hash-verified VALUE-FOR-"
        "VALUE: each output component is one aggregate-fold dot times "
        "0.25, the primitive proven bit-exact across engines, so the "
        "floats themselves enter the hash (unlike the rank-only ANN "
        "twins). Map-only: one broadcast row carries the projection "
        "matrix, no shuffle, no fit — the storage/IO compression step "
        "ahead of ANN; PCA stays the data-adaptive (rows-only) path. "
        "JL distortion property-tested in tests/test_llm_ops.py."
    ),
    oracle=_randproj_oracle(),
)
def q_embed_randproj(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.similarity import random_projection

    return random_projection(load_table(spark, sf_dir, "embeddings"))


# ------------------------------------------------------------------- text


@register(
    "q_text_stats",
    category="text",
    doc="Corpus stats per language (tokens/chars).",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               ROUND(AVG(length(text)), 4) AS avg_chars,
               CAST(MAX(length(text)) AS INTEGER) AS max_chars
        FROM documents GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(load_table(spark, sf_dir, "documents"))


@register(
    "q_text_langid",
    category="text",
    doc="Keyword-marker language ID (argmax, first-wins ties, 0 -> en).",
    oracle="""
        WITH scored AS (
          SELECT doc_id, lang,
                 len(regexp_extract_all(' ' || text || ' ', ' the | and | with | for ')) AS s_en,
                 len(regexp_extract_all(' ' || text || ' ', ' der | und | nicht | das ')) AS s_de,
                 len(regexp_extract_all(' ' || text || ' ', ' le | et | pas | les ')) AS s_fr,
                 len(regexp_extract_all(' ' || text || ' ', ' el | que | los | por ')) AS s_es,
                 len(regexp_extract_all(' ' || text || ' ', ' de5 | shi4 | bu4 | le5 ')) AS s_zh
          FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'en'
                    WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                    WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                    WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                    WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                    ELSE 'zh' END AS pred_lang,
               (CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'en'
                     WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                     WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                     WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                     WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                     ELSE 'zh' END = lang) AS correct
        FROM scored
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


@register(
    "q_text_quality",
    category="text",
    doc="Quality scoring: length/alpha-ratio/stopword heuristics.",
    oracle="""
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token,
               CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                   / length(text) AS alpha_ratio,
               CAST(len(regexp_extract_all(' ' || text || ' ',
                    ' the | and | with | for ')) AS INTEGER) AS en_stopword_hits,
               CASE WHEN len(string_split(text, ' ')) >= 20
                         AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                             / length(text) > 0.7 THEN 'keep'
                    WHEN len(string_split(text, ' ')) >= 5 THEN 'review'
                    ELSE 'drop' END AS quality_bucket
        FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "q_text_fingerprint",
    category="text",
    doc="md5 content fingerprint + BPE-ish regex token count.",
    oracle=r"""
        SELECT doc_id,
               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                    AS INTEGER) AS n_bpe_tokens
        FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "q_text_rollhash",
    category="text",
    doc=(
        "Order-sensitive Karp-Rabin rolling fingerprint over the word "
        "sequence (mod-2^32 polynomial fold of md5-derived word hashes)."
    ),
    oracle="""
        SELECT doc_id,
               list_reduce(
                 list_transform(string_split(text, ' '),
                                w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT)),
                 (acc, x) -> (acc * 31 + x) % 4294967296) AS roll_fp
        FROM documents
    """,
)
def q_text_rollhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_hash(load_table(spark, sf_dir, "documents"))


@register(
    "q_vocab_topk",
    category="text",
    doc=(
        "Vocabulary construction: top-100 tokens by occurrence count "
        "with document frequency — the tokenizer-training counting pass. "
        "TakeOrdered top-N; the rank window runs over exactly 100 rows."
    ),
    oracle="""
        SELECT token, n_occurrences, n_docs,
               CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token)
                    AS INTEGER) AS rnk
        FROM (
          SELECT s AS token,
                 CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                 CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS s
                FROM documents)
          GROUP BY s
        )
        QUALIFY rnk <= 100
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_topk(load_table(spark, sf_dir, "documents"))


@register(
    "q_text_clean",
    category="text",
    doc=(
        "Stopword-removal cleaning pass: per-doc token counts before/"
        "after plus the cleaned text. Pure per-row array expressions."
    ),
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                        w -> w NOT IN ('a', 'the'))) AS INTEGER) AS n_kept,
               array_to_string(list_filter(string_split(text, ' '),
                        w -> w NOT IN ('a', 'the')), ' ') AS clean_text
        FROM documents
    """,
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remove_stopwords(load_table(spark, sf_dir, "documents"))


@register(
    "q_text_repetition",
    category="text",
    doc=(
        "Gopher-style repetition heuristic: fraction of duplicated word "
        "3-grams per doc; flags repetitive boilerplate. Per-row array "
        "expressions, one scan. Exact integer ratio -> bit-identical "
        "division on both engines."
    ),
    oracle="""
        SELECT doc_id,
               CAST(len(g) AS INTEGER) AS n_grams,
               CAST(len(list_distinct(g)) AS INTEGER) AS n_distinct,
               CASE WHEN len(g) > 0
                    THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                    ELSE 0.0 END AS dup_ratio,
               (CASE WHEN len(g) > 0
                     THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                     ELSE 0.0 END) > 0.2 AS repetitive
        FROM (
          SELECT doc_id,
                 list_transform(range(len(w) - 2),
                     i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 1
        )
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_score(load_table(spark, sf_dir, "documents"))


@register(
    "q_chunk_windows",
    category="text",
    doc=(
        "Context-window chunking: each doc's tokens split into 32-token "
        "windows with doc-relative indexes — the fixed-context shaping "
        "pass of LM pretraining. Explode fan-out only; no shuffle."
    ),
    oracle="""
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_idx,
               CAST(len(w[i*32+1 : least((i+1)*32, len(w))]) AS INTEGER)
                   AS n_tokens,
               array_to_string(w[i*32+1 : least((i+1)*32, len(w))], ' ')
                   AS chunk_text
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
              WHERE len(string_split(text, ' ')) >= 1),
             UNNEST(range(CAST(ceil(len(w) / 32.0) AS BIGINT))) AS t(i)
    """,
)
def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_windows(load_table(spark, sf_dir, "documents"))


@register(
    "q_decontaminate",
    category="dedup",
    doc=(
        "Train/eval decontamination: held-out docs (doc_id % 10 == 0) "
        "flagged when any word-8-gram also occurs in the training split. "
        "Spark joins on the 8-byte shingle hash (fixed-width shuffle); "
        "the oracle joins on the raw shingle — identical up to a ~1e-19 "
        "collision."
    ),
    oracle="""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            UNNEST(list_transform(range(len(w) - 7), i ->
              w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' ||
              w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8])) AS t(s)
          WHERE len(w) >= 8
        )
        SELECT d.doc_id,
               EXISTS (SELECT 1 FROM sh e JOIN sh t
                       ON t.s = e.s AND t.doc_id % 10 != 0
                       WHERE e.doc_id = d.doc_id) AS contaminated
        FROM documents d WHERE d.doc_id % 10 = 0
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import decontaminate

    return decontaminate(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------- multimodal


@register(
    "q_multimodal_meta",
    category="multimodal",
    doc=(
        "Binary media columns -> typed metadata via mapInPandas. Image "
        "rows carry REAL synthesized PPM(P6) files, audio rows REAL "
        "WAV/PCM16 files, video rows REAL Y4M/C444 streams (r9) — all "
        "decoded by the pure-numpy codecs (header/chunk/frame parse; "
        "audio maps width=sample_rate, height=n_channels, "
        "n_frames=n_samples). The oracle recomputes all three layouts "
        "from the generators' closed forms."
    ),
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(CASE WHEN doc_id % 3 = 0
                         THEN 9 + length(CAST(8 + doc_id % 9 AS VARCHAR))
                              + length(CAST(8 + doc_id % 7 AS VARCHAR))
                              + (8 + doc_id % 9) * (8 + doc_id % 7) * 3
                         WHEN doc_id % 3 = 1
                         THEN 44 + 2 * 64
                              * (4 + (((doc_id - 1) // 3) // 8) % 3)
                         ELSE 33 + length(CAST(8 + doc_id % 5 AS VARCHAR))
                              + length(CAST(8 + doc_id % 3 AS VARCHAR))
                              + (12 + doc_id % 19)
                                * (6 + (8 + doc_id % 5)
                                       * (8 + doc_id % 3) * 3)
                         END AS INTEGER) AS n_bytes,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 9
                         WHEN doc_id % 3 = 1 THEN 8000
                         ELSE 8 + doc_id % 5
                    END AS INTEGER) AS width,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 7
                         WHEN doc_id % 3 = 1 THEN 1
                         ELSE 8 + doc_id % 3
                    END AS INTEGER) AS height,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                         WHEN doc_id % 3 = 1
                         THEN 64 * (4 + (((doc_id - 1) // 3) // 8) % 3)
                         ELSE 12 + doc_id % 19 END AS INTEGER) AS n_frames
        FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return decode_metadata(media)


# ------------------------------------------------------------ UDF surface


@register(
    "q_udf_scalar",
    category="udf",
    doc="Vectorized pandas UDF price-tier labeler.",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_totalprice <= 50000 THEN 'low'
                    WHEN o_totalprice <= 150000 THEN 'mid'
                    ELSE 'high' END AS tier
        FROM orders
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_price_tiers(load_table(spark, sf_dir, "orders"))


@register(
    "q_udaf",
    category="udf",
    doc=(
        "Grouped pandas UDAF: quantity-weighted avg price per SUPPLIER — "
        "a key whose cardinality scales with the data, so each pandas "
        "frame stays ~600 rows at any corpus size and no worker ever "
        "materializes a table-sized group. (The built-in "
        "sum(price*qty)/sum(qty) expression is the production form; the "
        "UDAF surface is what is being exercised.)"
    ),
    oracle="""
        SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
               SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(l_quantity AS BIGINT))
               / (100.0 * SUM(CAST(l_quantity AS BIGINT))) AS wavg_price
        FROM lineitem GROUP BY l_suppkey
    """,
)
def q_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_avg_price(load_table(spark, sf_dir, "lineitem"))


@register(
    "q_udtf",
    category="udf",
    doc="Table-function surface: one row per whole quantity unit.",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(UNNEST(generate_series(1, CAST(l_quantity AS INT))) AS INTEGER)
                   AS unit
        FROM lineitem WHERE l_quantity <= 10
    """,
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return explode_quantity_units(load_table(spark, sf_dir, "lineitem"))


@register(
    "q_multimodal_frames",
    category="multimodal",
    doc=(
        "Frame sampling: every-10th-frame index per video document, "
        "with n_frames decoded for REAL from the Y4M stream (r9); the "
        "oracle recomputes the generator's closed form."
    ),
    oracle="""
        SELECT doc_id, CAST(i AS INTEGER) AS frame_idx
        FROM (SELECT doc_id, 12 + doc_id % 19 AS n_frames
              FROM documents WHERE doc_id % 3 = 2),
             UNNEST(range(0, n_frames, 10)) AS t(i)
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.multimodal import frame_sample

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return frame_sample(media)


@register(
    "q_multimodal_resize",
    category="multimodal",
    doc=(
        "Resize plumbing: binary-in/binary-out mapInPandas to a fixed "
        "224x224 pixel budget; the oracle checks the metadata and byte "
        "accounting (payload bytes are a deterministic slice/pad, "
        "exercised byte-level in tests/test_llm_ops.py)."
    ),
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(224 AS INTEGER) AS width,
               CAST(224 AS INTEGER) AS height,
               CAST(224 * 224 AS INTEGER) AS n_bytes
        FROM documents
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.multimodal import resize_media

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    resized = resize_media(media)
    return resized.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        F.length("payload").cast("int").alias("n_bytes"),
    )


@register(
    "q_term_doc_stats",
    category="text",
    doc=(
        "Sparse doc-term matrix with BM25-ready statistics: per (doc, "
        "token) term frequency, per-token document frequency, and the "
        "per-doc length — the exact inputs of TF-IDF/BM25 scoring, kept "
        "as exact integers (the float weighting is a trivial per-row "
        "formula downstream). One explode + two map-side-combined "
        "aggregations; the token-stats join is left UNhinted — the "
        "vocabulary is broadcastable at test scale but can reach GBs at "
        "100 TB, so AQE picks broadcast vs shuffle from the actual size."
    ),
    oracle="""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
          FROM documents
        ),
        tf AS (
          SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
          FROM toks GROUP BY doc_id, token
        ),
        df AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
        ),
        dl AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS doc_len
          FROM toks GROUP BY doc_id
        )
        SELECT tf.doc_id, tf.token, tf.tf, df.df, dl.doc_len
        FROM tf JOIN df USING (token) JOIN dl USING (doc_id)
    """,
)
def q_term_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    return (
        tf.join(df, "token")
        .join(dl, "doc_id")
        .select("doc_id", "token", "tf", "df", "doc_len")
    )


# Fixed retrieval query for q_bm25 (mid-frequency corpus terms).
BM25_QUERY_TERMS = ["join", "scan", "vector", "merge"]


@register(
    "q_bm25",
    category="text",
    doc=(
        "Okapi BM25 relevance of every document against a fixed 4-term "
        "query — the retrieval-scoring layer over q_term_doc_stats' "
        "exact-integer tf/df/doc_len. Token explode is filtered to the "
        "query terms before aggregation, so candidate volume is "
        "|terms|x|matching docs|, not corpus tokens; per-doc score sum "
        "rounded (aggregate-only rounding rule)."
    ),
    oracle="""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
          FROM documents
        ),
        dl AS (
          -- per-row length (mirrors Spark's size(split(..)) — no second
          -- corpus explode)
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_len
          FROM documents
        ),
        consts AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 SUM(doc_len) / COUNT(*) AS avgdl
          FROM dl
        ),
        tf AS (
          SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
          FROM toks WHERE token IN ('join', 'scan', 'vector', 'merge')
          GROUP BY doc_id, token
        ),
        df AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
        )
        SELECT tf.doc_id,
               CAST(COUNT(*) AS BIGINT) AS matched_terms,
               ROUND(SUM(
                 ln(CAST(1.0 AS DOUBLE) + (consts.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * ((tf.tf * CAST(2.2 AS DOUBLE))
                    / (tf.tf + CAST(1.2 AS DOUBLE)
                       * (CAST(0.25 AS DOUBLE)
                          + (CAST(0.75 AS DOUBLE) * dl.doc_len) / consts.avgdl)))
               ), 4) AS bm25
        FROM tf
        JOIN df USING (token)
        JOIN dl USING (doc_id)
        CROSS JOIN consts
        GROUP BY tf.doc_id
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.text import bm25_scores

    return bm25_scores(load_table(spark, sf_dir, "documents"), BM25_QUERY_TERMS)


@register(
    "q_multimodal_decode",
    category="multimodal",
    doc=(
        "REAL image decode end-to-end: synthesized PPM(P6) files parsed "
        "to (h, w, 3) uint8 pixel arrays by the pure-numpy codec "
        "(operators/multimodal.py::parse_ppm) inside mapInPandas, "
        "reduced to decode-proving statistics. The oracle recomputes "
        "dimensions and the exact pixel sum from the generator's closed "
        "form (pixel i of doc d = (d + i) % 256) without touching the "
        "binary — only a correct byte-level decode can match it."
    ),
    oracle="""
        WITH m AS (
          SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
          FROM documents WHERE doc_id % 3 = 0
        ),
        px AS (
          SELECT doc_id, w, h, UNNEST(range(0, w * h * 3)) AS i FROM m
        )
        SELECT doc_id,
               CAST(MIN(w) AS INTEGER) AS width,
               CAST(MIN(h) AS INTEGER) AS height,
               CAST(COUNT(*) AS INTEGER) AS n_px,
               CAST(SUM((doc_id + i) % 256) AS BIGINT) AS pixel_sum
        FROM px GROUP BY doc_id
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.multimodal import decode_pixels

    # modality predicate pushed BELOW the payload generator: filters
    # cannot cross mapInPandas, so filtering the media frame would
    # still synthesize audio/video payloads for 2/3 of the corpus
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    media = documents_as_media(docs)
    return decode_pixels(media.filter(F.col("media_type") == "image"))


@register(
    "q_multimodal_audio",
    category="multimodal",
    doc=(
        "REAL audio decode end-to-end: synthesized WAV/PCM16 files "
        "parsed to int16 sample arrays by the pure-numpy RIFF decoder "
        "(operators/multimodal.py::parse_wav) inside mapInPandas, "
        "reduced to decode-proving statistics. The oracle recomputes "
        "rate/count and the exact sample sum and peak from the r11 "
        "structured generator's integer closed form (family/variant "
        "amplitude-phase product, operators/multimodal.py::"
        "_wav_samples) without touching the binary."
    ),
    oracle="""
        WITH m AS (
          SELECT doc_id, (doc_id - 1) // 3 AS k
          FROM documents WHERE doc_id % 3 = 1
        ),
        par AS (
          SELECT doc_id, k, k // 8 AS u, k % 8 AS j,
                 4 + (k // 8) % 3 AS msz
          FROM m
        ),
        par2 AS (
          SELECT doc_id, k, u, j, msz,
                 CASE WHEN j = 7 THEN 1000003 + k ELSE u END AS base,
                 (u * 31) % 64 AS i0,
                 CASE WHEN (u * 31) % 64 + 7 < 64
                      THEN (u * 31) % 64 + 7
                      ELSE (u * 31) % 64 - 7 END AS i1
          FROM par
        ),
        s AS (
          SELECT doc_id, u, j, msz, base, i0, i1,
                 UNNEST(range(0, 64 * msz)) AS i
          FROM par2
        ),
        sv AS (
          SELECT doc_id,
                 (1 + ((base * 2654435761
                        + (CASE WHEN j BETWEEN 5 AND 6
                                     AND (i // msz) = i0 THEN i1
                                WHEN j BETWEEN 5 AND 6
                                     AND (i // msz) = i1 THEN i0
                                ELSE i // msz END) * 97) % 1009) % 13)
                 * (16 + j)
                 * (((i * 2654435761 + u) % 7) - 3) AS v
          FROM s
        )
        SELECT doc_id,
               CAST(8000 AS INTEGER) AS sample_rate,
               CAST(COUNT(*) AS INTEGER) AS n_samples,
               CAST(SUM(v) AS BIGINT) AS sample_sum,
               CAST(MAX(abs(v)) AS INTEGER) AS peak
        FROM sv GROUP BY doc_id
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.multimodal import decode_samples

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 1  # predicate below the payload generator
    )
    media = documents_as_media(docs)
    return decode_samples(media.filter(F.col("media_type") == "audio"))


@register(
    "q_multimodal_video",
    category="multimodal",
    doc=(
        "REAL video decode end-to-end (r9): synthesized Y4M/C444 "
        "streams parsed to (n_frames, h, w, 3) uint8 arrays by the "
        "pure-numpy YUV4MPEG2 decoder (operators/multimodal.py::"
        "parse_y4m) inside mapInPandas, reduced to decode-proving "
        "statistics. The oracle recomputes dimensions, frame count, "
        "raster size, and the exact byte sum from the generator's "
        "closed form (raster byte i of doc d = (d + i) % 256) without "
        "touching the binary. Compressed video remains the documented "
        "pyav seam — this entry covers the uncompressed interchange "
        "format a real pipeline feeds that decoder from."
    ),
    oracle="""
        WITH m AS (
          SELECT doc_id,
                 8 + doc_id % 5 AS w,
                 8 + doc_id % 3 AS h,
                 12 + doc_id % 19 AS f
          FROM documents WHERE doc_id % 3 = 2
        ),
        s AS (
          SELECT doc_id, w, h, f,
                 (doc_id + UNNEST(range(0, f * w * h * 3))) % 256 AS v
          FROM m
        )
        SELECT doc_id,
               CAST(MIN(w) AS INTEGER) AS width,
               CAST(MIN(h) AS INTEGER) AS height,
               CAST(MIN(f) AS INTEGER) AS n_frames,
               CAST(MIN(f * w * h * 3) AS INTEGER) AS n_px,
               CAST(SUM(v) AS BIGINT) AS byte_sum
        FROM s GROUP BY doc_id
    """,
)
def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.multimodal import decode_frames

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 2  # predicate below the payload generator
    )
    media = documents_as_media(docs)
    return decode_frames(media.filter(F.col("media_type") == "video"))


# ---------------------------------------------------- round 12, batch 75


@register(
    "q_udtf_native",
    category="udf",
    doc=(
        "The NATIVE Spark Python UDTF surface (@udtf class form with "
        "useArrow=True, called with a TABLE argument) — the engine API "
        "q_udtf's explode-of-array form satisfies semantically but "
        "never executes (VERDICT r11 #2). Same contract and the same "
        "oracle: one row per whole quantity unit. The plan carries an "
        "ArrowEvalPythonUDTF node (pinned in tests/test_plans.py); "
        "filter + projection are applied BELOW the UDTF since the "
        "Python boundary blocks pushdown."
    ),
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(UNNEST(generate_series(1, CAST(l_quantity AS INT))) AS INTEGER)
                   AS unit
        FROM lineitem WHERE l_quantity <= 10
    """,
)
def q_udtf_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.udfs import native_udtf_quantity_units

    return native_udtf_quantity_units(load_table(spark, sf_dir, "lineitem"))
