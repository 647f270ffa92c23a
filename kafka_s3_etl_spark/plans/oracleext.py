"""Round-9 oracle-hardening batches (34-38): hash-verified twins for
the iterative / hash-seeded families that were rows-only by design,
plus the pipeline operators those twins unlock (BPE merges, hash
sampling, embedding cluster resolution, LSH precision audit,
leakage-safe train/val splitting).

The blocker for those entries was never the algorithm — it was that
(a) xxhash64 has no DuckDB counterpart, and (b) float power iterations
are summation-order-dependent, so no static SQL can promise the same
bits. Both blockers fall to the same two moves:

* **md5 hash family** — md5 is the one hash both engines share; a
  MinHash/LSH pipeline built on it (operators/dedup.py::
  md5_minhash_near_dups) is replayable value-for-value in ANSI SQL.
* **integer fixed-point iteration** — bigint sums are associative, so
  a power iteration carried out in scaled integers with floor division
  (operators/graph.py::pagerank_fixedpoint) is bit-exact across
  engines regardless of plan shape; the oracle replays K rounds as a
  generated ``AS MATERIALIZED`` CTE chain (materialization is
  mandatory — default inlining re-expands each round's references
  into 3^rounds copies of the base scan, see CLAUDE.md).

The xxhash64/float originals (q_dedup_fuzzy, q_dedup_clusters,
q_graph_pagerank, q_markov_stationary) remain the production entries —
xxhash64 is ~5x cheaper per shingle and float ranks need no overflow
headroom. These twins exist so the driver's hash gate covers the whole
pipeline shape end-to-end: shingle -> minhash -> LSH bucket join ->
connected components / PageRank, and the event-chain power iteration.

Reference scope note: the reference (ElnazGhasemi/kafka-s3-etl) has no
dedup or graph code at all — these operators are part of the
LLM-training-pipeline surface the driver's north star adds on top
(see SURVEY.md §2b M8/M9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_s3_etl_spark.operators.dedup import LSH_BANDS, MINHASH_K, SHINGLE_N
from kafka_s3_etl_spark.operators.graph import integer_power_rounds
from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.sources.tables import load_table

# Pinned hyperparameters, shared by the Spark builders and the oracle
# generators below. The hash family / shingle knobs ALIAS the operator
# defaults (operators/dedup.py) rather than shadowing them, so a change
# to the dedup constants re-renders the oracle SQL in lockstep instead
# of desynchronizing the two sides until the driver's hash gate fails
# (ADVICE r9 #2).
_K = MINHASH_K  # minhash functions (16)
_BANDS = LSH_BANDS  # LSH bands (4 rows each)
_THRESHOLD = 0.5  # est-Jaccard cut, exact at k=16 (multiple of 1/16)
_PR_ITERS = 6
_PR_INIT = 1_000_000_000
_PR_ALPHA_NUM, _PR_ALPHA_DEN = 85, 100
_MK_ITERS = 12
_MK_INIT = 1_000_000_000


# ------------------------------------------------------ oracle generators


def _md5_pairs_ctes() -> str:
    """CTE prefix computing the md5-MinHash LSH near-dup pairs —
    the DuckDB twin of ``md5_minhash_near_dups`` (same shingles, same
    seed derivation, same band keys). Ends with ``thr(doc_a, doc_b,
    est_jaccard)``; the signature CTE is MATERIALIZED because the band
    fan-out references it four times."""
    mins = ",\n                 ".join(
        f"MIN(md5(g || '{i}')) AS mh{i}" for i in range(_K)
    )
    sig_cols = ", ".join(f"mh{i}" for i in range(_K))
    r = _K // _BANDS
    band_selects = "\n          UNION ALL\n          ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS key, {cols} FROM sig".format(
            b=b,
            key=" || ".join(f"mh{b * r + j}" for j in range(r)),
            cols=sig_cols,
        )
        for b in range(_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(_K)
    )
    shingle_expr = " || ' ' || ".join(
        f"w[i+{j + 1}]" for j in range(SHINGLE_N)
    )
    return f"""
        words AS (
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
        bands AS (
          {band_selects}
        ),
        thr AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST({agree} AS DOUBLE) / {_K} AS est_jaccard
          FROM bands a JOIN bands b
            ON b.band_id = a.band_id AND b.key = a.key
               AND b.doc_id > a.doc_id
          WHERE CAST({agree} AS DOUBLE) / {_K} >= {_THRESHOLD}
        )"""


def _md5_pairs_oracle() -> str:
    return f"""
        WITH {_md5_pairs_ctes()}
        SELECT doc_a, doc_b, est_jaccard FROM thr
    """


def _md5_clusters_oracle() -> str:
    """Connected components over the md5 pairs: recursive-CTE min-label
    closure (the q_entity_resolution pattern — state (node, lbl) keeps
    only labels below the node, so the component minimum reaches every
    member and states stay bounded by n x cluster size). Every document
    is a node; isolated docs are their own singleton cluster."""
    return f"""
        WITH RECURSIVE {_md5_pairs_ctes()},
        sym AS (
          SELECT doc_a AS src, doc_b AS dst FROM thr
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM thr
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
    """


def _pagerank_oracle() -> str:
    """K rounds of integer fixed-point PageRank over the md5-pair graph
    as a generated AS MATERIALIZED CTE chain — bit-exact vs the Spark
    iteration because every step is bigint floor arithmetic."""
    teleport = (_PR_ALPHA_DEN - _PR_ALPHA_NUM) * _PR_INIT // _PR_ALPHA_DEN
    rounds = []
    for t in range(_PR_ITERS):
        prev = f"r{t}"
        rounds.append(f"""
        r{t + 1} AS MATERIALIZED (
          SELECT n.node,
                 CAST({teleport} + ({_PR_ALPHA_NUM} * COALESCE(i.s, 0))
                      // {_PR_ALPHA_DEN} AS BIGINT) AS pr
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, CAST(SUM(r.pr // d.deg) AS BIGINT) AS s
            FROM edges e
            JOIN {prev} r ON r.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) i ON i.node = n.node
        )""")
    chain = ",".join(rounds)
    return f"""
        WITH {_md5_pairs_ctes()},
        edges AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst FROM thr
          UNION
          SELECT doc_b AS src, doc_a AS dst FROM thr
        ),
        deg AS MATERIALIZED (
          SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
        ),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
        r0 AS MATERIALIZED (
          SELECT node, CAST({_PR_INIT} AS BIGINT) AS pr FROM nodes
        ),{chain}
        SELECT node AS doc_id, pr AS rank_fp FROM r{_PR_ITERS}
    """


def _markov_oracle() -> str:
    """K-step integer fixed-point distribution of the user event-type
    chain. Transition counts via the proven q_event_transitions lead
    shape; types never observed as a source get a unit self-loop (the
    dangling-state fix, stated identically on both sides)."""
    rounds = []
    for t in range(_MK_ITERS):
        rounds.append(f"""
        r{t + 1} AS MATERIALIZED (
          SELECT ty.t AS et, COALESCE(i.s, CAST(0 AS BIGINT)) AS mass
          FROM types ty LEFT JOIN (
            SELECT m.to_t, CAST(SUM((r.mass * m.n) // m.tot) AS BIGINT) AS s
            FROM mat m JOIN r{t} r ON r.et = m.from_t
            GROUP BY m.to_t
          ) i ON i.to_t = ty.t
        )""")
    chain = ",".join(rounds)
    return f"""
        WITH seq AS (
          SELECT event_type AS from_t,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS to_t
          FROM events
        ),
        tr AS (
          SELECT from_t, to_t, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE to_t IS NOT NULL GROUP BY from_t, to_t
        ),
        types AS MATERIALIZED (SELECT DISTINCT event_type AS t FROM events),
        trd AS (
          SELECT * FROM tr
          UNION ALL
          SELECT t AS from_t, t AS to_t, CAST(1 AS BIGINT) AS n
          FROM types WHERE NOT EXISTS
            (SELECT 1 FROM tr WHERE tr.from_t = types.t)
        ),
        mat AS MATERIALIZED (
          SELECT from_t, to_t, n,
                 CAST(SUM(n) OVER (PARTITION BY from_t) AS BIGINT) AS tot
          FROM trd
        ),
        r0 AS MATERIALIZED (
          SELECT t AS et, CAST({_MK_INIT} AS BIGINT) AS mass FROM types
        ),{chain}
        SELECT et AS event_type, mass AS mass_fp FROM r{_MK_ITERS}
    """


# ----------------------------------------------------------- Spark side


def markov_kstep(
    events: DataFrame, iters: int = _MK_ITERS, init: int = _MK_INIT
) -> DataFrame:
    """Distribution after ``iters`` steps of the user event-type chain
    from a uniform integer start — the oracle-checkable twin of
    ``markov_stationary`` (plans/inference.py). All arithmetic is
    bigint floor division, so the masses are engine-exact; 12 steps is
    deep enough that the ordering matches the numpy stationary
    distribution on the test corpus (property-tested).

    Unlike markov_stationary (which collects the k x k matrix driver-
    side for numpy), this stays entirely distributed: the matrix is a
    k^2-row DataFrame and each step is one broadcast-size join + one
    map-side-combined rollup: operators/graph.py::integer_power_rounds
    with no teleport and unit damping, so mass' = inflow. Types never
    observed as a source get a unit self-loop (dangling-state fix).
    Overflow headroom: mass <= k*init, times max transition count must
    fit bigint — ~1e9 events at the default init.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    tr = seq.filter(F.col("dst").isNotNull()).groupBy("src", "dst").agg(
        F.count("*").alias("n")
    )
    types = events.select(F.col("event_type").alias("node")).distinct()
    dangling = types.join(
        tr.select(F.col("src").alias("node")).distinct(), "node", "left_anti"
    ).select(
        F.col("node").alias("src"),
        F.col("node").alias("dst"),
        F.lit(1).cast("bigint").alias("n"),
    )
    ranks = integer_power_rounds(
        tr.unionByName(dangling), iters=iters, init=init, nodes=types
    )
    return ranks.select(F.col("node").alias("event_type"), F.col("r").alias("mass_fp"))


# ---------------------------------------------------------- registrations


@register(
    "q_dedup_fuzzy_exact",
    cost=2,
    category="dedup",
    doc=(
        "MinHash-LSH near-dup pairs with the md5 hash family — the "
        "hash-verified twin of q_dedup_fuzzy (xxhash64 stays the "
        "production family; md5 is the one hash DuckDB shares, making "
        "the full shingle->minhash->band->bucket-join pipeline "
        "replayable value-for-value in the oracle). est_jaccard = "
        "agree/16 is an exact binary fraction, so the float is "
        "hash-stable."
    ),
    oracle=_md5_pairs_oracle(),
)
def q_dedup_fuzzy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import md5_minhash_near_dups

    return md5_minhash_near_dups(
        load_table(spark, sf_dir, "documents"), threshold=_THRESHOLD
    )


@register(
    "q_dedup_clusters_exact",
    cost=3,
    category="dedup",
    doc=(
        "Fuzzy-dedup cluster resolution, hash-verified end-to-end: "
        "md5-MinHash LSH pairs -> connected components (iterative "
        "min-label propagation) -> (doc_id, cluster_id, keep). The "
        "oracle replays the pairs exactly and closes them with a "
        "recursive-CTE min-label closure (the q_entity_resolution "
        "pattern) — upgrading the q_dedup_clusters shape from "
        "rows-only to the driver's full hash gate."
    ),
    oracle=_md5_clusters_oracle(),
)
def q_dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import (
        connected_components,
        md5_minhash_near_dups,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = md5_minhash_near_dups(docs, threshold=_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    nodes = docs.select("doc_id")
    cc = connected_components(pairs, nodes)
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


@register(
    "q_graph_pagerank_exact",
    cost=4,
    category="dedup",
    doc=(
        "Integer fixed-point PageRank over the md5-MinHash near-dup "
        "graph — the hash-verified twin of q_graph_pagerank. Bigint "
        "floor arithmetic makes every round associative and therefore "
        "engine-exact; the oracle replays the pair generation AND six "
        "power-iteration rounds as a generated AS MATERIALIZED CTE "
        "chain. Rank ordering tracks the float pagerank "
        "(property-tested); the float entry stays the production shape."
    ),
    oracle=_pagerank_oracle(),
)
def q_graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import md5_minhash_near_dups
    from kafka_s3_etl_spark.operators.graph import pagerank_fixedpoint

    pairs = md5_minhash_near_dups(
        load_table(spark, sf_dir, "documents"), threshold=_THRESHOLD
    ).select("doc_a", "doc_b")
    return pagerank_fixedpoint(
        pairs,
        iters=_PR_ITERS,
        init=_PR_INIT,
        alpha_num=_PR_ALPHA_NUM,
        alpha_den=_PR_ALPHA_DEN,
    )


def _md5_simhash_oracle(max_hamming: int = 3) -> str:
    bits, chunks = 64, 4
    width = bits // chunks
    votes = ",\n                 ".join(
        f"SUM(CASE WHEN substr(d, {b + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    bitchars = " || ".join(
        f"(CASE WHEN v{b} > 0 THEN '1' ELSE '0' END)" for b in range(bits)
    )
    chunk_selects = "\n          UNION ALL\n          ".join(
        f"SELECT doc_id, sim, {c} AS chunk_id, "
        f"substr(sim, {c * width + 1}, {width}) AS chunk FROM sigs"
        for c in range(chunks)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, md5(t.tok) || md5('#' || t.tok) AS d
          FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        ),
        votes AS (
          SELECT doc_id,
                 {votes}
          FROM toks GROUP BY doc_id
        ),
        sigs AS MATERIALIZED (
          SELECT doc_id, {bitchars} AS sim FROM votes
        ),
        chunked AS (
          {chunk_selects}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(hamming(a.sim, b.sim) AS INTEGER) AS hamming
        FROM chunked a JOIN chunked b
          ON b.chunk_id = a.chunk_id AND b.chunk = a.chunk
             AND b.doc_id > a.doc_id
        WHERE hamming(a.sim, b.sim) <= {max_hamming}
    """


@register(
    "q_dedup_simhash_exact",
    cost=2,
    category="dedup",
    doc=(
        "SimHash near-dup twin, hash-verified: 64-bit fingerprint from "
        "the high bit of each hex nibble of md5(tok) || md5('#'||tok) "
        "(64 independent fair-coin projections), materialized as a "
        "'0'/'1' string so chunk banding and Hamming distance are "
        "engine-exact (DuckDB hamming() vs a generated 64-term "
        "comparison sum — identical by construction). 16-bit chunks, "
        "NOT 8: simhash bits correlate on natural text and the 8-bit "
        "variant measured a 65%-of-corpus bucket (7.5M candidates) at "
        "sf0.1. Production stays q_dedup_simhash (xxhash64 votes); "
        "this twin puts the hash gate on the chunk-band shape."
    ),
    oracle=_md5_simhash_oracle(),
)
def q_dedup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import md5_simhash_near_dups

    return md5_simhash_near_dups(load_table(spark, sf_dir, "documents"))


# Per-stratum hash-sampling rates: threshold on the first 8 hex chars
# of md5(doc_id) — fixed-width lowercase hex compares identically as a
# string in both engines. '80000000' keeps ~1/2, '40000000' ~1/4.
_SAMPLE_RATES = {"en": "80000000", "de": "40000000", "fr": "40000000"}
_SAMPLE_DEFAULT = "20000000"  # ~1/8 for every other language


def _hash_sample_oracle() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN '{thr}'"
        for lang, thr in sorted(_SAMPLE_RATES.items())
    )
    return f"""
        SELECT doc_id, lang
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              < (CASE {whens} ELSE '{_SAMPLE_DEFAULT}' END)
    """


@register(
    "q_sample_hash",
    category="prep",
    doc=(
        "Deterministic hash-based stratified sampling — the "
        "REPRODUCIBLE sampling a 100 TB pipeline actually ships "
        "(rng-seeded sample() output changes with partitioning; a "
        "hash threshold on the record key never does, and rerunning "
        "any subset of partitions yields the same rows). Per-language "
        "rates via a hex threshold on md5(doc_id); exactly replayable, "
        "so unlike q_sample_stratified (RNG, rows-only) this entry is "
        "hash-verified. No shuffle at all: a scan-level filter."
    ),
    oracle=_hash_sample_oracle(),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN '{thr}'"
        for lang, thr in sorted(_SAMPLE_RATES.items())
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.expr(
                f"substring(md5(CAST(doc_id AS STRING)), 1, 8) "
                f"< (CASE {whens} ELSE '{_SAMPLE_DEFAULT}' END)"
            )
        )
        .select("doc_id", "lang")
    )


@register(
    "q_markov_kstep",
    cost=2,
    category="temporal",
    doc=(
        "12-step integer fixed-point distribution of the user "
        "event-type Markov chain — the hash-verified twin of "
        "q_markov_stationary (which power-iterates a driver-collected "
        "matrix in numpy and is rows-only because float sums are "
        "association-dependent). Fully distributed: k^2-row transition "
        "matrix, one join + one rollup per step, unit self-loops for "
        "dangling types; oracle replays all 12 rounds in a materialized "
        "CTE chain."
    ),
    oracle=_markov_oracle(),
)
def q_markov_kstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markov_kstep(load_table(spark, sf_dir, "events"))


# ------------------------------------------------- batch 35: BPE merges

_BPE_ROUNDS = 4


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Generated CTE chain: each round counts adjacent-symbol pairs,
    picks the top pair on the (n DESC, x, y) total order, and rewrites
    every sequence with the pair fused — the exact word-level analogue
    of a BPE tokenizer-training step. Merges are restricted to x != y,
    which makes merge sites provably non-overlapping (a consumed
    position holds y and a start needs x), so the rewrite is pure
    window arithmetic with no sequential scan."""
    parts = ["""
        seq0 AS MATERIALIZED (
          SELECT doc_id, t.i + 1 AS pos, w[t.i + 1] AS sym
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
               UNNEST(range(len(w))) AS t(i)
        )"""]
    for r in range(rounds):
        parts.append(f"""
        pc{r} AS (
          SELECT a.sym AS x, b.sym AS y, COUNT(*) AS n
          FROM seq{r} a JOIN seq{r} b
            ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
          WHERE a.sym != b.sym
          GROUP BY a.sym, b.sym
        ),
        top{r} AS MATERIALIZED (
          SELECT x, y, n FROM pc{r} ORDER BY n DESC, x, y LIMIT 1
        ),
        m{r} AS (
          SELECT s.doc_id, s.pos, s.sym,
                 COALESCE(s.sym = t.x AND LEAD(s.sym) OVER w = t.y,
                          FALSE) AS starts,
                 t.x AS tx, t.y AS ty
          FROM seq{r} s, top{r} t
          WINDOW w AS (PARTITION BY s.doc_id ORDER BY s.pos)
        ),
        f{r} AS (
          SELECT doc_id, pos, sym, starts, tx, ty,
                 COALESCE(LAG(starts) OVER (PARTITION BY doc_id
                                            ORDER BY pos),
                          FALSE) AS consumed
          FROM m{r}
        ),
        seq{r + 1} AS MATERIALIZED (
          SELECT doc_id,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
                 CASE WHEN starts THEN tx || ' ' || ty ELSE sym END AS sym
          FROM f{r} WHERE NOT consumed
        )""")
    tops = "\n          UNION ALL\n          ".join(
        f"SELECT {r} AS round, x, y, CAST(n AS BIGINT) AS n FROM top{r}"
        for r in range(rounds)
    )
    return f"""
        WITH {",".join(parts)}
        {tops}
    """


@register(
    "q_bpe_merges",
    cost=2,
    category="text",
    doc=(
        "The first 4 BPE merge rounds learned from the corpus at the "
        "word level (collocation mining — the tokenizer-training "
        "inner loop): count adjacent-symbol pairs, fuse the most "
        "frequent pair everywhere (total-order tie-break n DESC, x, "
        "y; x != y keeps merge sites non-overlapping so the rewrite "
        "is pure window arithmetic), repeat on the rewritten "
        "sequences. Fully deterministic -> exact CTE-chain oracle. "
        "Scale shape per round: one map-side-combined pair rollup, a "
        "TakeOrdered top-1 (never a global sort), windows partitioned "
        "by doc_id, and the top pair rides a 1-row broadcast."
    ),
    oracle=_bpe_oracle(),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seq = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "sym")
    ).select("doc_id", (F.col("p") + 1).alias("pos"), "sym")
    w = Window.partitionBy("doc_id").orderBy("pos")
    merges = None
    for r in range(_BPE_ROUNDS):
        seq = seq.localCheckpoint()
        pairs = (
            seq.select("doc_id", F.col("sym").alias("x"),
                       F.lead("sym").over(w).alias("y"))
            .filter(F.col("y").isNotNull() & (F.col("x") != F.col("y")))
            .groupBy("x", "y")
            .agg(F.count("*").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), "x", "y").limit(1)
        row = top.select(
            F.lit(r).alias("round"), "x", "y", F.col("n").cast("bigint")
        )
        merges = row if merges is None else merges.unionByName(row)
        marked = seq.crossJoin(
            F.broadcast(top.select(F.col("x").alias("tx"),
                                   F.col("y").alias("ty")))
        ).select(
            "doc_id",
            "pos",
            "sym",
            "tx",
            "ty",
            F.coalesce(
                (F.col("sym") == F.col("tx"))
                & (F.lead("sym").over(w) == F.col("ty")),
                F.lit(False),
            ).alias("starts"),
        )
        filtered = marked.select(
            "*",
            F.coalesce(F.lag("starts").over(w), F.lit(False)).alias(
                "consumed"
            ),
        ).filter(~F.col("consumed"))
        seq = filtered.select(
            "doc_id",
            F.row_number().over(w).alias("pos"),
            F.when(F.col("starts"),
                   F.concat_ws(" ", "tx", "ty")).otherwise(
                F.col("sym")
            ).alias("sym"),
        )
    return merges


# -------------------------- batch 36: embedding dedup cluster resolution

_EMB_CC_THRESHOLD = 0.2  # matched to the synthetic corpus, as q_dedup_embedding


def _embedding_clusters_oracle(threshold: float = _EMB_CC_THRESHOLD) -> str:
    """Chains the two proven oracle pieces end-to-end: the pinned-sign
    LSH bucket replay + exact cosine verify (the q_dedup_embedding
    oracle) feeding the recursive-CTE min-label closure (the
    q_entity_resolution / q_dedup_clusters_exact pattern). Every vector
    is a node; isolated vectors are singleton clusters."""
    from kafka_s3_etl_spark.plans.llm import ann_sign_rows

    rows = ann_sign_rows()
    return f"""
        WITH RECURSIVE signs(table_id, bit, s) AS (VALUES {rows}),
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
        ),
        thr AS MATERIALIZED (
          SELECT c.vec_a, c.vec_b
          FROM cand c
          JOIN base ea ON ea.vec_id = c.vec_a
          JOIN base eb ON eb.vec_id = c.vec_b
          WHERE list_cosine_similarity(ea.e, eb.e) >= {threshold}
        ),
        sym AS (
          SELECT vec_a AS src, vec_b AS dst FROM thr
          UNION ALL
          SELECT vec_b AS src, vec_a AS dst FROM thr
        ),
        reach AS (
          SELECT vec_id AS node, vec_id AS lbl FROM embeddings
          UNION
          SELECT s.dst AS node, r.lbl
          FROM reach r JOIN sym s ON r.node = s.src
          WHERE r.lbl < s.dst
        )
        SELECT node AS vec_id, MIN(lbl) AS cluster_id,
               node = MIN(lbl) AS keep
        FROM reach GROUP BY node
    """


@register(
    "q_dedup_embedding_clusters",
    cost=3,
    category="dedup",
    doc=(
        "Embedding dedup CLUSTER resolution, hash-verified end-to-end: "
        "sign-LSH candidate pairs -> exact double-cosine verify (the "
        "q_dedup_embedding machinery) -> connected components -> "
        "(vec_id, cluster_id, keep). This is the operator a 100 TB "
        "semantic dedup actually ships — pairs alone do not dedup; "
        "the transitive closure picks one canonical representative "
        "per near-dup group. Oracle chains the pinned-sign LSH replay "
        "with a recursive-CTE min-label closure."
    ),
    oracle=_embedding_clusters_oracle(),
)
def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import connected_components
    from kafka_s3_etl_spark.operators.similarity import embedding_near_dups_ann
    from kafka_s3_etl_spark.plans.llm import (
        _ANN_DEDUP_PLANES,
        _ANN_DEDUP_TABLES,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Exact-dup pre-pass (the q_simjoin_prefix discipline): bit-identical
    # vectors have identical buckets and cosines, so collapsing each
    # identity group to its min-id representative and re-attaching the
    # twins by (rep, twin) identity edges preserves components EXACTLY —
    # the component minimum is always a representative (each rep is the
    # min of its group). Without this, k exact copies of a vector
    # contribute O(k^2) LSH pairs: the 10x twinned probe measured 11.1x
    # before the pre-pass, 100x data means 100x-squared edges inside
    # every duplicate clique. With it, ANN edges are bounded by UNIQUE
    # vectors and the identity edges are linear in corpus size — exact
    # duplicates are the dominant case in a crawled corpus, so this is
    # the shape a 100 TB semantic dedup actually runs. (The PAIRS entry
    # q_dedup_embedding stays quadratic by definition of its output;
    # clusters are the scalable deliverable.)
    #
    # Accepted risk (ADVICE r9 #4): xxhash64(embedding) equality is
    # treated as vector identity without a confirming comparison — a
    # 64-bit collision between DISTINCT vectors (~1e-19 per pair,
    # ~1e-11 across 10^9 vectors pairwise-within-buckets) would
    # fabricate an identity edge and merge two components. A
    # certainty-grade deployment swaps in md5 over the serialized
    # vector (128 bits) at the identical plan shape — exact_dedup's
    # docstring names the same seam.
    grouped = emb.select(
        "vec_id", "embedding", F.xxhash64("embedding").alias("gfp")
    )
    rep_w = Window.partitionBy("gfp").orderBy("vec_id")
    with_rep = grouped.select(
        "vec_id",
        "embedding",
        F.min("vec_id").over(rep_w.rowsBetween(Window.unboundedPreceding,
                                               Window.unboundedFollowing))
        .alias("rep"),
    ).localCheckpoint()
    reps = with_rep.filter(F.col("vec_id") == F.col("rep")).select(
        "vec_id", "embedding"
    )
    ann_pairs = embedding_near_dups_ann(
        reps,
        threshold=_EMB_CC_THRESHOLD,
        planes=_ANN_DEDUP_PLANES,
        tables=_ANN_DEDUP_TABLES,
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    identity_edges = with_rep.filter(F.col("vec_id") != F.col("rep")).select(
        F.col("rep").alias("doc_a"), F.col("vec_id").alias("doc_b")
    )
    pairs = ann_pairs.unionByName(identity_edges)
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    cc = connected_components(pairs, nodes)
    return cc.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


# ------------------------- batch 37: LSH threshold quality audit


def _dedup_precision_oracle() -> str:
    """Extends the md5-pair CTEs with exact set Jaccard over the
    CANDIDATE pairs only (never all pairs): intersections via an
    (doc, shingle) equi join keyed by the candidate list, truth test in
    integer form (2*i >= u  <=>  i/u >= 0.5) so no float ever enters
    the hash, and exact bigint sums of intersection/union sizes per
    estimate bucket."""
    return f"""
        WITH {_md5_pairs_ctes()},
        sizes AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
        ),
        inter AS (
          SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS i
          FROM thr p
          JOIN sh a ON a.doc_id = p.doc_a
          JOIN sh b ON b.doc_id = p.doc_b AND b.s = a.s
          GROUP BY p.doc_a, p.doc_b
        ),
        scored AS (
          SELECT CAST(ROUND(p.est_jaccard * 16) AS INTEGER) AS bucket,
                 COALESCE(i.i, 0) AS i,
                 sa.n + sb.n - COALESCE(i.i, 0) AS u
          FROM thr p
          JOIN sizes sa ON sa.doc_id = p.doc_a
          JOIN sizes sb ON sb.doc_id = p.doc_b
          LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        )
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN 2 * i >= u THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true,
               CAST(SUM(i) AS BIGINT) AS sum_inter,
               CAST(SUM(u) AS BIGINT) AS sum_union
        FROM scored GROUP BY bucket
    """


@register(
    "q_dedup_precision_audit",
    cost=2,
    category="dedup",
    doc=(
        "LSH threshold quality audit — the 'did my MinHash bands lie "
        "to me' check every dedup pipeline runs before committing to "
        "a threshold: for each md5-MinHash candidate pair, the EXACT "
        "word-3-gram Jaccard (computed only over candidates, never "
        "all pairs), rolled up per estimate bucket (agree/16) as "
        "(n_pairs, n_true at the 0.5 truth line, exact intersection/"
        "union sums). Truth test in integer form 2*i >= u, sums in "
        "bigint — no float enters the hash. Intersections ride one "
        "(doc, shingle) equi join keyed by the candidate list."
    ),
    oracle=_dedup_precision_oracle(),
)
def q_dedup_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import (
        md5_minhash_near_dups,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    # NOT localCheckpointed despite the 2x pairs / 3x shingle fan-out:
    # the r14 A/B measured materialization SLOWER here (4.5s plan-as-is
    # vs 4.8s pairs-only vs 5.1-6.1s both, 3-rep noop) — the recompute
    # is cheap relative to the eager-materialization job + the lost
    # size statistics (a LogicalRDD defeats broadcast planning).
    pairs = md5_minhash_near_dups(docs, threshold=_THRESHOLD)
    sh = word_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("i"))
    )
    scored = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"),
                         F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"),
                         F.col("n").alias("nb")),
            "doc_b",
        )
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            F.round(F.col("est_jaccard") * 16).cast("int").alias("bucket"),
            F.coalesce("i", F.lit(0).cast("bigint")).alias("i"),
            (F.col("na") + F.col("nb")
             - F.coalesce("i", F.lit(0).cast("bigint"))).alias("u"),
        )
    )
    return scored.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.when(2 * F.col("i") >= F.col("u"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true"),
        F.sum("i").cast("bigint").alias("sum_inter"),
        F.sum("u").cast("bigint").alias("sum_union"),
    )


# --------------------- batch 38: leakage-safe train/val splitting

# ~4/5 of the hex space -> ~80/20 split; fixed-width lowercase hex
# compares identically as a string in both engines.
_SPLIT_HEX = "cccccccc"


def _cluster_split_sql_frag(idcol: str) -> str:
    return (
        f"CASE WHEN substr(md5(CAST({idcol} AS VARCHAR)), 1, 8) "
        f"< '{_SPLIT_HEX}' THEN 'train' ELSE 'val' END"
    )


def _split_safe_oracle() -> str:
    return f"""
        WITH RECURSIVE {_md5_pairs_ctes()},
        sym AS (
          SELECT doc_a AS src, doc_b AS dst FROM thr
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM thr
        ),
        reach AS (
          SELECT doc_id AS node, doc_id AS lbl FROM documents
          UNION
          SELECT s.dst AS node, r.lbl
          FROM reach r JOIN sym s ON r.node = s.src
          WHERE r.lbl < s.dst
        ),
        cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
               FROM reach GROUP BY node)
        SELECT doc_id, cluster_id,
               {_cluster_split_sql_frag("cluster_id")} AS split
        FROM cc
    """


def _split_audit_oracle() -> str:
    return f"""
        WITH RECURSIVE {_md5_pairs_ctes()},
        sym AS (
          SELECT doc_a AS src, doc_b AS dst FROM thr
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM thr
        ),
        reach AS (
          SELECT doc_id AS node, doc_id AS lbl FROM documents
          UNION
          SELECT s.dst AS node, r.lbl
          FROM reach r JOIN sym s ON r.node = s.src
          WHERE r.lbl < s.dst
        ),
        cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
               FROM reach GROUP BY node),
        cluster_split AS (
          SELECT doc_id, {_cluster_split_sql_frag("cluster_id")} AS split
          FROM cc
        ),
        doc_split AS (
          SELECT doc_id, {_cluster_split_sql_frag("doc_id")} AS split
          FROM documents
        )
        SELECT 'cluster_hash' AS split_mode,
               CAST(SUM(CASE WHEN a.split != b.split THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_leaking_pairs
        FROM thr p
        JOIN cluster_split a ON a.doc_id = p.doc_a
        JOIN cluster_split b ON b.doc_id = p.doc_b
        UNION ALL
        SELECT 'doc_hash' AS split_mode,
               CAST(SUM(CASE WHEN a.split != b.split THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_leaking_pairs
        FROM thr p
        JOIN doc_split a ON a.doc_id = p.doc_a
        JOIN doc_split b ON b.doc_id = p.doc_b
    """


def _cluster_split_col(idcol: str):
    return F.expr(
        f"IF(substring(md5(CAST({idcol} AS STRING)), 1, 8) "
        f"< '{_SPLIT_HEX}', 'train', 'val')"
    )


@register(
    "q_split_leakage_safe",
    cost=3,
    category="prep",
    doc=(
        "Leakage-safe train/val split: near-dup CLUSTERS, not "
        "documents, are the unit of assignment — a hash threshold on "
        "the cluster id sends every member of a near-dup group to the "
        "same side, so no training document has a near-duplicate in "
        "the eval set (the test-set-contamination failure mode a "
        "doc-level split cannot prevent). Deterministic and "
        "partitioning-independent like q_sample_hash; clusters from "
        "the md5-MinHash CC pipeline, hash-verified end-to-end."
    ),
    oracle=_split_safe_oracle(),
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import (
        connected_components,
        md5_minhash_near_dups,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = md5_minhash_near_dups(docs, threshold=_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    cc = connected_components(pairs, docs.select("doc_id"))
    return cc.select(
        "doc_id", "cluster_id", _cluster_split_col("cluster_id").alias("split")
    )


@register(
    "q_split_leakage_audit",
    cost=3,
    category="prep",
    doc=(
        "The proof the cluster split matters: count near-dup pairs "
        "straddling train/val under (a) the cluster-hash split — "
        "structurally zero — and (b) the naive doc-hash split, which "
        "leaks ~2*p*(1-p) of every near-dup pair across the boundary. "
        "Two-row report (split_mode, n_leaking_pairs), exact bigint "
        "counts, hash-verified."
    ),
    oracle=_split_audit_oracle(),
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import (
        connected_components,
        md5_minhash_near_dups,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = md5_minhash_near_dups(docs, threshold=_THRESHOLD).select(
        "doc_a", "doc_b"
    ).localCheckpoint()
    cc = connected_components(pairs, docs.select("doc_id"))
    cluster_split = cc.select(
        "doc_id", _cluster_split_col("cluster_id").alias("split")
    )
    doc_split = docs.select(
        "doc_id", _cluster_split_col("doc_id").alias("split")
    )
    def leak(split_df, mode):
        return (
            pairs.join(
                split_df.select(F.col("doc_id").alias("doc_a"),
                                F.col("split").alias("sa")),
                "doc_a",
            )
            .join(
                split_df.select(F.col("doc_id").alias("doc_b"),
                                F.col("split").alias("sb")),
                "doc_b",
            )
            .agg(
                F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_leaking_pairs")
            )
            .select(F.lit(mode).alias("split_mode"), "n_leaking_pairs")
        )

    return leak(cluster_split, "cluster_hash").unionByName(
        leak(doc_split, "doc_hash")
    )


# ------------------- batch 39: dedup threshold sensitivity curve


def _threshold_curve_oracle() -> str:
    """For every candidate threshold t (in 16ths, from the 0.5 band cut
    up to exact duplicates): how many docs a keep-lowest-id dedup would
    drop. A doc is dropped at t iff it has a LOWER-id candidate partner
    with est >= t, so the whole curve is one per-doc max over the pairs
    plus a tiny threshold cross join — no re-run per knob setting."""
    lo = int(_THRESHOLD * _K)
    return f"""
        WITH {_md5_pairs_ctes()},
        per_doc AS (
          SELECT doc_b AS doc_id,
                 MAX(CAST(ROUND(est_jaccard * {_K}) AS INTEGER)) AS max_agree
          FROM thr GROUP BY doc_b
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
        ts AS (SELECT UNNEST(range({lo}, {_K} + 1)) AS t)
        SELECT CAST(ts.t AS INTEGER) AS threshold_16ths,
               CAST(COALESCE(SUM(CASE WHEN p.max_agree >= ts.t
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_dropped,
               n.total - CAST(COALESCE(SUM(CASE WHEN p.max_agree >= ts.t
                                               THEN 1 ELSE 0 END), 0)
                              AS BIGINT) AS n_surviving
        FROM ts CROSS JOIN n LEFT JOIN per_doc p ON TRUE
        GROUP BY ts.t, n.total
    """


@register(
    "q_dedup_threshold_curve",
    cost=2,
    category="dedup",
    doc=(
        "Dedup threshold sensitivity curve — how many documents a "
        "keep-lowest-id dedup drops at EVERY candidate threshold "
        "(est in 16ths from the band cut to exact): one per-doc max "
        "over the md5-MinHash pairs, then a 9-row threshold spine — "
        "the whole tuning curve from a single pipeline pass instead "
        "of re-running dedup per knob setting. Exact bigint counts, "
        "hash-verified."
    ),
    oracle=_threshold_curve_oracle(),
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import md5_minhash_near_dups

    docs = load_table(spark, sf_dir, "documents")
    lo = int(_THRESHOLD * _K)
    pairs = md5_minhash_near_dups(docs, threshold=_THRESHOLD)
    per_doc = (
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.round(F.col("est_jaccard") * _K).cast("int").alias("agree"),
        )
        .groupBy("doc_id")
        .agg(F.max("agree").alias("max_agree"))
    )
    total = docs.agg(F.count("*").cast("bigint").alias("total"))
    ts = docs.sparkSession.range(lo, _K + 1).select(
        F.col("id").cast("int").alias("threshold_16ths")
    )
    dropped = (
        ts.crossJoin(F.broadcast(total))
        .join(
            per_doc.crossJoin(
                F.broadcast(ts.select(F.col("threshold_16ths").alias("t")))
            )
            .filter(F.col("max_agree") >= F.col("t"))
            .groupBy("t")
            .agg(F.count("*").cast("bigint").alias("n_dropped")),
            F.col("threshold_16ths") == F.col("t"),
            "left",
        )
        .select(
            "threshold_16ths",
            F.coalesce("n_dropped", F.lit(0).cast("bigint")).alias(
                "n_dropped"
            ),
            (
                F.col("total")
                - F.coalesce("n_dropped", F.lit(0).cast("bigint"))
            ).alias("n_surviving"),
        )
    )
    return dropped


# ---------------------------------------------------- round 10, batch 46

_LPA_ITERS = 4


def _lpa_kstep_oracle(iters: int = _LPA_ITERS) -> str:
    """K full synchronous LPA sweeps over the md5-pair graph as a
    generated AS MATERIALIZED CTE chain (the pagerank_fixedpoint
    replay pattern): per round, vote counts via one join + group, then
    arg-max-count/min-label via lexicographic struct MIN — all integer
    arithmetic, bit-exact across engines."""
    rounds = []
    for t in range(iters):
        rounds.append(f"""
        r{t + 1} AS MATERIALIZED (
          SELECT node, MIN({{'c': -c, 'l': lbl}})['l'] AS lbl FROM (
            SELECT e.src AS node, r.lbl AS lbl,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM edges e JOIN r{t} r ON r.node = e.dst
            GROUP BY e.src, r.lbl
          ) GROUP BY node
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
          SELECT doc_id AS node, doc_id AS lbl FROM documents
        ),{chain}
        SELECT node, CAST(lbl AS BIGINT) AS community FROM r{iters}
    """


@register(
    "q_label_propagation_kstep",
    cost=3,
    category="graph",
    doc=(
        "Fixed-4-round synchronous label propagation over the "
        "md5-MinHash near-dup graph — the hash-verified twin of "
        "q_label_propagation (the pagerank_fixedpoint move applied to "
        "LPA: the production operator iterates to a data-dependent "
        "fixpoint and frontier-prunes, which no static SQL can "
        "restate; K full sweeps of the same pure-integer update — "
        "most frequent label in N(v)+{v}, ties to the smallest — "
        "replay as a MATERIALIZED CTE chain). Completes the "
        "iterative-family twin set: pagerank/markov (r9 batch 34), "
        "connected components (r9), LPA (r10)."
    ),
    oracle=_lpa_kstep_oracle(),
)
def q_label_propagation_kstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.dedup import md5_minhash_near_dups
    from kafka_s3_etl_spark.operators.graph import label_propagation_kstep

    docs = load_table(spark, sf_dir, "documents")
    pairs = md5_minhash_near_dups(docs, threshold=_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    return label_propagation_kstep(
        pairs, docs.select("doc_id"), iters=_LPA_ITERS
    )
