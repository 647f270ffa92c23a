"""Deduplication operators for LLM training-data pipelines.

Five dedup families (SURVEY.md section 2b M8), all expressed with
built-in JVM expressions — hashing, bit arithmetic, explode/groupBy —
so they scale as ordinary shuffles (no Python in the hot path, no
collect, no cartesian products):

* exact          — deterministic keep-lowest-id per normalized text;
* MinHash + LSH  — shingle -> K minhashes -> banded bucket join: only
                   same-bucket pairs are compared, the standard
                   near-linear near-dup pipeline (Broder '97 MinHash,
                   banding per Leskovec et al., Mining of Massive
                   Datasets ch. 3);
* SimHash        — 64-bit sign fingerprint via per-bit token votes
                   (Charikar '02), near-dups = small Hamming distance,
                   candidate generation by 16-bit chunk bands;
* n-gram Jaccard — exact word-shingle Jaccard for candidate pairs;
* embedding      — cosine near-dup over the embeddings table (see
                   operators/similarity.py for the general ANN path).

Scale notes: every self-join here is an equi join on a band/bucket key,
so Spark hash-partitions both sides on the key and never broadcasts or
nests loops. At 100 TB the only knobs needed are shuffle partitions
and (for skewed buckets: identical boilerplate docs) AQE skew split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_s3_etl_spark.operators.graph import fixpoint, symmetrize_pairs

MINHASH_K = 16  # number of hash functions
LSH_BANDS = 4  # bands of r = K/bands rows each
SHINGLE_N = 3  # word-shingle width
SIMHASH_BITS = 64


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per exact text; deterministic (unlike a
    bare dropDuplicates, which keeps an arbitrary row).

    The window partitions on a 64-bit hash of the text, not the text
    itself, and the body is projected away BEFORE the shuffle — at
    100 TB the exchange moves fixed-width fingerprints, not document
    bodies. (A 64-bit collision between distinct texts is ~1e-19 per
    pair; an engine needing certainty swaps in md5's 128 bits at the
    same plan shape.)"""
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        documents.select(
            "doc_id", "lang", "source", "n_chars", F.xxhash64("text").alias("fp")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


def incremental_new_docs(documents: DataFrame) -> DataFrame:
    """Incremental-ingestion dedup: docs in the 'new' half whose content
    fingerprint does not appear in the 'seen' half — a left anti join on
    the fingerprint, the per-batch shape of a rolling corpus pipeline
    (the seen side is the fingerprint store; only fingerprints shuffle,
    never document bodies)."""
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    fps = documents.select("doc_id", fp.alias("fp"))
    mid = fps.agg(((F.max("doc_id") + F.min("doc_id")) / 2).alias("mid"))
    with_mid = fps.crossJoin(F.broadcast(mid))
    new = with_mid.filter(F.col("doc_id") > F.col("mid")).select("doc_id", "fp")
    seen = with_mid.filter(F.col("doc_id") <= F.col("mid")).select("fp")
    return new.join(seen, "fp", "left_anti").select("doc_id", "fp")


def word_shingles(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) rows: distinct word n-grams per document."""
    words = documents.select("doc_id", F.split("text", " ").alias("w"))
    shingle_expr = (
        f"transform(sequence(0, size(w) - {n}), i -> "
        f"concat_ws(' ', slice(w, i + 1, {n})))"
    )
    return (
        words.filter(F.size("w") >= n)
        .select("doc_id", F.explode(F.expr(shingle_expr)).alias("shingle"))
        .distinct()
    )


def shingle_hashes(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, h) rows: 8-byte hashes of word n-grams, duplicates KEPT.

    No distinct: ``min()`` is idempotent under duplicates, so the
    minhash of the shingle multiset equals the minhash of the set — a
    dedup shuffle here would be pure waste. The downstream signature
    aggregation is map-side combined, so the exploded rows never shuffle
    at all (only one partial row per doc per partition does). Operators
    needing true set semantics (exact Jaccard) use ``word_shingles``
    + distinct instead."""
    words = documents.select("doc_id", F.split("text", " ").alias("w"))
    shingle_expr = (
        f"transform(sequence(0, size(w) - {n}), i -> "
        f"concat_ws(' ', slice(w, i + 1, {n})))"
    )
    return (
        words.filter(F.size("w") >= n)
        .select("doc_id", F.explode(F.expr(shingle_expr)).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("h"))
    )


def minhash_signatures(hashes: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """K minhashes per doc in ONE aggregation pass, map-side combined.

    Input is ``shingle_hashes`` output; the K hash functions re-hash the
    8-byte shingle hash with per-function seeds (fixed-width input, far
    cheaper than k full string scans). NOTE: affine maps a_i*h+b_i mod p
    are NOT a valid cheap alternative here — with the multiplier range
    bigint overflow allows, they wrap at most once and stay
    piecewise-monotone in h, so every "permutation" picks nearly the
    same argmin shingle and Jaccard estimates collapse upward (measured:
    17x more >=0.5 pairs on the sf0.1 corpus).
    """
    # expr strings, not Column operators: one py4j round-trip per
    # aggregate instead of several (same build-time trap as
    # simhash_signatures); integer literals parse as INT, matching the
    # F.lit(i) seeds bit-for-bit
    hashed = hashes.select(
        "doc_id",
        *[F.expr(f"xxhash64(h, {i}) AS h{i}") for i in range(k)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.expr(f"min(h{i}) AS mh{i}") for i in range(k)]
    )


def _banded_signatures(
    signatures: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    key: str = "xxhash64",
) -> DataFrame:
    """One row per (doc, band): the band's bucket key — the SQL function
    ``key`` over the band's minhash columns — plus the full signature as
    an array, so the downstream band join never has to join back to the
    signature table."""
    r = k // bands
    band_structs = ", ".join(
        "struct({b} AS band_id, {key}({cols}) AS key)".format(
            b=b, key=key, cols=", ".join(f"mh{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    sig_cols = ", ".join(f"mh{i}" for i in range(k))
    return signatures.select(
        "doc_id",
        F.expr(f"array({sig_cols}) AS sig"),
        F.explode(F.expr(f"array({band_structs})")).alias("band"),
    ).select("doc_id", "sig", "band.band_id", "band.key")


def _band_pairs(
    banded: DataFrame,
    k: int,
    threshold: float,
    other: DataFrame | None = None,
) -> DataFrame:
    """Band-join candidates with est_jaccard = agreeing minhashes / k,
    kept at/above ``threshold``, one row per pair. Without ``other`` it
    is the self-join (doc_a, doc_b, est_jaccard) with doc_a < doc_b;
    with ``other`` it is the one-sided join (new_doc, base_doc,
    est_jaccard) of ``banded`` against ``other``."""
    a = banded.alias("a")
    b = (banded if other is None else other).alias("b")
    on = (F.col("a.band_id") == F.col("b.band_id")) & (
        F.col("a.key") == F.col("b.key")
    )
    names = ("new_doc", "base_doc")
    if other is None:
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
        names = ("doc_a", "doc_b")
    agree: Column = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        a.join(b, on)
        .select(
            F.col("a.doc_id").alias(names[0]),
            F.col("b.doc_id").alias(names[1]),
            (agree.cast("double") / k).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def minhash_near_dups(
    documents: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Full MinHash-LSH pipeline: candidates + estimated Jaccard
    (fraction of agreeing minhashes) filtered at ``threshold``.

    Single self-join: each band row carries the whole K-wide signature,
    so the estimate is computed inline from the two sig arrays — no
    join back to the signature table (which would re-run the shingle/
    minhash lineage). Both join inputs are the identical subplan shuffled
    on the same key, so Spark reuses one exchange for both sides.
    """
    banded = _banded_signatures(
        minhash_signatures(shingle_hashes(documents), k), k, bands
    )
    return _band_pairs(banded, k, threshold)


def md5_minhash_signatures(
    documents: DataFrame, k: int = MINHASH_K, n: int = SHINGLE_N
) -> DataFrame:
    """Oracle-replayable MinHash signatures: every hash is md5, the one
    cryptographic hash Spark and DuckDB share, so the full signature —
    and therefore LSH bucketing and the agreement estimate downstream —
    is engine-exact (hex strings compare lexicographically the same as
    the underlying 128-bit values: fixed width, lowercase both sides).

    Production keeps the xxhash64 family (``minhash_signatures``, ~5x
    cheaper per shingle); this twin exists so the fuzzy-dedup pipeline
    has a fully hash-verified DuckDB oracle. Same plan shape: explode ->
    map-side-combined MIN per seed, per-seed values derived by
    re-hashing the 32-char shingle digest with the seed appended
    (fixed-width re-hash input, one long md5 per shingle).
    Returns (doc_id, mh0..mh{k-1}) with each mh a 32-char hex string.
    """
    words = documents.select("doc_id", F.split("text", " ").alias("w"))
    shingle_expr = (
        f"transform(sequence(0, size(w) - {n}), i -> "
        f"concat_ws(' ', slice(w, i + 1, {n})))"
    )
    grams = (
        words.filter(F.size("w") >= n)
        .select("doc_id", F.explode(F.expr(shingle_expr)).alias("shingle"))
        .select("doc_id", F.expr("md5(shingle) AS g"))
    )
    return grams.groupBy("doc_id").agg(
        *[F.expr(f"min(md5(concat(g, '{i}'))) AS mh{i}") for i in range(k)]
    )


def md5_minhash_near_dups(
    documents: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """``minhash_near_dups`` with the md5 hash family — identical LSH
    shape (banded bucket self-join, signature carried on the band rows,
    single exchange reused for both join sides), but every value is
    reproducible in ANSI SQL, so the whole pipeline is DuckDB-hash-
    checkable. est_jaccard = agree/k is an exact binary fraction
    (k = 16), so the float itself is hash-stable too.

    Band keys are the concatenation of the band's fixed-width hex
    minhashes — unambiguous without another hash, and exactly
    replayable as ``mh_i || mh_j || ...`` on the oracle side.
    """
    banded = _banded_signatures(
        md5_minhash_signatures(documents, k), k, bands, key="concat"
    )
    return _band_pairs(banded, k, threshold)


def md5_simhash_near_dups(
    documents: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Oracle-replayable SimHash twin: a 64-bit fingerprint whose bit b
    is the majority vote of the HIGH BIT of hex nibble b of
    md5(token) || md5('#' || token) over the document's tokens (each
    nibble's high bit is a fair coin, so the 64 bits are independent
    Charikar-style projections; one md5 yields only 32 nibbles, hence
    the second salted digest). The fingerprint is materialized as a
    64-char '0'/'1' STRING — string ops are the md5-era common ground
    with ANSI SQL, so bucketing, Hamming distance and the threshold
    are engine-exact.

    Candidates share one of four 16-BIT chunks (pigeonhole covers
    Hamming <= 3 over 64 bits) — the same chunk width as the
    production ``simhash_near_dups``, and deliberately so: SimHash
    bits are highly correlated on a natural corpus (common tokens
    dominate every vote), and an 8-bit-chunk variant measured one
    bucket holding 65% of all docs at sf0.1 (7.5M candidate pairs,
    99 s); 16-bit chunks split the same corpus to trivial buckets.
    Returns (doc_a, doc_b, hamming) after the exact Hamming filter.
    """
    bits, chunks = 64, 4
    width = bits // chunks
    # Two-level aggregation (r14, guide §2.3 "aggregate before you
    # shuffle"): count token occurrences per (doc, token) FIRST (one
    # cheap map-side-combinable count), then vote with the count as
    # weight — sum over occurrences of ±1 == sum over distinct
    # (doc, token) of cnt * ±1, bit-identical integer sums. The two
    # md5 digests and the 64 conditional sums then run over distinct
    # (doc, token) rows (2.3x fewer than occurrences on this corpus)
    # instead of the raw token stream.
    counts = (
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    tokens = counts.select(
        "doc_id", "cnt", F.expr("concat(md5(tok), md5(concat('#', tok))) AS d")
    )
    # 32 conditional sums, built as parsed expr strings (py4j trap).
    hexhigh = "'8','9','a','b','c','d','e','f'"
    votes = tokens.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(if(substring(d, {b + 1}, 1) IN ({hexhigh}), cnt, -cnt))"
                f" AS v{b}"
            )
            for b in range(bits)
        ]
    )
    bitchars = ", ".join(f"if(v{b} > 0, '1', '0')" for b in range(bits))
    # localCheckpoint: MANDATORY, not an optimization. `sim` is a
    # 64-way CASE concat, and CollapseProject re-inlines an unevaluated
    # projection into EVERY downstream reference (the CLAUDE.md
    # HOF/CollapseProject trap in projection form) — the chunk
    # substrings and the integer halves below reference it 6 times.
    # One row per doc with a 64-char string — cheap at any corpus size.
    sigs = votes.select(
        "doc_id", F.expr(f"concat({bitchars}) AS sim")
    ).localCheckpoint()
    return band_hamming_pairs(sigs, ("doc_id",), max_hamming).select(
        F.col("a_doc_id").alias("doc_a"),
        F.col("b_doc_id").alias("doc_b"),
        "hamming",
    )


def band_hamming_pairs(
    sigs: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id",),
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Banded candidate generation + exact Hamming filter over 64-bit
    signatures materialized as a 64-char '0'/'1' STRING column ``sim``
    (the md5-era / oracle-replayable representation). Pigeonhole:
    ``n_chunks`` equal chunks guarantee full recall for
    Hamming <= n_chunks - 1; candidates share at least one chunk, so
    the self-join is an equi join on (chunk_id, chunk) — hash
    partitioned, never all-pairs. Shared by the text SimHash twin and
    the perceptual-hash media dedups.

    ``id_cols`` identifies a signature row (e.g. ``("doc_id",)`` or
    ``("doc_id", "frame_idx")``); output columns are ``a_<id>...,
    b_<id>..., hamming`` with the a-side struct strictly below the
    b-side (lexicographic struct comparison — identical semantics in
    DuckDB, so oracles can replay the pairing exactly).

    Hamming via two bigint halves + bit_count(xor), NOT a 64-term
    per-character comparison sum: the 64-if chain blows past the
    whole-stage-codegen method limit and falls back to interpreted
    eval (~50us per candidate row — measured 27 s over 554k
    candidates at sf0.1); conv('0/1'-string, 2, 10) halves make the
    per-candidate cost two XOR+POPCNTs (<1 s). Values are identical:
    differing chars == differing bits.
    """
    width = 64 // n_chunks
    chunk_structs = ", ".join(
        f"struct({c} AS chunk_id, substring(sim, {c * width + 1}, {width}) AS chunk)"
        for c in range(n_chunks)
    )
    chunked = sigs.select(
        *id_cols,
        F.expr("CAST(conv(substring(sim, 1, 32), 2, 10) AS BIGINT) AS h1"),
        F.expr("CAST(conv(substring(sim, 33, 32), 2, 10) AS BIGINT) AS h2"),
        F.explode(F.expr(f"array({chunk_structs})")).alias("c"),
    ).select(*id_cols, "h1", "h2", "c.chunk_id", "c.chunk")
    a, b = chunked.alias("a"), chunked.alias("b")
    a_key = F.struct(*[F.col(f"a.{c}") for c in id_cols])
    b_key = F.struct(*[F.col(f"b.{c}") for c in id_cols])
    ham = "CAST(bit_count(a.h1 ^ b.h1) + bit_count(a.h2 ^ b.h2) AS INT)"
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (a_key < b_key),
        )
        .select(
            *[F.col(f"a.{c}").alias(f"a_{c}") for c in id_cols],
            *[F.col(f"b.{c}").alias(f"b_{c}") for c in id_cols],
            F.expr(ham).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_signatures(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """64-bit SimHash per doc: per-bit +1/-1 votes over token hashes,
    aggregated in one pass (64 conditional sums, all codegen'd).

    The 64 aggregates and the bit-assembly are built as parsed ``expr``
    strings, not nested Column operators: each Column method is a py4j
    round-trip, and the ~700 calls the operator form needs cost ~1.5s
    of driver time PER QUERY BUILD (data-independent). ``shiftleft(1L,
    63)`` wraps to bigint-min, giving the sign bit without the
    -2^63-literal parse pitfall; results are bit-identical to the
    operator form.
    """
    # Two-level aggregation (same move as md5_simhash_near_dups): count
    # per (doc, token) first, then vote with cnt as the weight —
    # bit-identical integer sums over 2.3x fewer rows on this corpus.
    tokens = (
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", F.xxhash64("tok"))
    )
    votes = tokens.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(if((shiftright(h, {b}) & 1) = 1, cnt, -cnt)) AS v{b}")
            for b in range(bits)
        ]
    )
    terms = " + ".join(
        f"if(v{b} > 0, shiftleft(cast(1 AS bigint), {b}), cast(0 AS bigint))"
        for b in range(bits)
    )
    return votes.select("doc_id", F.expr(f"{terms} AS simhash"))


def simhash_near_dups(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs agree on one of four 16-bit chunks (pigeonhole:
    any pair within Hamming distance 3 of 64 bits shares a chunk), then
    exact Hamming filter via bit_count(xor)."""
    sigs = simhash_signatures(documents)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned("simhash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: hamming is a pure function of the pair,
        # and a clustered corpus produces many duplicate chunk collisions
        # per pair (measured 236k collision rows -> 525 pairs at sf0.1) —
        # the exact-Hamming cut shrinks the dedup shuffle ~100x.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame, nodes: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components by min-label propagation: every node's label
    converges to the smallest doc_id in its component.

    ``pairs`` is (doc_a, doc_b) edges; ``nodes`` is one doc_id per
    document (singletons become their own cluster). Iterates
    label <- min(label, neighbors' labels) until a fixpoint, checked
    with a cheap count per round; diameter bounds the round count, and
    near-dup graphs are shallow (cliques of boilerplate), so this
    converges in a handful of rounds. For deep graphs use
    ``connected_components_star`` (same contract, O(log n) rounds
    regardless of diameter).

    Returns (doc_id, cluster_id). The dedup policy is then one line:
    keep doc_id == cluster_id (the smallest member of each cluster).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # Both orientations in ONE pass over the pair lineage: the
    # union-with-swap shape executed the (often expensive,
    # un-checkpointed) pairs pipeline twice — see
    # operators/graph.py::symmetrize_pairs.
    edges = symmetrize_pairs(pairs).localCheckpoint()

    def relax(state: DataFrame) -> DataFrame:
        labels = state.select("node", "label")
        # shuffle_hash: feeds an unordered MIN aggregation; the
        # sort-merge sorts of the edge side were waste every round.
        nbr_min = (
            edges.join(labels.hint("shuffle_hash"), edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # The change flag rides the merge join itself (labels only ever
        # decrease, so "changed" == "neighbor min undercut my label"),
        # and the convergence check becomes a map-side count over the
        # checkpointed result — the previous separate
        # new-labels x old-labels join paid one full shuffle join per
        # round just to ask "did anything move".
        return labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "label"
            ),
            (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias("chg"),
        )

    # A run cut at max_iter would hand back inconsistent labels (a
    # node's cluster_id naming a node whose own cluster_id differs), so
    # fixpoint raises instead; connected_components_star suits
    # high-diameter graphs.
    labels = fixpoint(
        nodes.select(F.col("doc_id").alias("node"), F.col("doc_id").alias("label")),
        relax,
        lambda state: state.filter(F.col("chg")).count(),
        max_rounds=max_iter,
        name="connected_components",
    )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def connected_components_star(
    pairs: DataFrame, nodes: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds regardless of graph diameter, where
    min-label propagation needs diameter-many rounds.

    Each round is two grouped-min + join passes over the edge list:

    * large-star: every node u links its strictly-larger neighbors to
      m = min(neighborhood(u) + {u});
    * small-star: edges oriented larger->smaller; u links its smaller
      neighbors and itself to their minimum.

    The edge set monotonically contracts toward a star forest rooted at
    each component's minimum; convergence = the directed edge set stops
    changing (checked with a count + hash aggregate, not a collect).
    Use this over ``connected_components`` when components may be deep
    (chains of pairwise near-dups); for shallow boilerplate cliques the
    label-propagation loop does fewer shuffles per round.

    Skew: both stars take the neighbourhood minimum with a window over
    ``src``, so a hub's whole neighbourhood goes through one window task,
    with no partial aggregation and no AQE skew split (a grouped min
    would have both). On hub-heavy graphs, where edges grow faster than
    nodes, that one task bounds the round; measure tasks and the maximum
    task time on a hub graph before relying on this for such closures.

    Returns (doc_id, cluster_id) with cluster_id = the component's
    smallest doc_id, exactly like ``connected_components``.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")

    def _canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _large_star(e: DataFrame) -> DataFrame:
        # r15: one pass — symmetrize by explode (union-with-swap
        # scanned the checkpointed edge set twice per reference), and
        # the neighborhood minimum rides a WINDOW over the same
        # src-partitioning the old groupBy+join needed TWO exchanges
        # for (partial-agg exchange + join-side exchange).
        sym = symmetrize_pairs(e, a="src", b="dst")
        w = Window.partitionBy("src")
        return (
            sym.select(
                "src",
                "dst",
                F.least(F.min("dst").over(w), F.col("src")).alias("m"),
            )
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # Same window move. The (src -> m) root link is emitted per
        # EDGE row here (the old shape unioned the one-row-per-src
        # `mins` rollup, referencing the canon lineage a second time);
        # the caller's _canon distinct collapses the duplicates, so the
        # round's edge SET is identical.
        canon = _canon(e)
        w = Window.partitionBy("src")
        withm = canon.select(
            "src", "dst", F.min("dst").over(w).alias("m")
        )
        linked = withm.select(
            F.explode(
                F.array(
                    F.struct(F.col("dst").alias("src"), F.col("m").alias("dst")),
                    F.struct(F.col("src").alias("src"), F.col("m").alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
        return linked.filter(F.col("src") != F.col("dst"))

    last = [None]

    def fingerprint_moved(e: DataFrame) -> bool:
        # xor-fold, not sum: order-independent like sum but cannot
        # overflow bigint under ANSI arithmetic
        fp = tuple(
            e.agg(
                F.count("*"),
                F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)),
            ).first()
        )
        moved, last[0] = fp != last[0], fp
        return moved

    edges = fixpoint(
        _canon(
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        ).localCheckpoint(),
        lambda e: _canon(_small_star(_large_star(e))),
        fingerprint_moved,
        max_rounds=max_iter,
        name="connected_components_star",
    )
    # Converged: canonical edges form (child -> component root) stars.
    roots = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("label")
    )
    return (
        nodes.select(F.col("doc_id").alias("node"))
        .join(roots, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("label", F.col("node")).alias("cluster_id"),
        )
    )


def dedup_clusters(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Full fuzzy-dedup resolution: MinHash near-dup pairs -> connected
    components -> (doc_id, cluster_id, keep). ``keep`` marks the
    smallest doc_id of each cluster — the survivor set."""
    pairs = minhash_near_dups(documents, threshold=threshold)
    clusters = connected_components(pairs, documents.select("doc_id"))
    return clusters.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def decontaminate(
    documents: DataFrame, n: int = 8, holdout_mod: int = 10
) -> DataFrame:
    """Train/eval decontamination: flag every held-out document
    (``doc_id % holdout_mod == 0``) that shares any word ``n``-gram with
    the training split — the standard benchmark-leakage check an LLM
    data pipeline runs before training.

    Scale shape: shingles are hashed to 8 bytes BEFORE the distinct and
    the semi join (``shingle_hashes``), so the only shuffles move
    fixed-width keys, never text. The semi join on the shingle hash is
    the same equi-shuffle as the LSH band join; a 64-bit collision
    (~1e-19 per pair) could at worst flag one extra doc. Eval docs
    shorter than ``n`` words have no shingles and are clean by
    definition.
    """
    hashed = shingle_hashes(documents, n).distinct()
    ev = hashed.filter(F.col("doc_id") % holdout_mod == 0)
    train = hashed.filter(F.col("doc_id") % holdout_mod != 0).select("h")
    hits = (
        ev.join(train, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    eval_docs = documents.filter(F.col("doc_id") % holdout_mod == 0).select("doc_id")
    return eval_docs.join(hits, "doc_id", "left").select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


def ngram_jaccard_consecutive(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Exact word-n-gram Jaccard for (doc_id, doc_id+1) pairs — the
    verification stage a candidate generator (LSH) would feed at scale;
    consecutive ids keep it linear and oracle-checkable."""
    sh = word_shingles(documents, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id") + 1)
            & (F.col("b.shingle") == F.col("a.shingle")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        sa.join(sb, F.col("sb.doc_id") == F.col("sa.doc_id") + 1)
        .join(inter, F.col("sa.doc_id") == inter.doc_a, "left")
        .select(
            F.col("sa.doc_id").alias("doc_a"),
            (F.col("sa.doc_id") + 1).alias("doc_b"),
            (
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.coalesce(F.col("n_inter"), F.lit(0)))
            ).alias("jaccard"),
        )
    )


def decontaminate_bloom(
    documents: DataFrame,
    n: int = 8,
    holdout_mod: int = 10,
    m_bits: int = 1 << 22,
    k_hashes: int = 5,
) -> DataFrame:
    """``decontaminate`` with a Bloom-filter prefilter — the 100 TB
    decontamination pattern (r7 verdict #7): the training split's
    shingle set is summarized into an ``m_bits``-bit Bloom filter, the
    (small) eval split probes the filter to drop shingles that
    PROVABLY don't occur in training, and only the surviving
    candidates pay the exact semi-join. Blooms have no false
    negatives, so the output is IDENTICAL to ``decontaminate`` (same
    oracle); false positives only waste verify work (~(1-e^{-kn/m})^k).

    Spark-first build — Spark's bloom_filter_agg/might_contain are
    Catalyst-internal (not SQL-registered), so the filter is a
    BITMAP TABLE of ``m_bits/64`` (word, bits) rows built with one
    map-side-combined bit_or aggregation (shuffle bounded by the
    bitmap size per task, never the shingle count) and shipped as a
    broadcast join — the same tiny-constant-table discipline as the
    LSH sign table. Probe positions hash JVM-side (explode k seeds,
    one xxhash64 per row — never inside a HOF lambda); a shingle is a
    candidate iff ALL k probed bits are set. Two corpus passes total
    (bitmap build + exact verify), the same two-pass discipline as
    ``operators/sketch.py::heavy_hitters``.
    """
    hashed = shingle_hashes(documents, n)
    train = hashed.filter(F.col("doc_id") % holdout_mod != 0).select("h")
    ev = (
        hashed.filter(F.col("doc_id") % holdout_mod == 0)
        .select("doc_id", "h")
        .distinct()
    )
    n_words = m_bits // 64
    bitmap = (
        train.select(F.explode(F.expr(f"sequence(0, {k_hashes - 1})")).alias("i"), "h")
        .select(F.expr(f"pmod(xxhash64(h, i), {m_bits})").alias("pos"))
        .select(
            F.expr("pos DIV 64").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    assert n_words * 64 == m_bits, "m_bits must be a multiple of 64"
    candidates = (
        ev.select("doc_id", "h", F.explode(F.expr(f"sequence(0, {k_hashes - 1})")).alias("i"))
        .select("doc_id", "h", F.expr(f"pmod(xxhash64(h, i), {m_bits})").alias("pos"))
        .select(
            "doc_id",
            "h",
            F.expr("pos DIV 64").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
        )
        # inner join: a missing bitmap word means zero bits set there —
        # the filter below would drop the row anyway
        .join(F.broadcast(bitmap), "word")
        .filter(F.expr("(bits & mask) = mask"))
        .groupBy("doc_id", "h")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == k_hashes)  # all k bits set
        .select("doc_id", "h")
    )
    flagged = (
        candidates.join(train, "h", "left_semi")  # exact verify
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    eval_docs = documents.filter(
        F.col("doc_id") % holdout_mod == 0
    ).select("doc_id")
    return eval_docs.join(flagged, "doc_id", "left").select(
        "doc_id",
        F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
    )


def set_similarity_join(
    documents: DataFrame,
    threshold: float = 0.6,
    collapse_identical_sets: bool = False,
) -> DataFrame:
    """Exact all-pairs set-similarity join with PREFIX FILTERING (the
    PPJoin family, cf. Xiao et al., WWW'08): every document pair whose
    word-SET Jaccard >= ``threshold``, without ever materializing the
    n^2 pair space — the exact-similarity companion to the MinHash-LSH
    candidate generator (LSH is probabilistic recall; this is
    guaranteed-complete).

    Prefix-filtering theorem: order each doc's distinct tokens by a
    GLOBAL rank (ascending document frequency, token as tie-break —
    rarest first) and keep only the first ``|d| - ceil(t*|d|) + 1``
    tokens (the "prefix"). Two docs with Jaccard >= t MUST share a
    prefix token: if they shared none, each side's matches would all
    sit in the other's suffix, bounding the overlap below the
    threshold. So the candidate join on prefix tokens is lossless,
    and because prefixes are rare-first, hot tokens (stopwords) land
    in suffixes and never generate candidates — the skew story the
    naive token join lacks.

    Stages (all JVM): (1) per-doc sorted distinct-token ARRAY (map
    side, no shuffle) + doc-frequency rollup off its explode; (2)
    per-doc rank window -> prefix rows; (3) prefix self-join
    (doc_a < doc_b) with the LENGTH filter (J >= t bounds
    min(|a|,|b|)/max(|a|,|b|) >= t, so size-mismatched pairs die in
    the join filter) and the POSITIONAL filter (a shared prefix token
    at ranks (i, j) caps the possible overlap at
    1 + min(|a|-i, |b|-j), which must reach the overlap the Jaccard
    threshold requires, ceil(t/(1+t)*(|a|+|b|)) — both integer
    cross-multiplies) -> distinct candidate pairs; (4) exact verify:
    two pair-keyed joins attach each side's token array and
    ``n_common = size(array_intersect(a, b))`` per pair — never a
    candidates x tokens expansion — with the threshold test the
    integer cross-multiply ``n_ab * SCALE >= t*SCALE * union`` — no
    float compare. Returns (doc_a, doc_b, n_a, n_b, n_common, jaccard) with
    jaccard the single terminal division. All three filters are
    standard PPJoin; on an adversarially dense corpus (tiny vocab,
    templated texts) they cut candidates ~4x where signature schemes
    cannot be selective, and on a natural corpus they are the
    difference between m*prefix and n^2.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # integer threshold: jaccard >= num/den  <=>  den*n_ab >= num*union
    num = int(round(threshold * 1000))
    den = 1000
    # Per-doc DISTINCT-token ARRAY as the primary relation (r15): the
    # sorted distinct array is computed MAP-SIDE per document — the
    # previous explode + distinct paid a full shuffle of the token
    # stream just to deduplicate per doc, and the exact-verify stage
    # re-exploded it into a candidates x tokens join. One row per doc,
    # strictly smaller than the text it derives from.
    arr_expr = F.sort_array(
        F.array_distinct(F.filter(F.split("text", " "), lambda t: t != ""))
    ).alias("ta")
    membership = None
    if collapse_identical_sets:
        # Identical token-SET collapse (the winnow fingerprint-set
        # pattern applied to PPJoin): Jaccard depends only on the token
        # SET, so docs sharing a set are interchangeable — run the
        # whole prefix pipeline on one representative per distinct set
        # and re-expand afterwards. Output-preserving on ANY corpus
        # (identical sets have identical similarity to everything);
        # the win is quadratic in the collapse factor because both the
        # candidate join and the verify join shrink per side. The set
        # key is md5 of the sorted token list — exact, no hash-mixing
        # collision risk. Only `membership` (read three times by the
        # re-expansion) and the representatives' arrays are materialized.
        arrs_all = documents.select("doc_id", arr_expr)
        keyed = arrs_all.select(
            "doc_id", F.md5(F.concat_ws(" ", "ta")).alias("sk")
        )
        wrep = Window.partitionBy("sk")
        membership = keyed.select(
            "doc_id", "sk", F.min("doc_id").over(wrep).alias("rep")
        ).localCheckpoint()
        reps = membership.filter(F.col("doc_id") == F.col("rep")).select(
            "doc_id"
        )
        arrs = arrs_all.join(reps, "doc_id").localCheckpoint()
    else:
        arrs = documents.select("doc_id", arr_expr).localCheckpoint()
    # Derived views of the checkpointed array relation: cheap explode
    # fan-outs (the r14 materialization rule — checkpoint subtrees with
    # joins/windows, leave pure explode+agg fan-outs alone). `sizes` is
    # only consumed in the collapse re-expansion below; the verify
    # stage reads sizes off the arrays directly.
    toks = arrs.select("doc_id", F.explode("ta").alias("token"))
    # size > 0 keeps the empty-text contract of the previous
    # explode+distinct shape: a doc with no tokens had no (doc, token)
    # row, hence no size row, hence never reached any output.
    sizes = arrs.filter(F.size("ta") > 0).select(
        "doc_id", F.size("ta").cast("bigint").alias("n_tok")
    )
    df_rank = toks.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    ranked = arrs.select(
        "doc_id",
        F.size("ta").cast("bigint").alias("n_tok"),
        F.explode("ta").alias("token"),
    ).join(df_rank, "token").select(
        "doc_id",
        "token",
        "n_tok",
        F.row_number().over(w).alias("r"),
    )
    # prefix length: n - ceil(t*n) + 1 == n - (t_num*n + t_den - 1) DIV t_den + 1
    # Both candidate-join sides read the prefix; materialize the
    # (already tiny: ~|d|*(1-t) tokens per doc) relation once instead
    # of running the rank window twice.
    prefix = (
        ranked.filter(
            F.col("r")
            <= F.col("n_tok")
            - F.expr(f"({num} * n_tok + {den} - 1) DIV {den}")
            + 1
        )
        .select("doc_id", "token", "n_tok", "r")
        .localCheckpoint()
    )
    p1 = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "token",
        F.col("n_tok").alias("n_a"),
        F.col("r").alias("r_a"),
    )
    p2 = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "token",
        F.col("n_tok").alias("n_b"),
        F.col("r").alias("r_b"),
    )
    cand = (
        p1.join(p2.hint("shuffle_hash"), "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: J >= t  =>  t*max(|a|,|b|) <= min(|a|,|b|)
        .filter(
            F.expr(f"{num} * greatest(n_a, n_b) <= {den} * least(n_a, n_b)")
        )
        # positional filter: overlap reachable from this shared prefix
        # token must cover ceil(t/(1+t) * (|a|+|b|))
        .filter(
            F.expr(
                f"(1 + least(n_a - r_a, n_b - r_b)) * {num + den}"
                f" >= {num} * (n_a + n_b)"
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Exact verify on ARRAYS (r15): n_common = |array_intersect| of the
    # two docs' distinct-token arrays — two pair-keyed joins against
    # the per-doc array relation, one codegen'd intersect per pair. The
    # previous shape exploded candidates x tokens-of-a (|cand| * avg|a|
    # rows) through a second shuffle join and a groupBy exchange; this
    # shuffles the SAME token bytes once per side attached to the pair
    # row and removes the aggregation exchange entirely (guide §3:
    # "explode before a join multiplies the shuffle; join first on the
    # un-exploded key"). A candidate pair with zero overlap now reaches
    # the threshold filter (n_common = 0) instead of dying in the inner
    # join — it fails `den*0 >= num*union` for every num >= 1, so the
    # output set is identical.
    aa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("ta").alias("arr_a"))
    ab = arrs.select(F.col("doc_id").alias("doc_b"), F.col("ta").alias("arr_b"))
    res = (
        cand.join(aa.hint("shuffle_hash"), "doc_a")
        .join(ab.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("arr_a").cast("bigint").alias("n_a"),
            F.size("arr_b").cast("bigint").alias("n_b"),
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("bigint")
            .alias("n_common"),
        )
        .filter(
            F.expr(f"{den} * n_common >= {num} * (n_a + n_b - n_common)")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr(
                "CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)"
            ).alias("jaccard"),
        )
    )
    if membership is None:
        return res
    # Re-expansion. Cross-group: every member pair inherits the rep
    # pair's stats verbatim (same sets => same sizes/overlap); the
    # (doc_a < doc_b) ordering must be re-established per member pair,
    # swapping n_a/n_b along with it. Intra-group: identical sets are
    # Jaccard 1 >= any threshold, so all within-group pairs qualify
    # with n_a = n_b = n_common = |set| — computed through the SAME
    # jaccard expression so the double is bit-identical (exactly 1.0).
    ma = membership.select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("a")
    )
    mb = membership.select(
        F.col("rep").alias("doc_b"), F.col("doc_id").alias("b")
    )
    swap = F.col("a") > F.col("b")
    cross = (
        res.join(ma.hint("shuffle_hash"), "doc_a")
        .join(mb.hint("shuffle_hash"), "doc_b")
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            F.when(swap, F.col("n_b")).otherwise(F.col("n_a")).alias("n_a"),
            F.when(swap, F.col("n_a")).otherwise(F.col("n_b")).alias("n_b"),
            "n_common",
            "jaccard",
        )
    )
    rep_sz = sizes.join(
        membership.filter(F.col("doc_id") == F.col("rep")).select(
            "doc_id", "sk"
        ),
        "doc_id",
    ).select("sk", F.col("n_tok").cast("bigint").alias("n"))
    m1 = membership.select("sk", F.col("doc_id").alias("doc_a"))
    m2 = membership.select("sk", F.col("doc_id").alias("doc_b"))
    intra = (
        m1.join(m2.hint("shuffle_hash"), "sk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # same-key join rides the sk exchange already in place; at
        # corpus scale the distinct-set table can exceed broadcast size
        .join(rep_sz, "sk")
        .select(
            "doc_a",
            "doc_b",
            F.col("n").alias("n_a"),
            F.col("n").alias("n_b"),
            F.col("n").alias("n_common"),
            F.expr(
                "CAST(n AS DOUBLE) / (n + n - n)"
            ).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def containment_join(
    documents: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Directional set-CONTAINMENT join (the overlap/containment member
    of the PPJoin family — cf. Xiao et al. WWW'08's generalization to
    overlap constraints): every ORDERED pair (a, b), a != b, with
    |tokens(a) & tokens(b)| / |tokens(a)| >= ``threshold`` — i.e. doc a
    is (mostly) a subset of doc b. The dedup case Jaccard misses: a
    quote, excerpt, or template instance sits INSIDE a larger document,
    so the union is dominated by b and Jaccard is tiny while
    containment is ~1.

    Prefix filtering is asymmetric for containment: the CONTAINED side
    needs overlap >= ceil(t*|a|), so a's rare-first prefix of length
    |a| - ceil(t*|a|) + 1 must hit b (pigeonhole — if every shared
    token sat in a's suffix, the overlap would fall short); the
    container side has no such bound, so the candidate join is
    prefix(a) x ALL-tokens(b), pruned by the size filter
    |b| >= ceil(t*|a|) (the overlap cannot exceed |b|). Hot tokens
    still only generate candidates against rare-first PREFIXES, which
    is what keeps the join off the n^2 cliff; like
    ``set_similarity_join``, run it on an exact-deduped corpus — all
    all-pairs output is multiplicative under duplication.

    Verify is exact: intersection counted by equi-join, threshold as
    the integer cross-multiply ``den*o >= num*|a|``, containment the
    single terminal division (bit-exact on both engines).

    Returns (doc_a, doc_b, n_a, n_b, n_common, containment) with doc_a
    the contained side; both directions of a pair can appear.
    """
    arrs, cand_hits = _containment_candidates(documents, threshold)
    return _containment_verify(
        arrs, cand_hits.select("doc_a", "doc_b"), threshold
    )


def _doc_token_arrays(documents: DataFrame) -> DataFrame:
    """Per-doc SORTED DISTINCT-token array — (doc_id, ta) — computed
    map-side (no shuffle; the previous explode + distinct paid a full
    token-stream exchange per use). The single materialized relation
    the set joins hang everything off: df rollup and rank rows derive
    by cheap explode, sizes by ``size(ta)``, and the exact verify
    computes intersections directly on the arrays."""
    return documents.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda t: t != "")
            )
        ).alias("ta"),
    ).localCheckpoint()


def _containment_candidates(
    documents: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate stage of the containment joins: the per-doc
    token-array relation and the prefix-filtered candidate pairs
    grouped with their prefix-hit counts — (doc_a, doc_b, hits, n_a,
    n_b). ``hits`` (how many of a's rare-first prefix tokens b shares)
    is free here — the pair dedup is a groupBy either way — and is the
    ranking signal the capped variant prioritizes candidates by."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    num = int(round(threshold * 1000))
    den = 1000
    # One materialized per-doc array relation feeds every consumer
    # (df rollup, rank rows, container side, both verify sides); the
    # r14 shape checkpointed an exploded+distinct (doc, token) relation
    # instead, which cost a token-stream shuffle to build and a
    # candidates x tokens expansion to verify (the r14 before-plan of
    # the capped variant measured 36 Exchanges, none reused).
    arrs = _doc_token_arrays(documents)
    toks = arrs.select("doc_id", F.explode("ta").alias("token"))
    df_rank = toks.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    ranked = (
        arrs.select(
            "doc_id",
            F.size("ta").cast("bigint").alias("n_tok"),
            F.explode("ta").alias("token"),
        )
        .join(df_rank, "token")
        .select("doc_id", "token", "n_tok", F.row_number().over(w).alias("r"))
    )
    prefix = ranked.filter(
        F.col("r")
        <= F.col("n_tok")
        - F.expr(f"({num} * n_tok + {den} - 1) DIV {den}")
        + 1
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "token",
        F.col("n_tok").alias("n_a"),
    )
    tb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.size("ta").cast("bigint").alias("n_b"),
        F.explode("ta").alias("token"),
    )
    cand_hits = (
        pa.join(tb.hint("shuffle_hash"), "token")
        .filter(F.col("doc_a") != F.col("doc_b"))
        # size filter: overlap <= |b|, so t*|a| <= |b| or the pair dies
        .filter(F.expr(f"{den} * n_b >= {num} * n_a"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("hits"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    return arrs, cand_hits


def _containment_verify(
    arrs: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Exact verification of candidate (doc_a, doc_b) pairs on the
    per-doc token arrays: two pair-keyed joins attach each side's
    array, n_common = |array_intersect| per pair (no candidates x
    tokens expansion, no aggregation exchange — the r14 shape shuffled
    |pairs| * avg|a| exploded rows through a second join + groupBy),
    threshold as the integer cross multiply, containment the single
    terminal division (bit-exact on both engines). A zero-overlap
    candidate fails ``den*0 >= num*n_a`` for any num >= 1, so losing
    the inner-join implicit n_common >= 1 changes nothing."""
    num = int(round(threshold * 1000))
    den = 1000
    aa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("ta").alias("arr_a"))
    ab = arrs.select(F.col("doc_id").alias("doc_b"), F.col("ta").alias("arr_b"))
    return (
        pairs.join(aa.hint("shuffle_hash"), "doc_a")
        .join(ab.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("arr_a").cast("bigint").alias("n_a"),
            F.size("arr_b").cast("bigint").alias("n_b"),
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("bigint")
            .alias("n_common"),
        )
        .filter(F.expr(f"{den} * n_common >= {num} * n_a"))
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr("CAST(n_common AS DOUBLE) / n_a").alias("containment"),
        )
    )


def containment_join_capped(
    documents: DataFrame, threshold: float = 0.9, top_m: int = 17
) -> DataFrame:
    """Bounded-cost containment join: candidates come from per-TOKEN
    top-``top_m`` container lists instead of the full prefix x
    all-tokens join. For each vocabulary token, the ``top_m`` largest
    docs containing it (by token-set size DESC, doc_id — the same
    ordering for EVERY contained doc sharing the token, so it is
    computed once as a tiny rollup); a doc's candidates are the union
    of the lists of its rare-first prefix tokens, at most
    prefix_len * top_m per doc. Survivors are verified EXACTLY — the
    cap changes which pairs are tested, never a tested pair's value.

    Why this is the production shape: on a dense corpus (tiny shared
    vocabulary — the adversarial case for prefix filtering, and what
    template boilerplate looks like at crawl scale) the uncapped
    candidate join explodes (measured 37M join rows / 15.7M candidate
    pairs / 123.7 s at sf0.1; a first-cut 'rank all candidates, keep
    16' variant still paid 23 s just MATERIALIZING the pairs to rank
    them). The toplist never materializes the quadratic set: the
    rollup is |vocab| * top_m rows (broadcastable), candidate
    generation is a broadcast join off the prefix rows, and the verify
    join is bounded by prefix_len * top_m * n rows on any corpus
    density. Size-first ranking is the right heuristic for
    containment — overlap cannot exceed |b|, so the biggest sets are
    the likeliest containers. Recall measured 100% at sf0.1
    (4992/4992 contained docs vs the uncapped operator; 85k candidate
    pairs instead of 15.7M), though the reported best container can
    differ. The uncapped ``containment_join`` stays the correctness
    tier.

    Returns the same columns as ``containment_join``; downstream
    callers apply the same best-container rollup.
    """
    from kafka_s3_etl_spark.operators.ranks import bucketed_global_row_number

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    num = int(round(threshold * 1000))
    den = 1000
    # Same single-materialization discipline as _containment_candidates
    # (one per-doc array relation feeds toplists + verify).
    arrs = _doc_token_arrays(documents)
    toks_n = arrs.select(
        "doc_id",
        F.size("ta").cast("bigint").alias("n_tok"),
        F.explode("ta").alias("token"),
    )
    df_rank = toks_n.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    ranked = toks_n.join(df_rank, "token").select(
        "doc_id", "token", "n_tok", F.row_number().over(w).alias("r")
    )
    prefix = ranked.filter(
        F.col("r")
        <= F.col("n_tok")
        - F.expr(f"({num} * n_tok + {den} - 1) DIV {den}")
        + 1
    )
    # Per-token top-m container lists via the bucketed two-phase rank:
    # a token's partition holds df rows (the WHOLE corpus per token on
    # a dense vocabulary), so a naive PARTITION BY token window would
    # funnel it through one task.
    toplists = (
        bucketed_global_row_number(
            toks_n,
            "n_tok",
            "doc_id",
            shift=0,
            descending=True,
            partition_by=["token"],
        )
        .filter(F.col("rn") <= top_m)
        .select(
            "token",
            F.col("doc_id").alias("doc_b"),
            F.col("n_tok").alias("n_b"),
        )
    )
    cand = (
        prefix.select(
            F.col("doc_id").alias("doc_a"), "token", F.col("n_tok").alias("n_a")
        )
        .join(F.broadcast(toplists), "token")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.expr(f"{den} * n_b >= {num} * n_a"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _containment_verify(arrs, cand, threshold)


def duplicate_substring_spans(documents: DataFrame, k: int = 12) -> DataFrame:
    """Exact substring-span deduplication (the Lee et al. '22
    "Deduplicating Training Data" ExactSubstr shape, re-expressed as
    shuffles instead of a suffix array): every k-token window that
    occurs more than once ANYWHERE in the corpus marks its token span
    [pos, pos+k) as duplicated; overlapping marks merge into maximal
    spans per document — the maskable interval list a training-data
    pipeline consumes.

    Scale shape: grams shuffle as md5 fingerprints (16 bytes, never
    the token text); the duplicate test is one map-side-combined count
    per gram plus an equi join back; span merging is a per-document
    window (doc_id is high-cardinality, so it hash-partitions) over
    ~n_tokens rows per doc. No all-pairs anything — a suffix array
    finds the same spans in O(n log n) single-machine, this finds them
    in two shuffles cluster-wide.

    Returns (doc_id, span_start, span_end, span_tokens) with span_end
    exclusive, 0-based token positions.
    """
    toks = documents.select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= k)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(w) - {k}), i ->"
                f" md5(concat_ws(' ', slice(w, i + 1, {k}))))"
            )
        ).alias("pos", "g"),
    )
    counts = grams.groupBy("g").agg(F.count("*").alias("c"))
    dup = (
        grams.join(counts.filter(F.col("c") > 1).select("g"), "g")
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup.select(
        "doc_id",
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("new_island"),
    ).select(
        "doc_id",
        "pos",
        F.sum("new_island").over(w_doc).alias("island"),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + k).cast("int").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def mask_duplicate_substrings(documents: DataFrame, k: int = 12) -> DataFrame:
    """The transform stage over ``duplicate_substring_spans``: drop
    every token covered by a merged duplicate span and reassemble the
    remainder in order. Returns (doc_id, n_tokens, n_masked,
    clean_text) — the deduplicated corpus a tokenizer trains on.

    Span coverage is resolved by exploding spans to positions and one
    (doc_id, pos) anti join — spans are bounded by document length, so
    the explode is linear in masked tokens; reassembly is a sorted
    collect within each doc (bodies never shuffle except grouped by
    their own doc_id)."""
    spans = duplicate_substring_spans(documents, k)
    covered = spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end") - 1)
        ).alias("pos"),
    )
    toks = documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(pos, tok))), s -> s.tok))"
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    sizes = documents.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return (
        sizes.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .alias("n_masked"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def md5_minhash_cross_dups(
    new_docs: DataFrame,
    base_docs: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Cross-corpus MinHash-LSH near-dup detection — the crawl-refresh
    shape: every INCOMING document is banded against the EXISTING
    corpus only (a one-sided band equi-join, never a self-join over
    the union), so the work is |new| x bucket-occupancy instead of
    (|new| + |base|)^2 candidates. Same md5 hash family, shingles,
    and band keys as ``md5_minhash_near_dups``, so the oracle can
    replay the full pipeline; est_jaccard = agree/k stays an exact
    binary fraction. Returns (new_doc, base_doc, est_jaccard)
    candidate matches at/above ``threshold``."""

    def banded(docs: DataFrame) -> DataFrame:
        return _banded_signatures(
            md5_minhash_signatures(docs, k), k, bands, key="concat"
        )

    return _band_pairs(banded(new_docs), k, threshold, other=banded(base_docs))
