"""Similarity search over an embedding column (SURVEY.md 2b q_sim_*).

Two paths, same answer shape (query_id, neighbor_id, cosine, rank):

* brute-force — exact cosine top-k: broadcast the (small) query set,
  JVM-side dot product via zip_with + aggregate (no Python, no UDF),
  window top-k per query. The right baseline at any scale where
  |queries| is small: one scan of the corpus, no shuffle of the corpus
  itself (the window partitions by query).
* LSH-bucketed ANN — sign-random-projection (Charikar '02): P
  deterministic pseudo-random hyperplanes (entry signs derived from
  xxhash64(plane, dim) so no RNG state is shipped), each vector maps
  to a P-bit bucket; candidates = same-bucket pairs, then exact cosine
  re-rank. The 100 TB path: bucket join is an equi shuffle; multiple
  hash tables (OR-amplification) raise recall — table count is the
  only knob.

Embeddings are float32 arrays; all math is cast to double, computed
with identical association order on both sides of any comparison.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_s3_etl_spark.sources.tables import local_frame

# Plane/table counts trade bucket size against recall: P planes cut the
# corpus into 2^P buckets per table (candidate cost ~N/2^P per query);
# T tables OR-amplify recall to 1-(1-c^P)^T where c = 1 - theta/pi.
# The floor is sized for the synthetic corpus, whose true top-5
# neighbors sit at cosine ~0.3 (c ~0.6): 4 planes x 8 tables -> ~0.7
# expected recall. ``ann_lsh_topk`` scales planes UP with corpus size
# (see _auto_planes) so mean bucket occupancy — hence candidate cost per
# query — stays bounded as the corpus grows; a fixed plane count makes
# candidate sets grow linearly with corpus density (measured: the r3
# corpus regeneration alone cost 3.2x on a fixed 16-bucket layout).
ANN_PLANES = 4
ANN_TABLES = 8
ANN_TARGET_BUCKET = 64  # target mean vectors per bucket
ANN_MAX_PLANES = 16  # 65k buckets per table; past this, raise tables


def _auto_planes(n_vectors: int) -> int:
    """planes ≈ log2(n / target_bucket), clamped to [ANN_PLANES, 16]."""
    if n_vectors <= ANN_TARGET_BUCKET:
        return ANN_PLANES
    return max(
        ANN_PLANES,
        min(ANN_MAX_PLANES, math.ceil(math.log2(n_vectors / ANN_TARGET_BUCKET))),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_norm(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("norm")
    )


def brute_force_topk(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Exact cosine top-k of every corpus vector for the first
    ``n_queries`` vec_ids (the query set is broadcast)."""
    base = with_norm(embeddings)
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_norm") * F.col("norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_SIGN_CACHE: dict[tuple[int, int, int], list[list[list[float]]]] = {}


def _plane_signs(tables: int, planes: int, dim: int) -> list[list[list[float]]]:
    """Hyperplane entry h[t][p][d] = +1/-1 from a seeded driver-side RNG
    — deterministic per (tables, planes, dim), cached for the session.

    The signs are pure config data shipped to executors as a broadcast
    DataFrame (see ``_sign_table``), so nothing about their derivation
    needs to be reproducible JVM-side; an earlier version derived them
    with a tiny Spark job (xxhash64 parity over a combos DataFrame),
    which billed ~3s of scheduler/codegen time to the first ANN query of
    every session for a matrix numpy materializes in microseconds."""
    key = (tables, planes, dim)
    if key not in _SIGN_CACHE:
        import numpy as np

        rng = np.random.default_rng(42)
        signs = np.where(
            rng.random((tables, planes, dim)) < 0.5, 1.0, -1.0
        )
        _SIGN_CACHE[key] = signs.tolist()
    return _SIGN_CACHE[key]


def _sign_table(spark, tables: int, planes: int, dim: int) -> DataFrame:
    """The hyperplane matrix as a TINY DataFrame: one row per hash
    table, one array<double> column per plane. Broadcast-crossed with
    the corpus it both fans each vector out to its ``tables`` rows
    (replacing an explode) and delivers the signs as DATA.

    Why data and not plan constants: embedding the 2048 sign literals
    in the expression tree costs one py4j round-trip per literal at
    build time and blows up analysis/codegen (measured: the whole ANN
    query became data-independent ~10s of pure driver overhead, at
    sf0.001 and sf0.1 alike). An 8-row broadcast costs none of that at
    any corpus size — as long as the table is a ``local_frame``
    (``LocalTableScan``: one JVM task to broadcast). A
    ``createDataFrame(list)`` table is a Python RDD: every execution
    runs ``defaultParallelism`` Python tasks to unpickle it.
    """
    signs = _plane_signs(tables, planes, dim)
    rows = [
        tuple([t] + [signs[t][p] for p in range(planes)]) for t in range(tables)
    ]
    schema = "table_id int, " + ", ".join(
        f"s{p} array<double>" for p in range(planes)
    )
    return local_frame(spark, rows, schema)


def _bucket_bits(emb: Column, planes: int = ANN_PLANES) -> Column:
    """P-bit sign-random-projection bucket for one hash table; reads
    the plane sign vectors from the ``s{p}`` columns a ``_sign_table``
    cross join provides.

    The projection folds ``zip_with(emb, s_p, v*s)`` — the per-element
    lambda is a bare multiply. Deriving the sign inline (xxhash64 +
    branch per element, the original shape) made the interpreted lambda
    ~20x more expensive and dominated the whole ANN query. Multiplying
    by exactly +/-1.0 is lossless, so buckets are bit-identical to the
    inline-hash derivation.
    """
    bits: Column = F.lit(0).cast("bigint")
    for p in range(planes):
        proj = F.aggregate(
            F.zip_with(emb, F.col(f"s{p}"), lambda v, s: v.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits = bits + F.when(proj > 0, F.lit(2**p).cast("bigint")).otherwise(0)
    return bits


def ann_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    planes: int | None = None,
    tables: int = ANN_TABLES,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in any of
    ``tables`` hash tables; exact cosine re-rank of candidates only.

    ``planes=None`` derives the plane count from the corpus size
    (one metadata-cheap count) so bucket occupancy stays ~constant as
    the corpus scales; pass an explicit count to pin the layout.

    The corpus is fanned out to its ``tables`` bucket rows by a cross
    join against the broadcast 8-row sign table (see ``_sign_table``) —
    the same tables-x blowup an explode would produce, but the
    hyperplanes arrive as data, keeping the plan small."""
    if planes is None:
        planes = _auto_planes(embeddings.count())
    dim = embeddings.select(F.size("embedding")).first()[0]
    sign_df = _sign_table(embeddings.sparkSession, tables, planes, dim)
    base = with_norm(embeddings)
    bucketed = base.crossJoin(F.broadcast(sign_df)).select(
        "vec_id",
        "embedding",
        "norm",
        "table_id",
        _bucket_bits(F.col("embedding"), planes).alias("bucket"),
    )
    queries = bucketed.filter(F.col("vec_id") < n_queries)
    cands = (
        bucketed.alias("c")
        .join(
            F.broadcast(queries.alias("q")),
            (F.col("c.table_id") == F.col("q.table_id"))
            & (F.col("c.bucket") == F.col("q.bucket"))
            & (F.col("c.vec_id") != F.col("q.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q.embedding"), F.col("c.embedding"))
                / (F.col("q.norm") * F.col("c.norm"))
            ).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


IVF_CELLS = 16
IVF_PROBE = 4


def _lloyd_numpy(sample, k: int, iters: int = 8, seed: int = 42):
    """Deterministic Lloyd's k-means on the driver-side fit sample.

    A coarse quantizer needs only ~tens of points per cell, so the fit
    input is a few hundred KB even when the corpus is 100 TB — fitting
    it in-process on a collected sample is the production shape (FAISS
    trains IVF quantizers the same way) and avoids an iterative
    distributed-ML job (8+ jobs of pure scheduling overhead here, and
    under a vanilla 200-shuffle-partition driver session, the round-1
    correctness-sweep killer). Empty cells keep their previous centroid.
    """
    import numpy as np

    X = np.asarray(sample, dtype=np.float64)
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Cosine near-dup pairs among consecutive vec_ids — the
    verification-stage MATH only, kept as the property-test fixture for
    the real operator (``embedding_near_dups_ann``), whose candidate
    source is LSH buckets instead of id adjacency."""
    base = with_norm(embeddings)
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                _dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.norm") * F.col("b.norm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dups_ann(
    embeddings: DataFrame,
    threshold: float = 0.95,
    planes: int | None = None,
    tables: int = ANN_TABLES,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with a REAL ANN candidate source:
    sign-random-projection LSH buckets (the ``ann_lsh_topk`` machinery —
    same ``_sign_table`` broadcast, same ``_bucket_bits`` fold), then an
    exact-cosine verify of the candidate pairs only.

    This is the operator a 100 TB embedding dedup actually runs — the
    consecutive-id variant (``embedding_near_dups``) checks only
    adjacent rows and would miss every non-adjacent duplicate:

    1. bucket: one corpus pass fans each vector to its ``tables`` rows
       (broadcast cross join against the 8-row sign table) and computes
       the P-bit bucket — map-only JVM expressions, no Python.
    2. candidates: self-join the SLIM (vec_id, table_id, bucket)
       projection on (table_id, bucket) with vec_a < vec_b, then
       DISTINCT on the id pair — embeddings never ride through the
       self-join or the distinct, only 8-byte ids do. The join is an
       equi shuffle on bucket; ``shuffle_hash`` because nothing
       downstream wants the sort order.
    3. verify: join the raw vectors back by id (twice) and keep pairs
       with exact double cosine >= threshold.

    Recall is the LSH OR-amplification 1-(1-c^P)^T with c = 1-theta/pi:
    for true near-dups (cosine -> 1) it approaches 1 (0.95 -> ~99.7% at
    P=6, T=8); pairs far below the threshold rarely even become
    candidates — which is the point. Exactness of the verify stage and
    recall on planted duplicates are property-tested
    (tests/test_llm_ops.py).

    Returns (vec_a, vec_b, cosine) with vec_a < vec_b, deduplicated
    across hash tables. Deterministic: the hyperplanes are the seeded
    ``_plane_signs`` matrix, so the candidate set is a pure function of
    the corpus and (planes, tables).

    ``planes=None`` derives the plane count from the corpus size
    (``_auto_planes``) so per-bucket candidate pairs stay ~constant as
    the corpus grows — the production setting. The registered
    q_dedup_embedding PINS planes instead, because its DuckDB oracle
    replays the hyperplane matrix as literals and must see the same
    bucket layout at every SF; a pinned layout's candidate work grows
    ~quadratically with bucket occupancy, which is the oracle-parity
    price, not the operator's.
    """
    spark = embeddings.sparkSession
    if planes is None:
        planes = _auto_planes(embeddings.count())
    dim_row = embeddings.select(F.size("embedding")).first()
    if dim_row is None:
        raise ValueError(
            "embedding_near_dups_ann: embeddings corpus is empty"
        )
    dim = dim_row[0]
    sign_df = _sign_table(spark, tables, planes, dim)
    # Materialize the slim (vec_id, table_id, bucket) relation ONCE:
    # the self-join below references it twice, and a DataFrame
    # reference is a plan COPY — un-checkpointed, each side re-ran the
    # corpus scan + the tables x planes sign-projection fold (the
    # expensive kernel of this operator). r15; guide §2.4.
    buckets = (
        embeddings.crossJoin(F.broadcast(sign_df))
        .select(
            "vec_id",
            "table_id",
            _bucket_bits(F.col("embedding"), planes).alias("bucket"),
        )
        .localCheckpoint()
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    base = with_norm(embeddings)
    ea = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("e_a"),
        F.col("norm").alias("n_a"),
    )
    eb = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("e_b"),
        F.col("norm").alias("n_b"),
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (
                _dot(F.col("e_a"), F.col("e_b"))
                / (F.col("n_a") * F.col("n_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _pca_fit_numpy(sample, k: int):
    """Deterministic PCA fit on the driver-side sample: center, SVD,
    keep the top-k right singular vectors. Sign-fixed so the result is
    reproducible across runs/BLAS builds: each component is flipped to
    make its largest-|.|-magnitude entry positive (ties broken by the
    lowest index, which argmax already guarantees).

    Same scale argument as the IVF quantizer fit (`_lloyd_numpy`): a
    projection basis needs only a representative sample — sklearn/FAISS
    PCA-reduce train the matrix the same way — so the fit input stays a
    few hundred KB at any corpus size and no distributed-ML job runs.
    Returns (mean, components) as plain nested lists.
    """
    import numpy as np

    X = np.asarray(sample, dtype=np.float64)
    mean = X.mean(axis=0)
    _, _, vt = np.linalg.svd(X - mean, full_matrices=False)
    comps = vt[:k]
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean.tolist(), [c.tolist() for c in comps]


def pca_project(
    embeddings: DataFrame, k: int = 4, fit_cap: int = 4096
) -> DataFrame:
    """Project the embedding column onto its top-k principal components
    — the dimensionality-reduction stage a training-data pipeline runs
    before ANN indexing / clustering (FAISS's PCAMatrix pre-transform).

    Fit: driver-side numpy SVD on a deterministic capped sample
    (``_fit_sample``, the vec_id prefix the ANN fits use). Apply: the
    mean and the k x d component matrix ride into the plan as ONE
    broadcast row (never thousands of literals — the LSH lesson), and
    the projection is a map-only JVM expression: proj[i] =
    dot(embedding - mean, comp[i]) via nested zip_with/aggregate. No
    shuffle, one scan, and no Python at execution: the basis row is a
    ``local_frame`` (``LocalTableScan``), not a pickled Python RDD. At
    100 TB this is embarrassingly parallel and the fit cost is
    unchanged.

    Returns (vec_id, proj array<double> length k).
    """
    spark = embeddings.sparkSession
    sample = _fit_sample(embeddings, fit_cap, "pca_project")
    k = min(k, len(sample[0]), len(sample))
    mean, comps = _pca_fit_numpy(sample, k)
    basis = local_frame(
        spark, [(mean, comps)], "mu array<double>, comps array<array<double>>"
    )
    # centered is re-inlined into each component's dot by CollapseProject
    # (HOFs get no CSE) — k * d extra subtractions per row, accepted:
    # still map-only and far under one extra column shuffle.
    centered = F.zip_with(
        F.col("embedding"), F.col("mu"), lambda a, b: a.cast("double") - b
    )
    proj = F.transform(
        F.col("comps"),
        lambda c: F.aggregate(
            F.zip_with(centered, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return embeddings.crossJoin(F.broadcast(basis)).select(
        "vec_id", proj.alias("proj")
    )


PQ_SUBSPACES = 4  # M: subvectors per embedding
PQ_CODES = 16  # K: centroids per sub-codebook (a 4-bit code)
PQ_RERANK = 48  # ADC shortlist size handed to the exact re-rank


# One IVF / PQ index serves all six ANN entries. Its codebooks are DATA:
# a coarse centroid matrix ``cent`` and per-subspace codebooks ``cb``,
# shipped as one broadcast row. The fitted entries (ivf_topk, pq_topk,
# ivfpq_topk) fit them with driver-side Lloyd's (``_fit_index``); the
# pinned twins use the seeded sign matrix (``_pinned_consts``) so a
# DuckDB oracle can replay every stage. Only the codeword score differs:
# sign books score by dot product, fitted books by negated squared L2.


def _fit_sample(embeddings: DataFrame, cap: int, name: str) -> list:
    """The driver-side fit input: the first ``cap`` vectors by vec_id
    (a deterministic prefix, a few hundred KB at any corpus size). When
    vec_ids do not start at 0 the prefix catches nothing and the first
    ``cap`` rows of the scan stand in."""
    sample = [
        r.embedding
        for r in embeddings.filter(F.col("vec_id") < cap)
        .select("embedding")
        .collect()
    ]
    if not sample:
        sample = [
            r.embedding for r in embeddings.select("embedding").limit(cap).collect()
        ]
    if not sample:
        raise ValueError(f"{name}: embeddings corpus is empty; nothing to fit")
    return sample


def _book_row(spark, cent=None, cb=None) -> DataFrame:
    """An index's codebooks as ONE broadcastable row: ``cent[c]`` is
    coarse centroid c, ``cb[m][c]`` is the codeword for PQ subspace m
    and code c. A missing book leaves its column out. Broadcast-crossed
    onto a frame, every row sees the whole matrix as DATA — the
    ``_sign_table`` argument against plan literals — so encode and LUT
    are per-row array expressions with no fan-out, window or pivot.
    The row is a ``local_frame``: the broadcast is fed by a
    ``LocalTableScan`` and no Python worker starts to build it."""
    cols, vals = [], []
    if cent is not None:
        cols.append("cent array<array<double>>")
        vals.append(cent)
    if cb is not None:
        cols.append("cb array<array<array<double>>>")
        vals.append(cb)
    return local_frame(spark, [tuple(vals)], ", ".join(cols))


def _pinned_consts(
    spark, dim: int, n_cells: int = 0, m_subspaces: int = 0, n_codes: int = 0
) -> DataFrame:
    """The pinned twins' book: ``n_cells`` x ``dim`` sign centroids and
    ``m_subspaces`` x ``n_codes`` sign codewords of ``dim / m_subspaces``
    entries, all from the seeded ``_plane_signs`` matrix. A zero count
    leaves its book out."""
    if m_subspaces and dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by {m_subspaces}")
    cent = [s[0] for s in _plane_signs(n_cells, 1, dim)] if n_cells else None
    cb = None
    if m_subspaces:
        signs = _plane_signs(m_subspaces * n_codes, 1, dim // m_subspaces)
        cb = [
            [signs[m * n_codes + c][0] for c in range(n_codes)]
            for m in range(m_subspaces)
        ]
    return _book_row(spark, cent, cb)


def _fit_index(
    embeddings: DataFrame,
    name: str,
    n_cells: int = 0,
    m_subspaces: int = 0,
    n_codes: int = 0,
) -> tuple[int, DataFrame]:
    """The fitted entries' book and the embedding dim, fit on the driver
    from one ``_fit_sample`` of ``64 * max(n_cells, n_codes)`` vectors —
    FAISS trains IVF and PQ the same way, and no distributed ML job runs.
    ``n_cells`` coarse centroids come from Lloyd's (``_lloyd_numpy``);
    with both books the PQ codebooks are fit on the sample RESIDUALS
    against each vector's nearest centroid, the distribution IVF-PQ
    encodes. Lloyd's seeds k distinct points, so a sample smaller than
    a count caps it."""
    import numpy as np

    sample = _fit_sample(embeddings, 64 * max(n_cells, n_codes), name)
    S = np.asarray(sample, dtype=np.float64)
    dim = S.shape[1]
    if m_subspaces and dim % m_subspaces != 0:
        raise ValueError(f"{name}: dim {dim} not divisible by {m_subspaces}")
    cent = cb = None
    if n_cells:
        cent = _lloyd_numpy(S, k=min(n_cells, len(S)))
        if m_subspaces:
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            S = S - cent[d2.argmin(axis=1)]
        cent = cent.tolist()
    if m_subspaces:
        sub_d = dim // m_subspaces
        cb = [
            _lloyd_numpy(
                S[:, m * sub_d : (m + 1) * sub_d], k=min(n_codes, len(S))
            ).tolist()
            for m in range(m_subspaces)
        ]
    return dim, _book_row(embeddings.sparkSession, cent, cb)


def _dots_sql(vec: str, book: str) -> str:
    """SQL for the array of dots of ``vec`` with each codeword of
    ``book`` — the left-to-right ``cast(x as double) * y`` fold from
    0.0 that DuckDB's list_dot_product reproduces bit for bit. Sign
    codewords have equal norms, so the largest dot is the nearest
    codeword by L2."""
    return (
        f"transform({book}, cw -> aggregate(zip_with({vec}, cw,"
        " (x, y) -> cast(x as double) * y), 0D, (acc, v) -> acc + v))"
    )


def _neg_l2_sql(vec: str, book: str) -> str:
    """SQL for the array of NEGATED squared L2 distances of ``vec`` to
    each codeword of ``book``, for fitted codewords of any norm. The
    argmax of -d2, first on ties, is the nearest codeword with ties to
    the smallest index, and a descending ADC over -d2 LUTs ranks by
    ascending approximate distance."""
    return (
        f"transform({book}, cw -> -aggregate(zip_with({vec}, cw,"
        " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
        " 0D, (acc, v) -> acc + v))"
    )


def _argmax_sql(arr: str) -> str:
    """SQL for the 0-based index of the largest element of a double
    array, the FIRST one on ties: ``ORDER BY value DESC, index`` with
    ``row_number() = 1``. One fold keeps the first strictly greater
    value; ``>`` uses Spark's sort ordering (-0.0 == 0.0, NaN largest),
    so it agrees with the window it replaces, null elements included
    (never greater, as NULLS LAST). A fold and not
    ``array_position(a, array_max(a))``: HOFs get no CSE, so that form
    would evaluate ``arr`` twice. The coalesce makes the result
    non-nullable: an equi-join on a nullable code infers an
    ``isnotnull`` filter that is pushed below the select and evaluates
    the whole fold a second time."""
    return (
        f"coalesce(aggregate({arr}, named_struct('i', 0, 'arg', 0,"
        " 'best', cast('-Infinity' as double)),"
        " (s, d) -> if(d > s.best,"
        " named_struct('i', s.i + 1, 'arg', s.i, 'best', d),"
        " named_struct('i', s.i + 1, 'arg', s.arg, 'best', s.best)),"
        " s -> s.arg), 0)"
    )


def _ann_pairs(
    embeddings: DataFrame,
    n_queries: int,
    dim: int,
    book: DataFrame,
    n_probe: int = 0,
    m_subspaces: int = 0,
    fitted: bool = False,
) -> DataFrame:
    """The (query, candidate) pairs of the IVF / PQ index all six ANN
    entries share, built as per-row array expressions over the one-row
    ``book`` broadcast. Codeword scores are ``_dots_sql`` for sign
    books and ``_neg_l2_sql`` for ``fitted`` ones; a fitted book with
    both ``cent`` and ``cb`` encodes the residual ``v - cent[cell]``.

    Corpus side: (vec_id, embedding, norm), plus the coarse ``cell``
    (with ``cent``) and one integer code ``c{m}`` per subspace (with
    ``m_subspaces``), each the argmax fold of its scores. Query side,
    for the first ``n_queries`` vectors: (query_id, q_emb, q_norm) and
    one LUT array ``lut{m}`` per subspace (``lut{m}[c]`` = score of
    query subvector m against codeword c). With ``cent`` each query is
    posexploded to one row per ``q_cell`` (its LUTs built from that
    cell's residual when fitted) and keeps its ``n_probe`` best cells
    by (score DESC, cell): the only window, over queries x cells. The
    broadcast queries join every other corpus vector, or with ``cent``
    only those in a probed cell."""
    score = _neg_l2_sql if fitted else _dots_sql
    cells = "cent" in book.columns
    sub_d = dim // m_subspaces if m_subspaces else 0
    base = with_norm(embeddings)
    book = F.broadcast(book)

    def sub_scores(frame: DataFrame, cell: str) -> tuple[DataFrame, list[str]]:
        """Per-subspace codeword scores of the vector PQ quantizes: the
        embedding, or in a fitted IVF-PQ its residual to cent[cell]."""
        vec = "embedding"
        if fitted and cells and m_subspaces:
            vec = "resid"
            frame = frame.withColumn(
                vec,
                F.expr(
                    f"zip_with(embedding, cent[{cell}],"
                    " (x, y) -> cast(x as double) - y)"
                ),
            )
        return frame, [
            score(f"slice({vec}, {m * sub_d + 1}, {sub_d})", f"cb[{m}]")
            for m in range(m_subspaces)
        ]

    enc = base.crossJoin(book)
    if cells:
        enc = enc.withColumn("cell", F.expr(_argmax_sql(score("embedding", "cent"))))
    enc, codes = sub_scores(enc, "cell")
    enc = enc.select(
        "vec_id",
        "embedding",
        "norm",
        *(["cell"] if cells else []),
        *[F.expr(_argmax_sql(d)).alias(f"c{m}") for m, d in enumerate(codes)],
    )

    queries = base.filter(F.col("vec_id") < n_queries).crossJoin(book)
    if cells:
        queries = queries.select(
            "*",
            F.posexplode(F.expr(score("embedding", "cent"))).alias(
                "q_cell", "q_score"
            ),
        )
    queries, luts = sub_scores(queries, "q_cell")
    queries = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        *(["q_cell", "q_score"] if cells else []),
        *[F.expr(d).alias(f"lut{m}") for m, d in enumerate(luts)],
    )
    on = F.col("vec_id") != F.col("query_id")
    if cells:
        probe_rank = Window.partitionBy("query_id").orderBy(
            F.col("q_score").desc(), F.col("q_cell")
        )
        queries = (
            queries.withColumn("prn", F.row_number().over(probe_rank))
            .filter(F.col("prn") <= n_probe)
            .drop("q_score", "prn")
        )
        on = (F.col("cell") == F.col("q_cell")) & on
    return enc.join(F.broadcast(queries), on)


def _rank_by_cosine(pairs: DataFrame, k: int) -> DataFrame:
    """Exact-cosine top-k of (query, candidate) pairs that carry both
    vectors and norms: (query_id, neighbor_id, cosine, rank). Reported
    cosines are TRUE cosines of the raw vectors."""
    cands = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_norm") * F.col("norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _adc_rerank(
    pairs: DataFrame, m_subspaces: int, rerank: int, k: int
) -> DataFrame:
    """Deterministic ADC over (corpus code, query LUT) pairs — the
    asymmetric score ``lut0[c0] + lut1[c1] + ...`` added in a FIXED
    left-to-right order, never a groupBy SUM whose float association
    depends on partitioning — then the ``rerank``-row shortlist per
    query by (score DESC, vec_id) and its exact-cosine top-k."""
    approx = " + ".join(f"lut{m}[c{m}]" for m in range(m_subspaces))
    short_w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("vec_id")
    )
    shortlist = (
        pairs.select(
            "query_id", "vec_id", "embedding", "norm", "q_emb", "q_norm",
            F.expr(approx).alias("approx"),
        )
        .withColumn("srn", F.row_number().over(short_w))
        .filter(F.col("srn") <= rerank)
    )
    return _rank_by_cosine(shortlist, k)


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions
    the corpus into cells; each query probes only its ``n_probe``
    nearest cells and exact-cosine re-ranks the candidates.

    Scale shape: the quantizer fits on a SAMPLE, never the corpus
    (``_fit_index``: a capped vec_id prefix, in-process Lloyd's). The
    centroids ride as one broadcast row; each vector's cell is an
    argmax fold over its negated squared distances to them — one
    corpus pass, pure JVM expressions, no shuffle of the corpus. The
    probe is a broadcast equi join on cell id touching ~n_probe/n_cells
    of the corpus per query. At 100 TB raise n_cells ~ sqrt(N); the fit
    stays O(sample), everything else is unchanged. Returns (query_id,
    neighbor_id, cosine, rank) with true cosines.
    """
    dim, book = _fit_index(embeddings, "ivf_topk", n_cells=n_cells)
    pairs = _ann_pairs(embeddings, n_queries, dim, book, n_probe, fitted=True)
    return _rank_by_cosine(pairs, k)


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    m_subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """Product-quantization ANN (Jegou et al., TPAMI'11) — the
    memory-bound regime IVF/LSH don't cover: the corpus is stored as
    M small codes per vector (here 4x4 bits vs 64 floats, a ~32x
    compression), queries scan the CODES with an asymmetric-distance
    lookup table, and only an ADC shortlist of ``rerank`` candidates
    per query touches the raw vectors for the exact cosine re-rank.

    Spark shape (the shared index, ``_ann_pairs``):
    * fit — per-subspace codebooks via driver-side Lloyd's on a capped
      sample (``_fit_index``), shipped as one broadcast row.
    * encode — one corpus pass: each vector's M codes are argmax folds
      over negated squared distances to its subspace's codewords,
      M int columns on the vector's own row.
    * ADC — each query carries one LUT array per subspace; the scan
      over the broadcast queries adds ``lut0[c0] + lut1[c1] + ...`` in
      a fixed order — table lookups, no per-vector float math.
    * re-rank — top ``rerank`` by (ADC, vec_id) per query, then exact
      cosine against the raw vectors for the final top-k, so reported
      cosines are TRUE cosines (rows-only entry: the fit is
      data-dependent; recall + true-cosine properties are pinned in
      tests).

    At 100 TB: the raw corpus is touched once (encode) and then only
    by shortlists; the codes are M bytes per vector — the scan that
    serves queries is ~1/32 the IO of the raw corpus.
    """
    dim, book = _fit_index(
        embeddings, "pq_topk", m_subspaces=m_subspaces, n_codes=n_codes
    )
    pairs = _ann_pairs(
        embeddings, n_queries, dim, book, m_subspaces=m_subspaces, fitted=True
    )
    return _adc_rerank(pairs, m_subspaces, rerank, k)


def ivfpq_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    m_subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (Jegou et al. TPAMI'11 section
    IV-B) — the FAISS IndexIVFPQ composition of ``ivf_topk`` and
    ``pq_topk``: the coarse quantizer routes vectors to cells AND the
    PQ codebooks quantize the residual (v - centroid), which is what
    makes the codes sharp enough to rank inside a cell; a query probes
    only its ``n_probe`` nearest cells with a PER-(query, cell) LUT
    built from the QUERY's residual against that cell.

    Spark shape (the shared index, ``_ann_pairs``):
    * fit — one capped driver-side sample fits the coarse centroids,
      assigns the sample, and fits per-subspace codebooks on the
      sample RESIDUALS (``_fit_index``); one broadcast row.
    * encode — one corpus pass: the cell is an argmax fold, the
      residual ``zip_with(embedding, cent[cell], ...)``, and each
      subspace's code an argmax fold over the residual slice.
    * probe — each query's ``n_probe`` best cells (the one window, over
      queries x cells); per probed cell, the query residual
      ``zip_with(q_emb, cent[q_cell], ...)`` and its LUT arrays. The
      cell-matched join means only probed cells' codes are scanned,
      with the fixed-order ADC ``lut0[c0] + lut1[c1] + ...``.
    * re-rank — top ``rerank`` by ADC, exact cosine on the raw vectors
      for the final top-k (reported cosines are TRUE).

    Rows-only entry (the fit is data-dependent); recall and true-cosine
    properties pinned in tests/test_llm_ops.py.
    """
    dim, book = _fit_index(
        embeddings, "ivfpq_topk", n_cells, m_subspaces, n_codes
    )
    pairs = _ann_pairs(
        embeddings, n_queries, dim, book, n_probe, m_subspaces, fitted=True
    )
    return _adc_rerank(pairs, m_subspaces, rerank, k)

def ivf_pinned_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    dim: int = 64,
) -> DataFrame:
    """``ivf_topk`` with a PINNED coarse quantizer — the oracle-
    replayable twin (the q_sim_ann_lsh pinned-layout pattern applied
    to IVF). The fitted quantizer makes the production entry rows-only
    by necessity (Lloyd's centroids are data-dependent floats no
    static SQL can restate); pinning the centroids to the seeded
    ``_plane_signs`` sign matrix makes every stage — assignment, cell
    probe, candidate join, cosine re-rank — exactly replayable in
    ANSI SQL, so the driver's hash gates the IVF probe SHAPE
    end-to-end.

    Sign centroids have EQUAL norm (|c|^2 = dim), so nearest-centroid
    by L2 is exactly argmax dot product — and the dot is the one
    primitive proven bit-exact across engines (Spark aggregate fold ==
    DuckDB list_dot_product, left-to-right). The index is
    ``ivf_topk``'s (``_ann_pairs``) with dot scores: each vector's cell
    is an argmax fold over its centroid dots (ties to the smallest
    cell); each query's probe ranks its cell dots by (dot DESC, cell).
    Candidates join on cell id, and the top-k output is rank-only so
    no float enters the hash. Quantizer QUALITY is whatever random
    sign directions give (fine on this near-isotropic corpus; recall
    vs brute force stays the production entry's property test) — what
    this entry verifies is the pipeline's mechanics, not the fit.
    """
    book = _pinned_consts(embeddings.sparkSession, dim, n_cells)
    pairs = _ann_pairs(embeddings, n_queries, dim, book, n_probe)
    return _rank_by_cosine(pairs, k).drop("cosine")


def pq_pinned_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    m_subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    rerank: int = PQ_RERANK,
    dim: int = 64,
) -> DataFrame:
    """``pq_topk`` with PINNED sign codebooks — the oracle-replayable
    twin (the ivf_pinned_topk move applied to PQ). The codebooks are
    the seeded sign matrix (equal-norm codewords), so encode's
    argmin-L2 is exactly argmax dot — the bit-exact primitive —
    instead of Lloyd-fitted data-dependent floats. Everything else is
    ``pq_topk``'s index (``_ann_pairs``): each corpus row gets its
    codes from argmax folds, each query its LUT arrays, and the ADC
    ``lut0[c0] + lut1[c1] + ...`` is added in a fixed order over a
    broadcast cross of queries onto the coded corpus, so the only
    shuffle is the per-query shortlist window's. Shortlist then
    exact-cosine re-rank; rank-only output keeps floats out of the
    hash. This entry verifies PQ's MECHANICS (encode, LUT, ADC scan,
    re-rank) end-to-end; compression QUALITY stays the fitted entry's
    recall property test.
    """
    book = _pinned_consts(embeddings.sparkSession, dim, 0, m_subspaces, n_codes)
    pairs = _ann_pairs(embeddings, n_queries, dim, book, m_subspaces=m_subspaces)
    return _adc_rerank(pairs, m_subspaces, rerank, k).drop("cosine")


def ivfpq_pinned_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    m_subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    rerank: int = PQ_RERANK,
    dim: int = 64,
) -> DataFrame:
    """``ivfpq_topk`` with everything pinned — the composition of
    ``ivf_pinned_topk``'s sign-centroid cell probe and
    ``pq_pinned_topk``'s sign codebooks, so the full two-level index
    (coarse cells gate WHICH codes are scanned, PQ codes approximate
    the scan, exact cosine re-ranks the shortlist) replays in ANSI SQL
    and the driver hash gates it end-to-end. Sign books quantize the
    vector itself, not a residual. One ``_ann_pairs`` pass gives each
    corpus row its cell and codes; each probed (query, cell) row
    carries the query's LUTs, and the ADC runs over the cell-matched
    pairs only. Rank-only output; quality stays the fitted production
    entry's recall property test."""
    book = _pinned_consts(
        embeddings.sparkSession, dim, n_cells, m_subspaces, n_codes
    )
    pairs = _ann_pairs(embeddings, n_queries, dim, book, n_probe, m_subspaces)
    return _adc_rerank(pairs, m_subspaces, rerank, k).drop("cosine")


def random_projection(
    embeddings: DataFrame, out_dim: int = 16, dim: int = 64
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: compress each embedding
    to ``out_dim`` components via the seeded +-1 sign matrix scaled by
    1/sqrt(out_dim) (Achlioptas '03 showed sign entries satisfy the JL
    guarantee — no Gaussians needed, and +-1 keeps every value exactly
    representable). The fit-free reduction path a pipeline uses for
    embedding storage/IO compression ahead of ANN; PCA
    (operators/similarity.py::pca_project) remains the data-adaptive
    one.

    Scale shape: ONE broadcast row carries the whole projection matrix
    (out_dim array columns), so the pass is map-only — no shuffle, no
    fit, no Python. Every output component is a single aggregate-fold
    dot times an exactly-representable constant (1/4 for out_dim=16),
    so the values are bit-exact across engines and the entry is
    hash-gateable (the pinned-ANN-twin primitive).

    Returns (vec_id, r0..r{out_dim-1}) as double columns.
    """
    spark = embeddings.sparkSession
    scale = 1.0 / math.sqrt(out_dim)
    signs = _plane_signs(1, out_dim, dim)
    row = tuple([0] + [signs[0][p] for p in range(out_dim)])
    schema = "one int, " + ", ".join(
        f"s{p} array<double>" for p in range(out_dim)
    )
    mat = local_frame(spark, [row], schema)
    comps = [
        (
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col(f"s{p}"),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(scale)
        ).alias(f"r{p}")
        for p in range(out_dim)
    ]
    return embeddings.crossJoin(F.broadcast(mat)).select("vec_id", *comps)


def ann_lsh_multiprobe_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    planes: int = 6,
    tables: int = 2,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB '07): each query probes
    its own bucket PLUS every bucket at Hamming distance 1 (one
    sign-bit flip) in each table. The probe fan-out buys the recall
    that single-probe LSH gets from MORE tables — here 2 tables x 7
    probes replace 8-14 single-probe tables, an ~4x smaller index (at
    100 TB the bucket table IS the index; tables multiply its rows,
    probes only multiply the tiny query side).

    Same pinned sign-matrix machinery as :func:`ann_lsh_topk`
    (`_sign_table` broadcast, fold-dot bucket bits); the probe spine
    (0, 1, 2, 4, ...) rides a broadcast literal table and the probe
    bucket is ``bucket XOR flip`` — integer-exact on any engine.
    Exact cosine re-ranks candidates only."""
    dim = embeddings.select(F.size("embedding")).first()[0]
    sign_df = _sign_table(embeddings.sparkSession, tables, planes, dim)
    base = with_norm(embeddings)
    bucketed = base.crossJoin(F.broadcast(sign_df)).select(
        "vec_id",
        "embedding",
        "norm",
        "table_id",
        _bucket_bits(F.col("embedding"), planes).alias("bucket"),
    )
    flips = local_frame(
        embeddings.sparkSession,
        [(0,)] + [(1 << p,) for p in range(planes)],
        "flip long",
    )
    queries = (
        bucketed.filter(F.col("vec_id") < n_queries)
        .crossJoin(F.broadcast(flips))
        .select(
            F.col("vec_id"),
            F.col("embedding"),
            F.col("norm"),
            F.col("table_id"),
            F.expr("bucket ^ flip").alias("bucket"),
        )
    )
    cands = (
        bucketed.alias("c")
        .join(
            F.broadcast(queries.alias("q")),
            (F.col("c.table_id") == F.col("q.table_id"))
            & (F.col("c.bucket") == F.col("q.bucket"))
            & (F.col("c.vec_id") != F.col("q.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q.embedding"), F.col("c.embedding"))
                / (F.col("q.norm") * F.col("c.norm"))
            ).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
