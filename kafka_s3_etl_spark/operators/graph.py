"""Iterative graph operators over document-similarity graphs.

PageRank complements ``operators/dedup.py``'s connected components: CC
answers "which docs are the same content", PageRank answers "which docs
are central in the near-dup/citation graph" — the centrality signal a
curation pipeline uses to pick the canonical representative of a
cluster (keep the hub, drop the satellites).

Spark-first iterative shape (the Pregel-lite pattern, same discipline
as connected_components):

* per-iteration cost is one groupBy shuffle on dst + one join on src —
  both partition on node id, so a 100 TB edge list iterates at the cost
  of `iters` hash aggregations;
* every loop that stops when a round changes nothing (connected
  components, both forms; ``kcore``; ``label_propagation``) runs on
  ``fixpoint``: it checkpoints each round (the convergence test that
  follows is an action on the new state), stops when the round moved
  nothing, raises at its cap and records each round in
  ``LAST_FIXPOINT``;
* a fixed-round loop stays ONE plan where that measured faster:
  ``bfs_kstep`` and ``label_propagation_kstep`` read their state once
  per round, so nothing is recomputed and the checkpoint jobs go;
* ``integer_power_rounds`` (markov and fixed-point PageRank) and the
  float ``pagerank`` checkpoint every round: as one plan the 12-round
  markov chain measured slower, and float PageRank's round reads
  ``ranks`` twice, so one plan would double every round;
* dangling mass (nodes with no out-edges) is redistributed uniformly
  each iteration via a 1-row aggregate broadcast, keeping the rank a
  proper probability distribution (sums to 1).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class FixpointRun:
    """What one ``fixpoint`` call leaves behind: the loop's name and,
    per round run, ``{"moved": <what the round changed>, "s": <seconds>}``."""

    name: str
    rounds: list


# The record of the latest fixpoint call, filled round by round, so a
# run that hit its cap still leaves its rounds.
LAST_FIXPOINT: FixpointRun | None = None


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    moved: Callable[[DataFrame], Any],
    *,
    max_rounds: int,
    name: str,
) -> DataFrame:
    """Run ``state = step(state)`` until a round moves nothing; return
    the last state.

    Each round checkpoints the new state (``moved`` is an action on it,
    and the cut keeps the next round's plan from nesting this one),
    then calls ``moved(state)``: what the round changed, a count or a
    flag. 0 or False ends the run. Reaching ``max_rounds`` without that
    raises: a loop stopped short would hand back a state that looks
    like an answer but is not one.
    """
    global LAST_FIXPOINT
    LAST_FIXPOINT = FixpointRun(name, [])
    for _ in range(max_rounds):
        t0 = time.perf_counter()
        state = step(state).localCheckpoint()
        change = moved(state)
        LAST_FIXPOINT.rounds.append(
            {"moved": change, "s": round(time.perf_counter() - t0, 3)}
        )
        if not change:
            return state
    raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")


def _canonical(edges: DataFrame, x: str, y: str) -> DataFrame:
    """One (x, y) row per undirected edge of the (a, b) list, x < y:
    orientation, self-loops and duplicates dropped."""
    return (
        edges.select(F.least("a", "b").alias(x), F.greatest("a", "b").alias(y))
        .filter(F.col(x) != F.col(y))
        .distinct()
    )


def _degrees(edges: DataFrame, x: str, y: str) -> DataFrame:
    """(node, deg) over an undirected (x, y) edge list."""
    return (
        edges.select(F.col(x).alias("node"))
        .unionAll(edges.select(F.col(y).alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _strip_hubs(canon: DataFrame, x: str, y: str, max_degree: int) -> DataFrame:
    """``canon`` without the edges that touch a node of degree above
    ``max_degree``. At most 2m/cap nodes can exceed the cap, so the hub
    set is tiny and both exclusion joins broadcast."""
    hubs = (
        _degrees(canon, x, y).filter(F.col("deg") > max_degree).select("node")
    )
    return (
        canon.join(F.broadcast(hubs.withColumnRenamed("node", x)), x, "left_anti")
        .join(F.broadcast(hubs.withColumnRenamed("node", y)), y, "left_anti")
        .select(x, y)
    )


def symmetrize_pairs(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    self_loops: bool = False,
) -> DataFrame:
    """Both orientations of an undirected pair list as directed
    (src, dst) rows — in ONE pass over ``pairs``.

    The classic ``pairs.union(pairs-swapped)`` shape references the
    ``pairs`` plan twice, and when the pair lineage is an expensive
    un-checkpointed pipeline (a MinHash band join, an edit-distance
    blocking join) Spark executes it once PER REFERENCE — ReuseExchange
    does not fire across the union branches because the final
    projections differ (measured r14: q_split_leakage_safe, whose CC
    input is the raw MinHash pipeline, ran 1.6x slower than
    q_split_leakage_audit which does strictly more work but checkpoints
    the pairs first). Exploding a 2-struct (or 4-struct, with
    ``self_loops``) array per row emits the identical multiset from a
    single scan of the lineage, so the first localCheckpoint downstream
    pays the pair pipeline exactly once.

    With ``self_loops`` the (src, src) and (dst, dst) rows every
    LPA-style vote loop needs ride the same single pass (only
    meaningful followed by distinct()). Rows where ``a == b`` are
    filtered HERE when loops are enabled — a self-pair would emit four
    identical (x, x) rows, which a multiset consumer would read as four
    votes (ADVICE r14: enforce the invariant in the helper, not by
    caller discipline). A consequence: a node that appears ONLY in
    ``(x, x)`` input pairs disappears from the edge set — not even its
    self-loop is emitted. Callers that must keep every node (component
    labels, vote loops over a node table) have to take their node set
    from the node table, not from these edges.
    """
    if self_loops:
        pairs = pairs.filter(F.col(a) != F.col(b))
    structs = [
        F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
        F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
    ]
    if self_loops:
        structs += [
            F.struct(F.col(a).alias("src"), F.col(a).alias("dst")),
            F.struct(F.col(b).alias("src"), F.col(b).alias("dst")),
        ]
    return (
        pairs.select(F.explode(F.array(*structs)).alias("e"))
        .select("e.src", "e.dst")
    )


def pagerank(
    pairs: DataFrame,
    nodes: DataFrame,
    alpha: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """PageRank on an undirected pair list (each pair contributes both
    directions). ``pairs`` is (doc_a, doc_b); ``nodes`` is one doc_id
    per document (isolated nodes keep teleport-only rank). The ranked
    node set is ``nodes`` UNION all pair endpoints, so a pair endpoint
    missing from ``nodes`` still holds (and emits) its rank mass rather
    than silently draining the distribution.

    Returns (doc_id, rank) with sum(rank) == 1 up to float error.
    Deterministic for a fixed graph and iteration count.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # One pass over the (possibly expensive) pair lineage — see
    # symmetrize_pairs for why union-with-swap would execute it twice.
    # Each edge carries its source's out-degree, so no round
    # re-aggregates the degrees.
    edges = (
        symmetrize_pairs(pairs)
        .distinct()
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .localCheckpoint()
    )
    # Symmetrized edges carry every endpoint in src, so one union covers
    # both columns of `pairs`; `out` marks the nodes that emit rank.
    base = (
        nodes.select(F.col("doc_id").alias("node"), F.lit(False).alias("out"))
        .unionByName(edges.select(F.col("src").alias("node"), F.lit(True).alias("out")))
        .groupBy("node")
        .agg(F.max("out").alias("out"))
        .localCheckpoint()
    )
    n_nodes = base.count()
    if n_nodes == 0:
        raise ValueError("pagerank: nodes is empty; nothing to rank")
    ranks = base.withColumn("rank", F.lit(1.0 / n_nodes)).localCheckpoint()

    # A zero inflow per node stands in for a left join from `base` (see
    # integer_power_rounds); it also carries the node's `out` flag.
    zeros = base.select("node", "out", F.lit(0.0).alias("c"))
    for _ in range(iters):
        # Mass parked on dangling nodes (no out-edges) teleports
        # uniformly; computed as 1 - mass actually emitted.
        emitted = ranks.filter("out").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m")
        )
        inflow = (
            edges.join(ranks.hint("shuffle_hash"), edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.lit(False).alias("out"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .unionByName(zeros)
            .groupBy("node")
            .agg(F.max("out").alias("out"), F.sum("c").alias("inflow"))
        )
        ranks = (
            inflow.crossJoin(F.broadcast(emitted))
            .select(
                "node",
                "out",
                (
                    (1.0 - alpha) / n_nodes
                    + alpha * (F.col("inflow") + (1.0 - F.col("m")) / n_nodes)
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select(F.col("node").alias("doc_id"), "rank")


def pagerank_fixedpoint(
    pairs: DataFrame,
    iters: int = 6,
    init: int = 1_000_000_000,
    alpha_num: int = 85,
    alpha_den: int = 100,
) -> DataFrame:
    """Integer fixed-point PageRank: the oracle-checkable twin of
    ``pagerank``. Every operation is integer (bigint sums, floor
    division), so the result is bit-exact across engines AND summation
    orders — a DuckDB oracle can replay the full iteration as a
    generated CTE chain and hash-match it, which no float power
    iteration can promise (float sums are association-dependent).

    Semantics (deliberately simple so both engines state them
    identically): nodes = pair endpoints (deg >= 1 by construction, so
    no dangling mass); rank_0 = ``init``;

        rank_{t+1}(u) = teleport + (alpha_num * inflow_t(u)) div alpha_den
        inflow_t(u)   = sum over in-edges (v,u) of rank_t(v) div deg(v)
        teleport      = (alpha_den - alpha_num) * init div alpha_den

    Floor division sheds a little mass each round (the result is a
    centrality SCORE, not a probability distribution); the ordering
    tracks the float ``pagerank`` (property-tested). Overflow headroom:
    inflow <= n*init, times alpha_num must fit a bigint -> n < ~1e8 at
    the default init; the float ``pagerank`` remains the production
    operator beyond that.

    Scale shape is identical to ``pagerank``: per round one join on src
    + one groupBy shuffle on dst, both partitioned on node id — the
    ``integer_power_rounds`` step with unit edge weights, so each
    source's total weight is its degree.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # One pass over the pair lineage (see symmetrize_pairs).
    weights = symmetrize_pairs(pairs).distinct().withColumn("n", F.lit(1))
    ranks = integer_power_rounds(
        weights,
        iters=iters,
        init=init,
        teleport=(alpha_den - alpha_num) * init // alpha_den,
        alpha_num=alpha_num,
        alpha_den=alpha_den,
    )
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_fp"))


def integer_power_rounds(
    weights: DataFrame,
    *,
    iters: int,
    init: int,
    teleport: int = 0,
    alpha_num: int = 1,
    alpha_den: int = 1,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(node, r) after ``iters`` rounds of the integer power step over
    the weighted edges ``weights`` (src, dst, n), from r = ``init`` on
    every node:

        r'(u)  = teleport + (alpha_num * inflow(u)) div alpha_den
        inflow = sum over edges (v, u) of (r(v) * n) div tot(v)
        tot(v) = sum of n over v's out-edges

    Every operation is bigint, so the result is bit-exact across
    engines and summation orders. ``nodes`` (node) is the ranked set
    and must hold every ``dst``; by default every ``src``. Each round
    is checkpointed: as one plan the 12-round markov chain measured
    slower.
    """
    mat = weights.withColumn(
        "tot", F.sum("n").over(Window.partitionBy("src")).cast("bigint")
    ).localCheckpoint()
    if nodes is None:
        nodes = mat.select(F.col("src").alias("node")).distinct()
    nodes = nodes.localCheckpoint()
    ranks = nodes.select("node", F.lit(init).cast("bigint").alias("r")).localCheckpoint()
    # A zero contribution per node stands in for a left join from
    # `nodes`: nodes without in-edges still get a row, and the round
    # pays no extra shuffle.
    zeros = nodes.select("node", F.lit(0).cast("bigint").alias("c"))
    for _ in range(iters):
        inflow = (
            mat.join(ranks.hint("shuffle_hash"), mat.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr("(r * n) div tot").alias("c"))
            .unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = inflow.select(
            "node",
            F.expr(f"{teleport} + ({alpha_num} * inflow) div {alpha_den}")
            .cast("bigint")
            .alias("r"),
        ).localCheckpoint()
    return ranks


def triangle_counts(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    ``edges`` is (a, b) with one row per undirected edge (any
    orientation, self-loops and duplicates tolerated — canonicalized
    here). Returns (node, n_tri) for every node in >= 1 triangle.

    ``max_degree`` is the bounded-output knob for graphs whose hub
    nodes make the triangle count itself superlinear in the edge count
    (the r6 probe measured 6.2x output growth at 10x data on the
    name-linkage graph): when set, nodes whose degree exceeds the cap
    are REMOVED and the counts are computed EXACTLY on the induced
    subgraph of the remaining nodes. The error is fully characterized —
    every reported count is exact for triangles among sub-cap nodes,
    and only triangles touching a dropped hub are missing — and the
    cost becomes linear: wedges per pivot <= cap, so the candidate set
    is <= m*cap rows regardless of skew. The hub set itself is tiny by
    construction (at most 2m/cap nodes can exceed degree cap), so the
    exclusion joins broadcast.

    Scale shape — the degree-ordered wedge join (the standard
    distributed triangle algorithm, cf. Suri & Vassilvitskii's MR
    "node-iterator++"):

    1. canonicalize each edge and orient it from the LOWER (degree, id)
       endpoint to the higher. Every triangle then has exactly one
       "pivot" node with out-degree-2 in the oriented graph, so it is
       enumerated exactly once — and the out-degree of any node is
       bounded by ~sqrt(2m), which caps the wedge blow-up of hub nodes
       (the reason the naive a<b orientation dies on skewed graphs).
    2. wedges: self-join oriented edges on the pivot (one shuffle on
       src), giving candidate (lo, hi) closures.
    3. close: semi-ish inner join of wedges against the canonical edge
       set (second shuffle) — surviving rows ARE the triangles.
    4. per-node rollup: explode the 3 corners, map-side-combined count.

    Total cost: two equi-join shuffles + one agg over m^(3/2)-bounded
    wedges; never an all-pairs product.
    """
    # Materialize once: the edge set feeds three consumers (degree
    # rollup, orientation, wedge closure); without the cut Spark
    # recomputes the upstream pair generation three times.
    canon = _canonical(edges, "x", "y").localCheckpoint()
    if max_degree is not None:
        canon = _strip_hubs(canon, "x", "y", max_degree).localCheckpoint()
    deg = _degrees(canon, "x", "y")
    ranked = (
        canon.join(deg.withColumnRenamed("node", "x"), "x")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.select(F.col("node").alias("y"), F.col("deg").alias("dy")),
            "y",
        )
        .select(
            F.when(
                (F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                F.struct(F.col("x").alias("src"), F.col("y").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("y").alias("src"), F.col("x").alias("dst"))
            )
            .alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    # shuffle_hash on both joins: neither needs its output ordered, and
    # the sort-merge sorts dominated the wall clock (measured 4.8s ->
    # 1.7s at sf0.1). Build sides are per-partition slices of the edge
    # set, so memory stays bounded by edges / shuffle-partitions.
    wedges = (
        ranked.alias("e1")
        .join(ranked.alias("e2").hint("shuffle_hash"), on="src")
        .filter(F.col("e1.dst") < F.col("e2.dst"))
        .select(
            F.col("src").alias("pivot"),
            F.col("e1.dst").alias("u"),
            F.col("e2.dst").alias("v"),
        )
    )
    tris = wedges.join(
        canon.select(
            F.col("x").alias("u"), F.col("y").alias("v")
        ).hint("shuffle_hash"),
        on=["u", "v"],
    )
    return (
        tris.select(
            F.explode(F.array("pivot", "u", "v")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )


def jaccard_neighbors(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Common-neighbor (Jaccard) link prediction over an undirected
    graph: score every NON-adjacent pair (x, y) that shares >= 1
    neighbor by |N(x) & N(y)| / |N(x) | N(y)|. ``edges`` is (a, b) in
    any orientation (canonicalized here). Returns
    (name_a, name_b, n_common, jaccard) with name_a < name_b.

    Candidate pairs come from the wedge self-join on the shared
    neighbor — only pairs with a common neighbor are ever materialized,
    never the n^2 pair space — and the union size is
    deg(x)+deg(y)-common, so the score is one division of exact
    BIGINTs.

    ``max_degree`` is the same bounded-output knob as
    ``triangle_counts``: a hub of degree d pivots d^2 wedge candidates
    (the uncapped sibling measured 19.1x at 30x data on the linkage
    graph), so when set, nodes above the cap are REMOVED by broadcast
    anti-join before the wedge join and the scores are EXACT on the
    induced subgraph (degrees recomputed after the drop). Wedge
    candidates are then bounded by m*cap regardless of skew; the hub
    set is tiny by construction (<= 2m/cap nodes), so the exclusion
    joins broadcast.
    """
    # Multiple consumers (degree rollup, hub anti-joins, wedge sides,
    # adjacency anti-join) — materialize the pair generation once.
    canon = _canonical(edges, "a", "b").localCheckpoint()
    if max_degree is not None:
        canon = _strip_hubs(canon, "a", "b", max_degree).localCheckpoint()
    sym = canon.select(
        F.col("a").alias("u"), F.col("b").alias("p")
    ).unionAll(canon.select(F.col("b").alias("u"), F.col("a").alias("p")))
    s1 = sym.select(F.col("u").alias("x"), "p")
    s2 = sym.select(F.col("u").alias("y"), "p")
    # shuffle_hash: wedge output feeds unordered aggs/joins, the
    # sort-merge sorts would be pure waste (same call as triangles).
    cn = (
        s1.join(s2.hint("shuffle_hash"), "p")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    nonadj = cn.join(
        canon.hint("shuffle_hash"),
        (cn.x == canon.a) & (cn.y == canon.b),
        "left_anti",
    )
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
    dx = deg.select(F.col("u").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("u").alias("y"), F.col("deg").alias("deg_y"))
    return (
        nonadj.join(dx.hint("shuffle_hash"), "x")
        .join(dy.hint("shuffle_hash"), "y")
        .select(
            F.col("x").alias("name_a"),
            F.col("y").alias("name_b"),
            "n_common",
            F.expr(
                "CAST(n_common AS DOUBLE) / (deg_x + deg_y - n_common)"
            ).alias("jaccard"),
        )
    )


def kcore(
    edges: DataFrame, k: int = 2, max_iters: int | None = None
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in which
    every node has degree >= k — the standard "dense backbone" filter a
    curation pipeline runs on a near-dup graph before community-level
    decisions (nodes outside the 2-core are leaves/isolated pairs that
    pairwise merge handles fine; the core is where cluster resolution
    is needed).

    ``edges`` is (a, b) in any orientation (canonicalized here).
    Returns (node, deg) for core members, with deg the node's degree
    INSIDE the core subgraph.

    Spark-first iterative shape (same Pregel-lite discipline as
    ``pagerank``): classic peeling — repeatedly delete nodes of degree
    < k — but executed a FULL LAYER per round rather than one node at a
    time, so each round is one degree aggregation (shuffle on node id)
    + two semi-joins, and the round count is the graph's "peeling
    depth" (<= max coreness ladder length, in practice a handful —
    NEVER the sequential algorithm's O(n) steps). The rounds run on
    ``fixpoint`` and stop when a round removes no edge (an empty graph
    stops after one such round). The result is identical to sequential
    peeling because deleting any degree<k node never rescues another:
    the k-core is unique, order-independent.

    ``max_iters`` is a logic-bug backstop; hitting it raises rather
    than silently returning a non-core (a too-shallow peel would LOOK
    like a valid answer but contain degree<k nodes). Peeling depth is
    NOT bounded by a small constant — a path component peels one layer
    per endpoint pair, ~n/2 rounds for k=2 — but every non-fixpoint
    round removes >= 1 edge, so depth <= m + 1 always. The default
    scales with the input (``max(50, m + 1)``); a fixed cap would
    reject legitimate long-chain graphs (r7 advice). Pass an explicit
    ``max_iters`` only to bound wall-clock on graphs whose peel depth
    you know.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cur = _canonical(edges, "x", "y").localCheckpoint()
    n_edges = [cur.count()]
    if max_iters is None:
        # Universal bound: each non-fixpoint round deletes >= 1 edge.
        max_iters = max(50, n_edges[0] + 1)

    def peel(e: DataFrame) -> DataFrame:
        keep = _degrees(e, "x", "y").filter(F.col("deg") >= k).select("node")
        return (
            e.join(
                keep.withColumnRenamed("node", "x").hint("shuffle_hash"),
                "x",
                "left_semi",
            )
            .join(
                keep.withColumnRenamed("node", "y").hint("shuffle_hash"),
                "y",
                "left_semi",
            )
            .select("x", "y")
        )

    def removed(e: DataFrame) -> int:
        before, n_edges[0] = n_edges[0], e.count()
        return before - n_edges[0]

    core = fixpoint(cur, peel, removed, max_rounds=max_iters, name="kcore")
    # Fixpoint: every remaining endpoint has degree >= k.
    return _degrees(core, "x", "y")


def label_propagation(
    pairs: DataFrame, max_iters: int = 20, max_degree: int | None = None
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made DETERMINISTIC: every node simultaneously adopts
    the most frequent label in N(v) + {v} (the self-vote damps
    oscillation), ties broken by the SMALLEST label — a total order, so
    the result is a pure function of the graph, independent of
    partitioning or schedule. The classic async formulation visits
    nodes in random order; that irreproducibility is exactly what a
    cross-engine/correctness-gated pipeline cannot have.

    ``pairs`` is (a, b) undirected in any orientation. Returns
    (node, community) with community = the converged label (a member's
    node id). Iterates on ``fixpoint`` until no label changes. Hitting
    ``max_iters`` raises RuntimeError ("did not converge"): synchronous
    mode-updates can 2-cycle on symmetric graphs, and a labeling cut at
    the cap is not a fixpoint. (Earlier versions returned the labeling
    at the cap silently; the catalog's graphs converge in 3-4 rounds.)

    Spark-first iterative shape (Pregel-lite, same discipline as
    ``pagerank``/``kcore``): per round one join (edges x labels, both
    partitioned on node id) + two map-side-combinable aggregations
    (vote count, then per-node arg-min-of-(-count, label) via the
    min(struct) house pattern); ``fixpoint`` checkpoints each round.

    FRONTIER-PRUNED: a synchronous update can only flip v's label if
    some u in N(v) + {v} changed last round, so each round re-votes
    ONLY the changed nodes' neighborhoods and keeps every other label
    as-is — the result is bit-identical to the full sweep (same pure
    function of the graph), but late rounds cost O(frontier-adjacent
    edges) instead of O(E). Measured on the sf0.1 ed1-name graph the
    frontier collapses 15k -> 6k -> 99 -> 0; without pruning rounds 3
    and 4 each paid the full 525k-edge join for <=99 updates.

    ``max_degree`` is the same bounded-cost knob as ``triangle_counts``
    / ``jaccard_neighbors``: the r8 30x probe measured 8.2x on a
    superlinearly-grown graph because hub neighborhoods dominate every
    vote join. When set, nodes above the cap are REMOVED by broadcast
    anti-join before symmetrization and the propagation is EXACT on the
    induced subgraph (property-tested: capped == uncapped run on the
    pre-stripped graph). Per-round join output is then bounded by
    m*cap regardless of skew; the hub set is tiny by construction
    (<= 2m/cap nodes), so the exclusion joins broadcast.

    Self-loops are merged into the edge set once at setup, which makes
    the self-vote a plain neighbor vote AND puts every changed node in
    its own neighborhood (so `affected` is one semi-join). The label
    merge each round is a join (LEFT JOIN + coalesce in pruned rounds),
    not a union: checkpointing the union form of this merge over
    already-checkpointed branches tripped Spark's LogicalRDD constraint
    rewrite (NoSuchElementException in UnionBase.rewriteConstraints).
    """
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    if max_degree is not None:
        pairs = _strip_hubs(
            _canonical(pairs, "a", "b").localCheckpoint(), "a", "b", max_degree
        )
    # (v, v) self-loops: one vote for a node's own current label, and
    # frontier membership implies affected membership. Built in ONE
    # pass over the pair lineage (see symmetrize_pairs — the previous
    # sym-union-selfloops shape referenced `pairs` four times, running
    # an un-checkpointed edit-distance blocking pipeline 4x).
    edges = (
        symmetrize_pairs(
            pairs.filter(F.col("a") != F.col("b")),
            a="a",
            b="b",
            self_loops=True,
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"), F.lit(True).alias("chg"))
        .localCheckpoint()
    )
    n_nodes = labels.count()  # bounded: one integer for the prune gate
    fr_n = [n_nodes]  # the last round's frontier; round 0: every node votes

    def vote(state: DataFrame) -> DataFrame:
        # Pruning pays only once the frontier is small: while most
        # nodes are still changing, `affected` IS the graph and the
        # extra semi-joins are pure overhead (measured: the ungated
        # version was 1.3x SLOWER at 10x because rounds 1-2 churn
        # nearly every node).
        labels = state.select("node", "lbl")
        full = fr_n[0] * 4 > n_nodes
        aff_edges = edges
        if not full:
            frontier = state.filter(F.col("chg")).select(F.col("node").alias("src"))
            affected = (
                edges.join(frontier, "src", "semi")
                .select(F.col("dst").alias("node"))
                .distinct()
                .localCheckpoint()
            )
            aff_edges = edges.join(
                affected.withColumnRenamed("node", "dst"), "dst", "semi"
            )
        # In a full round the self-loops made every node re-vote, so an
        # inner join adopts the new labels; a pruned round keeps every
        # unaffected label through an outer join + coalesce. The change
        # flag rides the one merge join, so the frontier is a filter
        # over the checkpointed result.
        new = _lpa_vote(aff_edges, labels)
        return new.join(labels, "node", "inner" if full else "right").select(
            "node",
            F.coalesce("new_lbl", "lbl").alias("lbl"),
            F.coalesce(F.col("new_lbl") != F.col("lbl"), F.lit(False)).alias("chg"),
        )

    def frontier_size(state: DataFrame) -> int:
        # The gate only needs "zero / small / big": a limit-bounded
        # count stops scanning once the frontier is provably big
        # instead of materializing the exact count every round.
        fr_n[0] = state.filter(F.col("chg")).limit(n_nodes // 4 + 1).count()
        return fr_n[0]

    labels = fixpoint(
        labels, vote, frontier_size, max_rounds=max_iters, name="label_propagation"
    )
    return labels.select("node", F.col("lbl").alias("community"))


def _lpa_vote(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(node, new_lbl) for every ``dst`` of ``edges``: the most frequent
    label among its in-neighbours' ``labels`` (node, lbl), ties to the
    smallest label — arg-max-count/min-label via the min(struct) house
    pattern (struct comparison is lexicographic in both engines)."""
    # shuffle_hash: the vote join feeds an unordered aggregation, and
    # LPA node keys are strings here — the sort-merge sorts of the edge
    # side were pure waste every round (same house rule as
    # triangles/jaccard; broadcast would be faster at sf0.1 but the
    # label table is node-count-sized, not broadcastable at scale).
    votes = edges.join(
        labels.withColumnRenamed("node", "src").hint("shuffle_hash"), "src"
    ).select(F.col("dst").alias("node"), "lbl")
    return (
        votes.groupBy("node", "lbl")
        .agg(F.count("*").alias("n"))
        .groupBy("node")
        .agg(F.min(F.struct((-F.col("n")).alias("neg"), "lbl")).alias("s"))
        .select("node", F.col("s.lbl").alias("new_lbl"))
    )


def label_propagation_kstep(
    pairs: DataFrame, nodes: DataFrame, iters: int = 4
) -> DataFrame:
    """Fixed-K-round synchronous label propagation: the oracle-
    checkable twin of ``label_propagation`` (the pagerank_fixedpoint
    move applied to LPA). The production operator iterates to a
    fixpoint — a data-dependent round count no static SQL can restate —
    and frontier-prunes; this twin runs EXACTLY ``iters`` full sweeps
    of the same pure-integer update (adopt the most frequent label in
    N(v) + {v}, ties to the smallest label), so a DuckDB oracle can
    replay the rounds as a generated AS MATERIALIZED CTE chain and
    hash-match every label.

    ``nodes`` is one node id per row (isolated nodes keep their own
    label — the self-loop gives every node a self-vote AND a vote row
    even with no neighbors). Each round is ``_lpa_vote``, the vote of
    ``label_propagation``'s rounds. Only ``edges`` is checkpointed; the
    rounds read ``labels`` once each, so they stay one plan (as in
    ``bfs_kstep``) and the action runs them as one job chain.

    Returns (node, community) after ``iters`` rounds.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    base = nodes.select(F.col(nodes.columns[0]).alias("node"))
    # Single pass over the pair lineage (see symmetrize_pairs); the
    # node-universe self-loops ride a separate (cheap) union branch.
    edges = (
        symmetrize_pairs(pairs)
        .unionByName(base.select(F.col("node").alias("src"),
                                 F.col("node").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = base.select("node", F.col("node").alias("lbl"))
    for _ in range(iters):
        labels = _lpa_vote(edges, labels).withColumnRenamed("new_lbl", "lbl")
    return labels.select("node", F.col("lbl").alias("community"))


def bfs_kstep(
    pairs: DataFrame, nodes: DataFrame, seeds: DataFrame, iters: int = 4
) -> DataFrame:
    """Fixed-K-round breadth-first distances from a seed set (min-plus
    relaxation — the reachability/blast-radius query a lineage or
    contamination audit runs): after round t, (node, dist) holds the
    exact hop distance for every node within t hops of a seed;
    unreached nodes are absent (never a sentinel infinity). Same
    Pregel-lite shape as ``label_propagation_kstep``: per round one
    equi join (edges x frontier table, both on node id) + one
    map-side-combinable MIN aggregation, all integer arithmetic, so a
    DuckDB oracle replays the rounds as a MATERIALIZED CTE chain and
    hash-matches every distance. Self-loops (added here over the full
    ``nodes`` universe) carry settled distances forward at +0 — the
    relaxation is then a single MIN(dist + step) over the edge set.
    Only ``edges`` (read by every round) is checkpointed; the rounds
    stay one plan. Nothing acts between rounds and each round reads
    ``dist`` once, so the plan grows by one join + aggregation per
    round and the action runs all of them as one job chain.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    base = nodes.select(F.col(nodes.columns[0]).alias("node"))
    # Single pass over the pair lineage (see symmetrize_pairs); the
    # node-universe self-loops ride a separate (cheap) union branch.
    edges = (
        symmetrize_pairs(pairs)
        .unionByName(
            base.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
    )
    step = F.when(F.col("src") == F.col("dst"), 0).otherwise(1)
    for _ in range(iters):
        dist = (
            edges.join(
                dist.select(F.col("node").alias("dst"), "dist").hint(
                    "shuffle_hash"
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min(F.col("dist") + step).cast("bigint").alias("dist"))
            .select(F.col("src").alias("node"), "dist")
        )
    return dist
