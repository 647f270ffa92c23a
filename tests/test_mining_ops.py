"""Round-5 batch-3 operator tests: record linkage, triangle counting,
mergeable HLL sketches, and the profiling/TPC-H-Q5 plan shapes.

The oracle parity for q_profile_columns / q_fuzzy_join /
q_graph_triangles / q_tpch_local_volume runs in test_oracle_parity.py
automatically; this module adds the brute-force property evidence for
the operators' algorithms (blocking completeness, wedge enumeration)
and the rows-only sketch contract."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from kafka_s3_etl_spark.operators.graph import triangle_counts
from kafka_s3_etl_spark.operators.linkage import fuzzy_pairs_ed1
from tests.test_plans import plan_of


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_pairs_match_bruteforce(spark):
    """Deletion-neighborhood blocking finds EXACTLY the brute-force
    edit-distance-<=1 pair set — substitutions, inserts, deletes, and
    transposition-shaped near-misses (dist 2, must be excluded)."""
    rng = random.Random(7)
    alpha = "abcde"
    base = ["".join(rng.choice(alpha) for _ in range(rng.randint(3, 8)))
            for _ in range(60)]
    # Seed guaranteed structure: substitution, deletion, insertion
    # variants plus exact dupes (distinct() must absorb them).
    vals = set(base)
    for s in base[:10]:
        vals.add(s[:-1])                       # deletion
        vals.add(s + "z")                      # insertion
        vals.add(("z" + s[1:]) if s else "z")  # substitution
    vals = sorted(vals)
    expected = {
        (a, b)
        for a, b in itertools.combinations(vals, 2)
        if _lev(a, b) <= 1
    }
    df = spark.createDataFrame([(v,) for v in vals] * 2, ["name"])
    got = {
        (r.a, r.b): r.dist
        for r in fuzzy_pairs_ed1(df, "name").collect()
    }
    assert set(got) == expected
    assert all(d == 1 for d in got.values())


def test_triangle_counts_match_bruteforce(spark):
    """Degree-ordered wedge join == brute-force triangle enumeration on
    a seeded random graph (with duplicate edges, reversed orientations,
    and self-loops thrown in)."""
    rng = random.Random(21)
    n = 40
    edges = {
        tuple(sorted(rng.sample(range(n), 2)))
        for _ in range(160)
    }
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected: dict[int, int] = {}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            for node in (a, b, c):
                expected[node] = expected.get(node, 0) + 1
    expected = {k: v // 3 for k, v in expected.items() if v}
    # Feed the operator a dirty edge list: duplicates, both
    # orientations, and self-loops.
    rows = [(a, b) for a, b in edges]
    rows += [(b, a) for a, b in list(edges)[:50]]
    rows += [(i, i) for i in range(5)]
    got = {
        r.node: r.n_tri
        for r in triangle_counts(
            spark.createDataFrame(rows, ["a", "b"])
        ).collect()
    }
    assert got == expected


def test_fuzzy_pairs_capped_exact_over_survivors(spark):
    """max_block semantics: with a generous cap the result equals the
    uncapped join; with a tight cap it equals brute-force Levenshtein
    over exactly the values whose signature blocks all fit the cap."""
    rng = random.Random(11)
    # a deliberately HOT neighborhood: many single-substitution
    # variants of one stem share deletion signatures
    stem = "abcd"
    vals = {stem[:i] + c + stem[i + 1 :] for i in range(4) for c in "abcdefgh"}
    vals |= {
        "".join(rng.choice("xyzw") for _ in range(rng.randint(3, 7)))
        for _ in range(40)
    }
    vals = sorted(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["name"])

    uncapped = {
        (r.a, r.b) for r in fuzzy_pairs_ed1(df, "name").collect()
    }
    generous = {
        (r.a, r.b)
        for r in fuzzy_pairs_ed1(df, "name", max_block=len(vals)).collect()
    }
    assert generous == uncapped

    cap = 3
    # survivors per the documented rule: every (sig, pos) block the
    # value participates in has <= cap members
    blocks: dict[tuple, set] = {}
    for s in vals:
        for i in range(len(s)):
            blocks.setdefault((s[:i] + s[i + 1 :], i), set()).add(s)
    dropped = {s for bl in blocks.values() if len(bl) > cap for s in bl}
    survivors = [s for s in vals if s not in dropped]
    assert dropped, "test graph must actually truncate something"
    want = {
        (a, b)
        for a, b in itertools.combinations(survivors, 2)
        if _lev(a, b) <= 1
    }
    got = {
        (r.a, r.b)
        for r in fuzzy_pairs_ed1(df, "name", max_block=cap).collect()
    }
    assert got == want


def test_triangle_counts_capped_exact_on_induced_subgraph(spark):
    """max_degree semantics: generous cap == uncapped; tight cap ==
    exact triangle counts of the subgraph induced by sub-cap nodes."""
    rng = random.Random(5)
    n = 30
    edges = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(140)}
    # make node 0 a hub touching everything
    edges |= {(0, i) for i in range(1, n)}
    df = spark.createDataFrame(sorted(edges), ["a", "b"])

    uncapped = {
        (r.node, r.n_tri) for r in triangle_counts(df).collect()
    }
    generous = {
        (r.node, r.n_tri)
        for r in triangle_counts(df, max_degree=2 * n).collect()
    }
    assert generous == uncapped

    cap = 8
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    keep = {v for v, d in deg.items() if d <= cap}
    assert len(keep) < len(deg), "cap must actually drop a hub"
    sub = {(a, b) for a, b in edges if a in keep and b in keep}
    adj: dict[int, set] = {v: set() for v in keep}
    for a, b in sub:
        adj[a].add(b)
        adj[b].add(a)
    want: dict[int, int] = {}
    for a, b in sub:
        for c in adj[a] & adj[b]:
            for node in (a, b, c):
                want[node] = want.get(node, 0) + 1
    want = {k: v // 3 for k, v in want.items() if v}
    got = {
        r.node: r.n_tri
        for r in triangle_counts(df, max_degree=cap).collect()
    }
    assert got == want and got


def test_hll_sketch_contract(spark, sf_dir):
    """Per-group estimates hit the sketch's rated error band, the
    merged row equals a direct global sketch (mergeability — the whole
    point), and the exact column is truly exact."""
    from kafka_s3_etl_spark.plans.registry import all_queries
    from kafka_s3_etl_spark.sources.tables import load_table

    rows = all_queries()["q_hll_sketch"].fn(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer")
    per_nation = {
        r.c_nationkey: (r.est, r.exact) for r in rows if r.c_nationkey >= 0
    }
    truth = {
        r.c_nationkey: r.n
        for r in cust.groupBy("c_nationkey")
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    assert set(per_nation) == set(truth)
    for k, (est, exact) in per_nation.items():
        assert exact == truth[k]
        assert abs(est - exact) <= max(2, 0.05 * exact)
    merged = next(r for r in rows if r.c_nationkey == -1)
    direct = cust.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("c_custkey", F.lit(12))
        ).alias("est")
    ).collect()[0].est
    assert merged.est == direct
    assert merged.exact == sum(truth.values())


def test_fuzzy_join_is_signature_equijoin(spark, sf_dir):
    """The linkage join must hash-join on signatures — never a
    cartesian/nested-loop levenshtein sweep."""
    plan = plan_of(spark, sf_dir, "q_fuzzy_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Hash equi-join on the signature column (AQE may choose broadcast
    # at tiny SF; any of the three is the bucketable shape).
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert "sig#" in plan


def test_capped_linkage_plans_bound_the_hot_mass(spark, sf_dir, monkeypatch):
    """The cap machinery must appear as hash anti/semi joins, never a
    cartesian, and the hot-VALUE exclusion carries no broadcast HINT
    (Catalyst may still pick broadcast from tiny-sf stats — that's
    adaptive and correct; forcing it on the unbounded excluded mass
    would not be). localCheckpoint (which would cut the lineage before
    explain sees the exclusion joins) is stubbed to identity — the
    PLAN is under test, not materialization. The triangles variant is
    pinned on the operator directly: un-checkpointed, the full catalog
    entry's plan nests the ed1 subtree thousands of times."""
    # patch the CONCRETE DataFrame class (pyspark.sql.classic overrides
    # the base's localCheckpoint, so patching pyspark.sql.DataFrame
    # would be a no-op)
    concrete = type(spark.range(1))
    monkeypatch.setattr(
        concrete, "localCheckpoint", lambda self, *a, **k: self
    )
    plan = plan_of(spark, sf_dir, "q_fuzzy_join_capped")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan and "LeftSemi" in plan
    # no ResolvedHint-forced broadcast on the anti-joins: the only
    # broadcast HINT in the capped path is the tiny hot block-key set
    from kafka_s3_etl_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)] + [(0, j) for j in range(2, 10)],
        ["a", "b"],
    )
    plan2 = spark._jvm.PythonSQLUtils.explainString(
        triangle_counts(edges, max_degree=4)._jdf.queryExecution(),
        "formatted",
    )
    assert "CartesianProduct" not in plan2
    assert "BroadcastHashJoin LeftAnti" in plan2  # hinted tiny hub set
    assert "ShuffledHashJoin" in plan2  # wedge joins keep their hint


def test_tpch_local_volume_broadcasts_all_dims(spark, sf_dir):
    """Q5 shape: every dim (region, nation, customer-side, supplier)
    broadcasts; the only shuffle join key is the order key."""
    plan = plan_of(spark, sf_dir, "q_tpch_local_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    # Orders date filter reaches the scan.
    assert "o_orderdate" in plan and "PushedFilters" in plan


def test_profile_columns_single_wide_agg(spark, sf_dir):
    """The profile melts once and aggregates by column: the distinct
    count plans as a two-phase (col, sval) partial agg, so no Expand
    multiplies the scan by the distinct-column count."""
    plan = plan_of(spark, sf_dir, "q_profile_columns")
    assert "Expand" not in plan
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan


def test_snapshot_diff_identity_and_null_transitions(spark):
    """Identical snapshots diff to empty; NULL->value and value->NULL
    count as updates (null-safe compare); schema mismatch raises."""
    from kafka_s3_etl_spark.operators.diff import snapshot_diff

    rows = [(1, "a", 10.0), (2, None, 20.0), (3, "c", None)]
    df = spark.createDataFrame(rows, ["k", "s", "x"])
    assert snapshot_diff(df, df, "k").count() == 0

    v2 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 3.0), (4, "d", 4.0)],
        ["k", "s", "x"],
    )
    got = {r.k: r.change_type for r in snapshot_diff(df, v2, "k").collect()}
    assert got == {2: "update", 3: "update", 4: "insert"}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_diff(df, v2.drop("x"), "k")


def test_table_diff_single_join_no_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_table_diff")
    assert "SortMergeJoin FullOuter" in plan or "FullOuter" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_rolling_multi_one_corpus_shuffle_one_sort(spark, sf_dir):
    """Daily rollup shuffle + window shuffle only; both RANGE frames
    ride a single sort of the daily rollup."""
    plan = plan_of(spark, sf_dir, "q_rolling_multi")
    assert plan.count("hashpartitioning(") == 2
    assert plan.count("Sort ") <= 2  # one window sort (+AQE variance)
    assert "BatchEvalPython" not in plan


def test_sequence_ngrams_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_sequence_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning(") <= 2  # user window + agg


def test_inverted_index_jvm_only_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_inverted_index")
    assert "BatchEvalPython" not in plan
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan


def test_compress_ratio_exact_zlib_parity(spark, sf_dir):
    """The Arrow UDF's compressed sizes equal local zlib byte-for-byte,
    and repetitive text compresses tighter than high-entropy text."""
    import zlib

    from kafka_s3_etl_spark.plans.registry import all_queries
    from kafka_s3_etl_spark.sources.tables import load_table

    out = {
        r.doc_id: (r.n_bytes, r.n_compressed, r.ratio)
        for r in all_queries()["q_compress_ratio"].fn(spark, sf_dir).collect()
    }
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .limit(2000)
        .collect()
    }
    assert set(docs) <= set(out)
    for did, text in docs.items():
        raw = text.encode("utf-8")
        nb, nc, ratio = out[did]
        assert nb == len(raw)
        assert nc == len(zlib.compress(raw))
        assert ratio == round(nc / nb, 4)

    from kafka_s3_etl_spark.operators.udfs import compression_ratio

    probe = spark.createDataFrame(
        [(1, "abc " * 200), (2, "".join(chr(33 + (i * 17) % 90) for i in range(800)))],
        ["doc_id", "text"],
    )
    r = {x.doc_id: x.ratio for x in compression_ratio(probe).collect()}
    assert r[1] < 0.1 < r[2]


def test_dq_audit_single_scan_and_broadcast_ri(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_dq_audit")
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastExchange" in plan
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # One fact scan for the four melted rules + one for the RI
    # anti-join + the customer dim scan — never a per-rule rescan.
    # ("Location:" appears once per scan's detail block; the node name
    # itself prints twice in formatted explain.)
    assert plan.count("Location:") == 3


def test_entity_resolution_matches_union_find(spark, sf_dir):
    """CC over the linkage graph == a driver-side union-find over the
    same pairs; the canonical is the lexicographic component minimum,
    and exactly one member per cluster is flagged canonical."""
    from kafka_s3_etl_spark.plans.registry import all_queries
    from kafka_s3_etl_spark.sources.tables import load_table

    got = {
        r.c_name: (r.canonical, r.is_canonical)
        for r in all_queries()["q_entity_resolution"]
        .fn(spark, sf_dir)
        .collect()
    }
    cust = load_table(spark, sf_dir, "customer")
    names = [r.c_name for r in cust.select("c_name").distinct().collect()]
    pairs = [
        (r.a, r.b)
        for r in __import__(
            "kafka_s3_etl_spark.operators.linkage", fromlist=["x"]
        ).fuzzy_pairs_ed1(cust, "c_name").collect()
    ]
    parent = {n: n for n in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[str, list[str]] = {}
    for n in names:
        clusters.setdefault(find(n), []).append(n)
    expected = {
        n: (min(members), n == min(members))
        for root, members in clusters.items()
        for n in members
    }
    assert got == expected


def test_kcore_matches_sequential_peeling(spark):
    """Layer-at-a-time distributed peeling == the sequential
    one-node-at-a-time algorithm (the k-core is unique and
    order-independent), on a seeded random graph with a dirty edge
    list (duplicates, reversed orientations, self-loops)."""
    from kafka_s3_etl_spark.operators.graph import kcore

    rng = random.Random(33)
    n = 45
    edges = {
        tuple(sorted(rng.sample(range(n), 2)))
        for _ in range(140)
    }
    for k in (2, 3, 4):
        adj = {i: set() for i in range(n)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        # Sequential peel: pop ANY degree<k node, update, repeat.
        changed = True
        while changed:
            changed = False
            for node in list(adj):
                if len(adj[node]) < k:
                    for nb in adj.pop(node):
                        adj[nb].discard(node)
                    changed = True
        expected = {node: len(nbs) for node, nbs in adj.items() if nbs}
        rows = [(a, b) for a, b in edges]
        rows += [(b, a) for a, b in list(edges)[:40]]
        rows += [(i, i) for i in range(4)]
        got = {
            r.node: r.deg
            for r in kcore(
                spark.createDataFrame(rows, ["a", "b"]), k=k
            ).collect()
        }
        assert got == expected, f"k={k}"


def test_jaccard_neighbors_capped_exact_on_induced_subgraph(spark):
    """jaccard_neighbors max_degree semantics mirror triangle_counts:
    generous cap == uncapped; tight cap == exact jaccard scores of the
    subgraph induced by sub-cap nodes (degrees recomputed after the
    hub drop). Brute-force reference over a seeded graph with a
    planted hub."""
    from kafka_s3_etl_spark.operators.graph import jaccard_neighbors

    rng = random.Random(7)
    n = 24
    edges = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(70)}
    edges |= {(0, i) for i in range(1, n)}  # node 0 is a hub
    df = spark.createDataFrame(sorted(edges), ["a", "b"])

    def brute(sub_edges):
        adj: dict[int, set] = {}
        for a, b in sub_edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for x, y in itertools.combinations(sorted(adj), 2):
            if y in adj[x]:
                continue
            common = len(adj[x] & adj[y])
            if common:
                want[(x, y)] = (
                    common,
                    common / (len(adj[x]) + len(adj[y]) - common),
                )
        return want

    uncapped = {
        (r.name_a, r.name_b): (r.n_common, r.jaccard)
        for r in jaccard_neighbors(df).collect()
    }
    assert uncapped == brute(edges)
    generous = {
        (r.name_a, r.name_b): (r.n_common, r.jaccard)
        for r in jaccard_neighbors(df, max_degree=2 * n).collect()
    }
    assert generous == uncapped

    cap = 6
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    keep = {v for v, d in deg.items() if d <= cap}
    assert len(keep) < len(deg), "cap must actually drop a hub"
    sub = {(a, b) for a, b in edges if a in keep and b in keep}
    got = {
        (r.name_a, r.name_b): (r.n_common, r.jaccard)
        for r in jaccard_neighbors(df, max_degree=cap).collect()
    }
    assert got == brute(sub) and got


def test_kcore_backstop_scales_with_peel_depth(spark):
    """r7 advice: peeling depth is not bounded by a constant — a path
    component peels one endpoint pair per round (~n/2 rounds for k=2),
    so the old fixed max_iters=50 raised on a legitimate 110-node
    chain. The default backstop now scales with the edge count
    (depth <= m+1 always); an explicit too-small max_iters still
    fails loudly rather than returning a shallow non-core."""
    import pytest

    from kafka_s3_etl_spark.operators.graph import kcore

    chain = [(i, i + 1) for i in range(109)]  # 110 nodes, depth ~55
    df = spark.createDataFrame(chain, ["a", "b"])
    assert kcore(df, k=2).collect() == []  # a path has no 2-core
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(spark.createDataFrame(chain[:30], ["a", "b"]), k=2,
              max_iters=3).collect()


@pytest.mark.parametrize(
    "op",
    ["connected_components", "connected_components_star", "kcore", "label_propagation"],
)
def test_convergence_loops_raise_at_their_cap(spark, op):
    """Every convergence loop runs on graph.fixpoint: on a 12-node path
    a round cap of 2 is too small for each of them, and each raises
    "did not converge" instead of returning a state that is not a
    fixpoint. LAST_FIXPOINT names the loop and holds one entry per round
    run; with the default cap the same loop converges and its last
    round moved nothing."""
    from kafka_s3_etl_spark.operators import dedup, graph

    path = [(i, i + 1) for i in range(11)]
    if op.startswith("connected"):
        pairs = spark.createDataFrame(path, "doc_a bigint, doc_b bigint")
        nodes = spark.createDataFrame([(i,) for i in range(12)], "doc_id bigint")
        run = lambda **cap: getattr(dedup, op)(pairs, nodes, **cap)  # noqa: E731
        cap = "max_iter"
    else:
        edges = spark.createDataFrame(path, "a bigint, b bigint")
        run = lambda **cap: getattr(graph, op)(edges, **cap)  # noqa: E731
        cap = "max_iters"
    with pytest.raises(RuntimeError, match=f"^{op} did not converge in 2 rounds$"):
        run(**{cap: 2})
    assert graph.LAST_FIXPOINT.name == op
    assert len(graph.LAST_FIXPOINT.rounds) == 2
    assert all(r["moved"] for r in graph.LAST_FIXPOINT.rounds)

    run().collect()
    assert graph.LAST_FIXPOINT.name == op
    assert not graph.LAST_FIXPOINT.rounds[-1]["moved"]
    assert all(r["moved"] for r in graph.LAST_FIXPOINT.rounds[:-1])


def test_set_similarity_join_complete_vs_brute_force(spark):
    """Prefix-filtering completeness: every pair with word-set Jaccard
    >= t must be returned, at several thresholds, on random texts with
    planted near-duplicates (the theorem's edge cases are docs whose
    prefix is a single token and exact twins)."""
    from kafka_s3_etl_spark.operators.dedup import set_similarity_join

    rng = random.Random(21)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(40):
        n = rng.randint(3, 20)
        docs.append((i, " ".join(rng.sample(vocab, n))))
    # planted: exact twin and one-token-off near-dup
    docs.append((100, docs[0][1]))
    docs.append((101, docs[1][1] + " extra_token"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    sets = {d: frozenset(t.split(" ")) for d, t in docs}
    for t in (0.5, 0.8, 1.0):
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            # integer cross-multiply, same rounding as the operator
            if inter and 1000 * inter >= int(round(t * 1000)) * union:
                want[(a, b)] = (len(sets[a]), len(sets[b]), inter)
        got = {
            (r.doc_a, r.doc_b): (r.n_a, r.n_b, r.n_common)
            for r in set_similarity_join(df, threshold=t).collect()
        }
        assert got == want, f"t={t}"
    assert (0, 100) in {
        (a, b)
        for (a, b) in (
            (r.doc_a, r.doc_b)
            for r in set_similarity_join(df, threshold=1.0).collect()
        )
    }


def _lpa_reference(edges, max_iters=20):
    """Sequential mirror of operators/graph.py::label_propagation's
    exact rule: SYNCHRONOUS update to the most frequent label among
    neighbors + self, min-label tie-break, stop at fixpoint or
    max_iters."""
    adj: dict[int, set] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(max_iters):
        new = {}
        for n in adj:
            votes: dict[int, int] = {labels[n]: 1}
            for nb in adj[n]:
                votes[labels[nb]] = votes.get(labels[nb], 0) + 1
            new[n] = min(votes, key=lambda l: (-votes[l], l))
        if new == labels:
            break
        labels = new
    return labels


def test_label_propagation_matches_sequential_reference(spark):
    """Distributed synchronous LPA == the sequential same-rule
    implementation (determinism is the operator's contract: the
    min-label tie-break makes each round a pure function of the
    previous labeling). Seeded random graph of two planted dense
    clusters + a bridge, with a dirty edge list (duplicates, reversed
    orientations, self-loops)."""
    from kafka_s3_etl_spark.operators.graph import label_propagation

    rng = random.Random(11)
    cluster_a = list(range(0, 12))
    cluster_b = list(range(20, 34))
    edges = set()
    for cl in (cluster_a, cluster_b):
        for _ in range(4 * len(cl)):
            edges.add(tuple(sorted(rng.sample(cl, 2))))
    edges.add((11, 20))  # one bridge
    edges |= {tuple(sorted(rng.sample(range(34), 2))) for _ in range(8)}

    expected = _lpa_reference(edges)
    rows = [(a, b) for a, b in edges]
    rows += [(b, a) for a, b in list(edges)[:15]]  # reversed dups
    rows += [(5, 5), (21, 21)]  # self-loops
    got = {
        r.node: r.community
        for r in label_propagation(
            spark.createDataFrame(rows, ["a", "b"])
        ).collect()
    }
    assert got == expected
    # Sanity: the planted clusters resolve to few communities and the
    # labeling is idempotent across a re-run (pure function of graph).
    assert len(set(got.values())) <= 6
    again = {
        r.node: r.community
        for r in label_propagation(
            spark.createDataFrame(rows, ["a", "b"])
        ).collect()
    }
    assert again == got


def test_label_propagation_capped_exact_on_induced_subgraph(spark):
    """max_degree semantics mirror triangle_counts/jaccard_neighbors:
    a generous cap changes nothing; a tight cap equals the uncapped
    run on the graph with hub nodes (degree > cap) pre-stripped."""
    from kafka_s3_etl_spark.operators.graph import label_propagation

    rng = random.Random(13)
    edges = set()
    # two planted clusters ...
    for cl in (list(range(0, 8)), list(range(10, 18))):
        for _ in range(3 * len(cl)):
            edges.add(tuple(sorted(rng.sample(cl, 2))))
    # ... plus one hub wired to everything (degree 17, way above cap)
    hub = 99
    edges |= {(n, hub) for n in range(18)}
    df = spark.createDataFrame(sorted(edges), ["a", "b"])

    uncapped = {
        r.node: r.community for r in label_propagation(df).collect()
    }
    generous = {
        r.node: r.community
        for r in label_propagation(df, max_degree=100).collect()
    }
    assert generous == uncapped

    cap = 10
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    survivors = {n for n, d in deg.items() if d <= cap}
    stripped = [(a, b) for a, b in sorted(edges) if a in survivors and b in survivors]
    assert hub not in survivors and stripped  # the cap actually bites
    expected = {
        r.node: r.community
        for r in label_propagation(
            spark.createDataFrame(stripped, ["a", "b"])
        ).collect()
    }
    capped = {
        r.node: r.community
        for r in label_propagation(df, max_degree=cap).collect()
    }
    assert capped == expected
    assert hub not in capped


def test_set_similarity_join_collapse_is_output_identical(spark):
    """collapse_identical_sets (r11) must be a pure plan optimization:
    on a corpus with repeated token SETS across distinct texts (word
    order / multiplicity shuffles), the collapsed pipeline returns the
    EXACT row multiset of the uncollapsed one, floats included."""
    from kafka_s3_etl_spark.operators.dedup import set_similarity_join

    rows = []
    # 6 base sets x 4 surface forms each (reordered / repeated words:
    # same SET, different text), plus near-misses one token off
    for b in range(6):
        toks = [f"w{b}", f"w{b+1}", f"x{b}", "common", f"y{b % 3}"]
        rows.append((100 * b, " ".join(toks)))
        rows.append((100 * b + 1, " ".join(reversed(toks))))
        rows.append((100 * b + 2, " ".join(toks + toks[:2])))
        rows.append((100 * b + 3, toks[0] + " " + " ".join(toks)))
        rows.append((100 * b + 4, " ".join(toks[:-1] + ["zzz"])))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.6, 0.9, 1.0):
        a = sorted(
            (r.doc_a, r.doc_b, r.n_a, r.n_b, r.n_common, repr(r.jaccard))
            for r in set_similarity_join(df, t).collect()
        )
        b_ = sorted(
            (r.doc_a, r.doc_b, r.n_a, r.n_b, r.n_common, repr(r.jaccard))
            for r in set_similarity_join(
                df, t, collapse_identical_sets=True
            ).collect()
        )
        assert a == b_, f"threshold {t}: {len(a)} vs {len(b_)} rows"
    assert len(a) > 0  # the t=1.0 case actually exercises intra pairs
