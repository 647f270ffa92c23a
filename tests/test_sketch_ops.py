"""Misra-Gries heavy hitters + 2-D skyline (operators/sketch.py).

The catalog oracle checks exactness on the toy corpus (31-token
vocabulary — MG never prunes). These tests force the interesting
regimes: domains far larger than the counter budget (decrements fire),
skewed and adversarially-uniform distributions, and random point
clouds for the skyline vs a brute-force dominance check."""

from __future__ import annotations

import random

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_s3_etl_spark.operators.sketch import (
    _mg_summarize,
    heavy_hitters,
    skyline_2d,
)


def _run_mg(values: list, m: int, batch: int = 97) -> set:
    fn = _mg_summarize("v", m)
    frames = [
        pd.DataFrame({"v": values[i : i + batch]})
        for i in range(0, len(values), batch)
    ]
    (out,) = list(fn(iter(frames)))
    return set(out["v"])


@given(st.integers(0, 2**31 - 1), st.integers(2, 8))
@settings(max_examples=40, deadline=None)
def test_mg_summary_bounded_and_superset(seed, k):
    """Counter budget respected AND every item with count >= n/(m+1)
    survives — on a zipf-ish domain of ~500 items with m = 2k."""
    rng = random.Random(seed)
    values = [int(rng.paretovariate(1.2)) for _ in range(3000)]
    m = 2 * k
    survivors = _run_mg(values, m)
    assert len(survivors) <= m
    n = len(values)
    counts = pd.Series(values).value_counts()
    must_survive = set(counts[counts > n / (m + 1)].index)
    assert must_survive <= survivors


def test_mg_uniform_domain_still_bounded():
    """Adversarially uniform: 5000 distinct singletons, m=10 — the
    summary must stay tiny instead of holding the whole domain."""
    assert len(_run_mg(list(range(5000)), 10)) <= 10


def test_mg_peak_memory_bounded_within_one_batch(monkeypatch):
    """The summary must never exceed 2m entries even MID-batch: one
    Arrow batch with 5000 distinct items and m=10 may not absorb the
    batch's whole value_counts before pruning (the r6 advice finding).
    Instrumented at every prune point — the only place the dict can be
    at its largest, since merges between prunes add <= m items."""
    import kafka_s3_etl_spark.operators.sketch as sk

    peak = 0
    real_prune = sk._mg_prune

    def tracing_prune(summary, m):
        nonlocal peak
        peak = max(peak, len(summary))
        return real_prune(summary, m)

    monkeypatch.setattr(sk, "_mg_prune", tracing_prune)
    fn = sk._mg_summarize("v", 10)
    (out,) = list(fn(iter([pd.DataFrame({"v": list(range(5000))})])))
    assert len(out) <= 10
    assert 0 < peak <= 20  # 2m hard bound, domain 500x larger


def test_heavy_hitters_exact_on_skewed_forced_decrements(spark):
    """End-to-end over 8 partitions with a 2000-item domain and k=8
    (m=16 counters; decrements fire constantly): output must equal the
    brute GROUP BY/HAVING exactly."""
    rng = random.Random(7)
    vals = [int(rng.paretovariate(1.05)) % 2000 for _ in range(20_000)]
    df = spark.createDataFrame(
        [(v,) for v in vals], "item bigint"
    ).repartition(8)
    got = {
        (r.item, r.n_occurrences)
        for r in heavy_hitters(df, "item", k=8).collect()
    }
    counts = pd.Series(vals).value_counts()
    n = len(vals)
    want = {(int(i), int(c)) for i, c in counts.items() if c * 8 >= n}
    assert got == want and len(want) > 0


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=20, deadline=None)
def test_skyline_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    pts = [(rng.randint(0, 20), rng.randint(0, 20), i) for i in range(60)]
    df = spark.createDataFrame(pts, "x int, y int, pid int")
    got = {tuple(r) for r in skyline_2d(df, "x", "y", "pid").collect()}
    want = {
        p
        for p in pts
        if not any(
            q[0] <= p[0]
            and q[1] <= p[1]
            and (q[0] < p[0] or q[1] < p[1])
            for q in pts
        )
    }
    assert got == want


def test_pyds_pushdown_prunes_at_generation():
    """pushFilters(bucket = 3) must make read() GENERATE only bucket-3
    ids (stride-16), not post-filter, and report the equality as
    supported (empty unsupported list)."""
    from pyspark.sql.datasource import EqualTo

    from kafka_s3_etl_spark.sources.pyds import _RangeReader

    r = _RangeReader({"n": "1000", "partitions": "4"})
    other = EqualTo(("val",), 5)  # unsupported column -> back to Spark
    unsupported = list(r.pushFilters([EqualTo(("bucket",), 3), other]))
    assert unsupported == [other]
    rows = []
    for p in r.partitions():
        for batch in r.read(p):
            rows.extend(batch.to_pylist())
    assert rows and all(row["bucket"] == 3 for row in rows)
    assert sorted(row["id"] for row in rows) == list(range(3, 1000, 16))


def test_pyds_pushdown_conflicting_equalities_keeps_one():
    """bucket=3 AND bucket=5 must NOT silently drop a predicate: only
    the first equality is accepted, the second returns to Spark (which
    post-filters the stride-generated rows to the correct empty set)."""
    from pyspark.sql.datasource import EqualTo

    from kafka_s3_etl_spark.sources.pyds import _RangeReader

    r = _RangeReader({"n": "1000", "partitions": "2"})
    f3, f5 = EqualTo(("bucket",), 3), EqualTo(("bucket",), 5)
    assert list(r.pushFilters([f3, f5])) == [f5]
    rows = [row for p in r.partitions() for b in r.read(p) for row in b.to_pylist()]
    assert all(row["bucket"] == 3 for row in rows)


def _read_all(r):
    return [row for p in r.partitions() for b in r.read(p) for row in b.to_pylist()]


def test_pyds_pushdown_id_range_strides_at_generation():
    """id range predicates must narrow GENERATION (the parquet min/max
    pruning analogue): partitions wholly outside [lo, hi) emit nothing,
    and the boundary partitions emit exactly the requested interval."""
    from pyspark.sql.datasource import (
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    from kafka_s3_etl_spark.sources.pyds import _RangeReader

    r = _RangeReader({"n": "1000", "partitions": "4"})
    assert (
        r.pushFilters([GreaterThan(("id",), 99), LessThanOrEqual(("id",), 700)])
        == []
    )
    assert sorted(row["id"] for row in _read_all(r)) == list(range(100, 701))
    # conjunction composes by intersection — a tighter second range wins
    r2 = _RangeReader({"n": "1000", "partitions": "4"})
    r2.pushFilters(
        [
            GreaterThanOrEqual(("id",), 100),
            LessThan(("id",), 700),
            GreaterThan(("id",), 199),
            LessThan(("id",), 300),
        ]
    )
    assert sorted(row["id"] for row in _read_all(r2)) == list(range(200, 300))
    # contradictory ranges intersect to EMPTY, never to a wrong range
    r3 = _RangeReader({"n": "1000", "partitions": "4"})
    r3.pushFilters([GreaterThan(("id",), 500), LessThan(("id",), 100)])
    assert _read_all(r3) == []


def test_pyds_pushdown_id_in_and_composition_with_bucket():
    """id IN (...) generates from the accepted set; composed with the
    bucket equality both prune at generation."""
    from pyspark.sql.datasource import EqualTo, In, LessThan

    from kafka_s3_etl_spark.sources.pyds import _RangeReader

    r = _RangeReader({"n": "1000", "partitions": "4"})
    assert (
        r.pushFilters(
            [In(("id",), (3, 19, 35, 900, 901, 5000)), LessThan(("id",), 899)]
        )
        == []
    )
    assert sorted(row["id"] for row in _read_all(r)) == [3, 19, 35]
    # In composed with bucket=3: only ids congruent 3 mod 16 survive
    r2 = _RangeReader({"n": "1000", "partitions": "4"})
    r2.pushFilters([In(("id",), (3, 19, 20, 21)), EqualTo(("bucket",), 3)])
    assert sorted(row["id"] for row in _read_all(r2)) == [3, 19]
    # two In lists intersect (AND semantics)
    r3 = _RangeReader({"n": "1000", "partitions": "4"})
    r3.pushFilters([In(("id",), (1, 2, 3)), In(("id",), (2, 3, 4))])
    assert sorted(row["id"] for row in _read_all(r3)) == [2, 3]
    # id equality is a one-point range
    r4 = _RangeReader({"n": "1000", "partitions": "4"})
    r4.pushFilters([EqualTo(("id",), 777)])
    assert [row["id"] for row in _read_all(r4)] == [777]


def test_pyds_jsonl_lines_parse_parity_with_json_dumps():
    """The Arrow-vectorized encoder must be PARSE-equivalent to the old
    per-row json.dumps(sort_keys=True) on every JSON-native shape:
    escapes, unicode, nulls, bools, and floats that need all 17
    significant digits to round-trip."""
    import json

    import pyarrow as pa

    from kafka_s3_etl_spark.sources.pyds import _SlowPath, _jsonl_lines

    batch = pa.record_batch(
        [
            pa.array([1, None, -(2**62)], type=pa.int64()),
            pa.array([1 / 7.0, -0.0, None], type=pa.float64()),
            pa.array(['a"b\\c\nd\te\r', "café ☃", None]),
            pa.array([True, False, None]),
        ],
        names=["zint", "val", "txt", "flag"],
    )
    lines = _jsonl_lines(batch)
    rows = [json.loads(ln) for ln in lines]
    want = [
        json.loads(json.dumps(row, sort_keys=True))
        for row in batch.to_pylist()
    ]
    assert rows == want
    # keys sorted, exactly like sort_keys=True
    assert [list(r) for r in rows] == [sorted(r) for r in rows]
    # 17-significant-digit float survived exactly
    assert rows[0]["val"] == 1 / 7.0
    # integral doubles keep the float marker (Arrow's shortest cast
    # prints "2"/"-0" bare; a schema-inferring reader would then see
    # an integer column, and -0.0 would lose its sign entirely)
    marker = _jsonl_lines(
        pa.record_batch(
            [pa.array([2.0, -0.0, None], type=pa.float64())], names=["v"]
        )
    )
    assert marker == ['{"v": 2.0}', '{"v": -0.0}', '{"v": null}']
    # non-finite floats and exotic control chars take the slow path
    import pytest

    with pytest.raises(_SlowPath):
        _jsonl_lines(
            pa.record_batch([pa.array([float("nan")])], names=["x"])
        )
    with pytest.raises(_SlowPath):
        _jsonl_lines(pa.record_batch([pa.array(["a\x01b"])], names=["x"]))
    # JSON-unrepresentable types still raise loudly
    with pytest.raises(NotImplementedError):
        _jsonl_lines(
            pa.record_batch(
                [pa.array([b"raw"], type=pa.binary())], names=["x"]
            )
        )


def test_pyds_stream_reader_resumes_from_checkpointed_offset():
    """A FRESH reader (post-restart) handed the checkpointed offset
    range via partitions()/commit() must advance from the committed
    position, never behind it (r6 advice: a driver-memory-only cursor
    restarted from 0 and produced end offsets behind the start)."""
    from kafka_s3_etl_spark.sources.pyds import _RangeStreamReader

    # pre-restart reader committed up to 40k out of 60k
    r = _RangeStreamReader({"n": "60000", "step": "20000"})
    # restart path A: Spark re-plans a pending batch first
    r.partitions({"pos": 20_000}, {"pos": 40_000})
    assert r.latestOffset() == {"pos": 60_000}
    # restart path B: no pending batch, commit ack arrives first
    r2 = _RangeStreamReader({"n": "60000", "step": "20000"})
    r2.commit({"pos": 40_000})
    assert r2.latestOffset() == {"pos": 60_000}
    # fresh-start behavior unchanged
    r3 = _RangeStreamReader({"n": "60000", "step": "20000"})
    assert r3.initialOffset() == {"pos": 0}
    assert r3.latestOffset() == {"pos": 20_000}


def test_pyds_stream_sink_replay_removes_stale_parts(tmp_path):
    """A replayed micro-batch that commits FEWER parts than the first
    attempt must remove the first attempt's leftovers — otherwise the
    readback duplicates rows."""
    from kafka_s3_etl_spark.sources.pyds import GraftJsonlSink, _StagedParts

    w = GraftJsonlSink({"path": str(tmp_path)}).streamWriter(None, False)
    # first attempt: two parts for batch 7
    for i, content in enumerate(['{"id": 1}\n', '{"id": 2}\n']):
        (tmp_path / f"s{i}").write_text(content)
    w.commit(
        [_StagedParts(staged=("s0",)), _StagedParts(staged=("s1",))],
        batchId=7,
    )
    assert len(list(tmp_path.glob("part-b00007-*.jsonl"))) == 2
    # replay: only ONE part this time
    (tmp_path / "s2").write_text('{"id": 1}\n{"id": 2}\n')
    w.commit([_StagedParts(staged=("s2",))], batchId=7)
    parts = sorted(tmp_path.glob("part-b00007-*.jsonl"))
    assert len(parts) == 1
    assert parts[0].read_text() == '{"id": 1}\n{"id": 2}\n'


def test_hll_union_of_partials_equals_direct_sketch(spark, sf_dir):
    """q_sketch_mergeability: register-max union is associative — the
    estimate from union-merged per-day sketches must EQUAL the direct
    one-pass estimate (not merely approximate it), and both must sit
    within the HLL error envelope of the exact count."""
    from kafka_s3_etl_spark.plans.registry import all_queries

    row = all_queries()["q_sketch_mergeability"].fn(spark, sf_dir).first()
    assert row.n_days > 1  # the merge actually merged something
    assert row.merged_est == row.direct_est
    assert abs(row.direct_est - row.exact_users) <= 0.05 * row.exact_users


def test_pyds_stream_reader_cursor_file_survives_latestoffset_first(
    tmp_path,
):
    """r7 advice ordering: clean shutdown (fully committed), restart,
    and the FIRST call on the fresh reader is latestOffset() — nothing
    re-seats the memory cursor. The cursor_path high-water mark must
    carry the position across the restart so latestOffset never
    regresses; a corrupt/missing cursor file degrades to a fresh
    start, never a crash."""
    from kafka_s3_etl_spark.sources.pyds import _RangeStreamReader

    cur = str(tmp_path / "c")
    opts = {"n": "60000", "step": "20000", "cursor_path": cur}
    r = _RangeStreamReader(opts)
    assert r.latestOffset() == {"pos": 20_000}
    r.commit({"pos": 20_000})
    assert r.latestOffset() == {"pos": 40_000}
    r.commit({"pos": 40_000})  # clean shutdown, all committed

    r2 = _RangeStreamReader(opts)  # restart: latestOffset first
    assert r2.latestOffset() == {"pos": 60_000}

    (tmp_path / "c").write_text("not a number")
    r3 = _RangeStreamReader(opts)
    assert r3.latestOffset() == {"pos": 20_000}


def test_countmin_overestimates_and_merges(spark):
    """Count-Min contracts: (1) est >= true count for EVERY item
    (counters only add); (2) sketches of shards union-merge by
    addition into exactly the single-pass global sketch; (3) on a
    skewed domain the estimated top-k contains the true heavy items
    whose counts clear the eps*n error band."""
    import random as _random

    from kafka_s3_etl_spark.operators.sketch import (
        countmin_sketch,
        countmin_topk,
    )

    rng = _random.Random(11)
    # zipf-ish: token_i has weight ~ 1/(i+1)
    vals = [f"tok{i}" for i in range(200) for _ in range(200 // (i + 1))]
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["token"])
    true = {}
    for v in vals:
        true[v] = true.get(v, 0) + 1

    depth, width = 4, 512
    est = {
        r.token: r.est_count
        for r in countmin_topk(
            df, "token", k=len(true), depth=depth, width=width
        ).collect()
    }
    assert set(est) == set(true)
    assert all(est[t] >= c for t, c in true.items())
    # heavy items separated by more than the rated error band must rank
    # into the estimated top-k
    import math

    eps_n = math.e / width * len(vals)
    top5 = sorted(true, key=lambda t: (-true[t], t))[:5]
    est_top = sorted(est, key=lambda t: (-est[t], t))
    for t in top5:
        if true[t] > true[est_top[19]] + eps_n:
            assert t in est_top[:20]

    # mergeability: per-half sketches summed == global sketch
    mid = len(vals) // 2
    half1 = spark.createDataFrame([(v,) for v in vals[:mid]], ["token"])
    half2 = spark.createDataFrame([(v,) for v in vals[mid:]], ["token"])
    full = {
        (r.r, r.pos): r.c
        for r in countmin_sketch(df, "token", depth, width).collect()
    }
    merged: dict = {}
    for half in (half1, half2):
        for r in countmin_sketch(half, "token", depth, width).collect():
            merged[(r.r, r.pos)] = merged.get((r.r, r.pos), 0) + r.c
    assert merged == full


def test_decontaminate_bloom_equals_exact(spark, sf_dir):
    """The bloom prefilter has no false negatives and the survivors are
    exact-verified, so the flagged set must equal decontaminate's —
    including with a tiny bitmap where false positives are common
    (they only waste verify work, never change the answer)."""
    from kafka_s3_etl_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )
    from kafka_s3_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r.doc_id, r.contaminated) for r in decontaminate(docs).collect()
    }
    got = {
        (r.doc_id, r.contaminated)
        for r in decontaminate_bloom(docs).collect()
    }
    assert got == want
    # tiny bitmap -> high fp rate; result must be unchanged
    tiny = {
        (r.doc_id, r.contaminated)
        for r in decontaminate_bloom(docs, m_bits=1 << 10, k_hashes=2).collect()
    }
    assert tiny == want
