"""bench.py's per-query record and its counter tripwire.

The tripwire compares exact counters (rows, jobs, exchanges) with the
previous BENCH_RUN.json at the same sf; the pure-Python tests below need
no Spark session. The last test measures two real queries on the shared
session.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _rec(rows=100, build_jobs=0, exec_jobs=2, exchanges=1, best_s=0.5) -> dict:
    return {
        "best_s": best_s,
        "build_s": 0.1,
        "plan_s": 0.01,
        "exec_s": best_s - 0.1,
        "build_jobs": build_jobs,
        "exec_jobs": exec_jobs,
        "stages": 3,
        "tasks": 9,
        "shuffle_bytes": 71833,
        "exchanges": exchanges,
        "rows": rows,
    }


def _run(records: dict, sf=0.1) -> dict:
    return {"sf": sf, "records": records}


def test_identical_records_flag_nothing():
    recs = {"q_a": _rec(), "q_b": _rec(rows=7, build_jobs=3), "q_c": _rec()}
    assert bench.tripwire(_run(recs), _run(dict(recs))) == {}
    # wall-clock and shuffle bytes are reported, never compared
    slower = {
        n: {**r, "best_s": 9.0, "exec_s": 8.9, "shuffle_bytes": 71754}
        for n, r in recs.items()
    }
    assert bench.tripwire(_run(recs), _run(slower)) == {}
    # fewer jobs or exchanges is not a flag; a query new to the run is not either
    leaner = {**recs, "q_a": _rec(exec_jobs=1, exchanges=0), "q_new": _rec()}
    assert bench.tripwire(_run(recs), _run(leaner)) == {}


def test_one_more_job_or_exchange_or_changed_rows_flags_the_query():
    old = _run({"q_a": _rec(), "q_b": _rec(), "q_c": _rec(), "q_d": _rec()})
    new = _run(
        {
            "q_a": _rec(build_jobs=1),  # one localCheckpoint more
            "q_b": _rec(exchanges=2),
            "q_c": _rec(rows=99),
            "q_d": _rec(),
        }
    )
    assert bench.tripwire(old, new) == {
        "q_a": {"jobs": [2, 3]},
        "q_b": {"exchanges": [1, 2]},
        "q_c": {"rows": [100, 99]},
    }


def test_baseline_at_another_sf_is_not_compared():
    old = _run({"q_a": _rec(rows=1)}, sf=0.01)
    new = _run({"q_a": _rec(rows=1000, exec_jobs=9)}, sf=0.1)
    assert bench.tripwire(old, new) == {}
    # an empty baseline (no earlier run) compares nothing either
    assert bench.tripwire({}, new) == {}


def test_printed_line_for_400_records_stays_bounded():
    # 32-char names: longer than any catalog name
    names = [f"q_synthetic_entry_of_length_{i:04d}" for i in range(400)]
    old = _run({n: _rec() for n in names})
    new = _run(
        {
            n: _rec(rows=123456789, build_jobs=40, exchanges=12, best_s=100.0 + i)
            for i, n in enumerate(names)
        }
    )
    new.update(metric="headline_queries_total", value=123456.789, unit="sec")
    new["regressions"] = bench.tripwire(old, new)
    assert len(new["regressions"]) == 400
    line = json.dumps(bench.summary(new))
    assert len(line) < 2000, len(line)
    parsed = json.loads(line)
    assert set(parsed) == {
        "metric", "value", "unit", "sf", "queries", "regressions", "flagged",
    }
    assert len(parsed["queries"]) == 25 and parsed["flagged"] == 400
    # the slowest queries are the ones named
    assert min(parsed["queries"].values()) == 100.0 + 375


def test_record_splits_build_and_exec_jobs(spark, sf_dir):
    from kafka_s3_etl_spark.plans.registry import all_queries

    catalog = all_queries()
    lazy = bench.measure(spark, "q_filter_conj", catalog["q_filter_conj"].fn, sf_dir)
    assert lazy["build_jobs"] == 0 and lazy["exec_jobs"] >= 1
    assert lazy["rows"] == catalog["q_filter_conj"].fn(spark, sf_dir).count()
    assert set(lazy) == {
        "best_s", "build_s", "plan_s", "exec_s", "build_jobs", "exec_jobs",
        "stages", "tasks", "shuffle_bytes", "exchanges", "rows",
    }
    # q_resample_ffill localCheckpoints inside its builder
    eager = bench.measure(
        spark, "q_resample_ffill", catalog["q_resample_ffill"].fn, sf_dir
    )
    assert eager["build_jobs"] > 0
    # the job group does not outlive the measurement
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
