"""``sources/tables.py::local_frame`` — small driver-side tables as JVM
local relations.

The helper must deliver exactly the values ``createDataFrame(list)``
did (codebooks and weight tables feed hash-gated entries), plan as a
``LocalTableScan``, and run no Spark job of its own: the list form is a
Python RDD whose every execution runs one Python task per slot. A guard
keeps new ``createDataFrame(`` calls out of the package.
"""

from __future__ import annotations

import ast
import pathlib
import struct
import uuid

from kafka_s3_etl_spark.sources.tables import local_frame

_DDL = (
    "i int, n bigint, s string, d double, "
    "a array<double>, book array<array<array<double>>>"
)
_ROWS = [
    (
        1,
        2**40,
        "a",
        -0.0,
        [0.1 + 0.2, float("inf"), float("-inf"), float("nan")],
        [[[5e-324, 2.2250738585072014e-308]], [[-1.5, None]]],
    ),
    (None, None, None, None, None, None),
    (-7, -(2**62), "ü", 2.2250738585072009e-308, [], [[], None]),
]

_PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kafka_s3_etl_spark"

# The only createDataFrame( calls the package may make: the helper
# itself, and the x_dpp_join dimension. A LocalRelation dim has its
# tier filter folded in by the optimizer, and then no
# dynamicpruningexpression is planned on the fact scan
# (test_plans.py::test_dpp_join_prunes_partitions_dynamically).
_ALLOWED = {("sources/tables.py", "local_frame"), ("plans/storage.py", "x_dpp_join")}


def _bits(v):
    """Values with every double replaced by its IEEE-754 bit pattern."""
    if isinstance(v, float):
        return struct.pack(">d", v).hex()
    if isinstance(v, (list, tuple)):
        return [_bits(x) for x in v]
    return v


def test_local_frame_round_trips_bit_exactly(spark):
    frame = local_frame(spark, _ROWS, _DDL)
    listed = spark.createDataFrame(_ROWS, _DDL)
    assert frame.schema == listed.schema
    got = frame.collect()
    assert _bits(got) == _bits(listed.collect())
    assert _bits(got) == _bits(_ROWS)


def test_local_frame_plans_local_table_scan(spark):
    df = local_frame(spark, _ROWS, _DDL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan


def test_local_frame_collect_runs_no_spark_job(spark):
    """Collecting the frame schedules nothing, so no Python task (and
    no forked Python worker) can run for it."""
    df = local_frame(spark, _ROWS, _DDL)
    sc = spark.sparkContext
    group = f"local_frame_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "local_frame collect")
    try:
        assert len(df.collect()) == len(_ROWS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_local_frame_empty_rows_keep_schema(spark):
    df = local_frame(spark, [], "k bigint")
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<k:bigint>"


def _create_data_frame_sites():
    """(module path, enclosing top-level function) of every
    ``.createDataFrame(`` call in the package."""
    sites = set()
    for path in sorted(_PACKAGE.rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    sites.add((rel, getattr(top, "name", "<module>")))
    return sites


def test_package_builds_constant_frames_through_local_frame():
    stray = _create_data_frame_sites() - _ALLOWED
    assert not stray, (
        f"createDataFrame( outside sources/tables.py::local_frame: {sorted(stray)}; "
        "a list builds a Python RDD that runs a Python task per slot on every "
        "execution — use local_frame(spark, rows, ddl)"
    )
