"""Round-14 operational cells (plans/opsext.py): the behavior each
entry's oracle can NOT see — conf/variable hygiene on the shared
session, the corrupt read's loud default-mode failure, and the
state-metadata reader's agreement with the statestore checkpoint it
describes. (Value correctness rides tests/test_oracle_parity.py like
every other catalog entry.)"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.utils import CapturedException

from kafka_s3_etl_spark.plans.registry import all_queries

_CAT = all_queries()


# ------------------------------------------------- session variables


def test_session_vars_dropped_after_build(spark, sf_dir):
    """The builder must leave NO session variables behind — later
    catalog queries (and the driver's sweep) see a vanilla session."""
    df = _CAT["q_sql_session_vars"].fn(spark, sf_dir)
    assert df.count() > 0
    for var in ("min_cents", "tbl_name"):
        with pytest.raises(CapturedException):
            spark.sql(f"SELECT {var}").collect()


def test_session_vars_df_survives_drop(spark, sf_dir):
    """Variables resolve at analysis time: the returned df must stay
    collectable after the builder dropped its variables (the driver
    collects LATER, from its own loop)."""
    df = _CAT["q_sql_session_vars"].fn(spark, sf_dir)
    # threshold = mean cents -> strictly fewer orders qualify than exist
    n_sel = df.agg({"n_orders": "sum"}).collect()[0][0]
    from kafka_s3_etl_spark.sources.tables import load_table

    n_all = load_table(spark, sf_dir, "orders").count()
    assert 0 < n_sel < n_all


def test_identifier_rejects_injection(spark, sf_dir):
    """IDENTIFIER() is the injection-SAFE dynamic reference: a value
    that is not a lone identifier must be rejected at analysis, not
    spliced into SQL text."""
    _CAT["q_sql_session_vars"].fn(spark, sf_dir)  # temp view exists
    spark.sql(
        "DECLARE OR REPLACE VARIABLE evil STRING DEFAULT "
        "'orders_sessvar_v WHERE 1=0 --'"
    )
    try:
        with pytest.raises(CapturedException):
            spark.sql("SELECT COUNT(*) FROM IDENTIFIER(evil)").collect()
    finally:
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS evil")


# ------------------------------------------------- state-metadata


def test_state_metadata_matches_statestore(spark, sf_dir):
    """The metadata row must describe the checkpoint x_statestore_scan
    reads: same operator, the engine's pinned partition count, and the
    single availableNow batch."""
    from kafka_s3_etl_spark.plans.execution import _STATESTORE_CKPT
    from kafka_s3_etl_spark.streaming.runner import STREAM_PARTITIONS

    rows = _CAT["x_state_metadata_scan"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.operator_name == "stateStoreSave"
    assert r.num_partitions == int(STREAM_PARTITIONS)
    assert r.min_batch_id == 0 and r.max_batch_id == 0
    # and the checkpoint it describes is the cached one
    assert sf_dir in _STATESTORE_CKPT


# ------------------------------------------------- corrupt files


def test_corrupt_file_is_actually_corrupt(spark, sf_dir):
    """The victim member must be unreadable as parquet — the DEFAULT
    conf (ignoreCorruptFiles=false) fails loudly. Guards against the
    truncation silently landing past the footer (whole cell would be
    vacuous)."""
    from kafka_s3_etl_spark.plans.opsext import (
        _CORRUPT_MEMBER,
        _corrupt_layout,
    )

    root = _corrupt_layout(spark, sf_dir)
    victim = os.path.join(root, f"m{_CORRUPT_MEMBER}.parquet")
    assert os.path.exists(victim)
    assert (
        spark.conf.get("spark.sql.files.ignoreCorruptFiles") == "false"
    ), "cell must have restored the default conf"
    with pytest.raises(Exception) as ei:
        spark.read.parquet(victim).collect()
    assert not isinstance(ei.value, AssertionError)


# ------------------------------------------------- SQL table function


def test_sql_table_function_dropped_after_build(spark, sf_dir):
    """Like the session variables: the temporary function must not
    outlive the build, and the returned df (inlined at analysis) must
    stay collectable after the DROP."""
    df = _CAT["q_sql_table_function"].fn(spark, sf_dir)
    assert df.count() > 0  # collect AFTER the function is dropped
    with pytest.raises(CapturedException):
        spark.sql("SELECT * FROM priority_rollup(1.0)").collect()


def test_execute_immediate_var_dropped_and_df_survives(spark, sf_dir):
    """Same hygiene contract as the other dynamic-SQL cells: the
    sql-text variable must not outlive the build, and the returned df
    (analyzed inside the bracket) must stay collectable."""
    df = _CAT["q_execute_immediate"].fn(spark, sf_dir)
    assert df.count() > 0
    with pytest.raises(CapturedException):
        spark.sql("SELECT dyn_sql").collect()


# ------------------------------------------------- column DEFAULTs


def test_add_column_default_is_existence_default(spark, sf_dir):
    """ALTER TABLE ADD COLUMN DEFAULT must NOT rewrite data: the
    wave-1 parquet files on disk lack the segment column entirely
    (pyarrow footer = engine-independent ground truth); the 'LEGACY'
    values are synthesized at READ time from the EXISTS_DEFAULT column
    metadata Spark records in the schema. (Probed: the metadata rides
    the parquet footer's Spark-schema JSON too, so even a raw
    mergeSchema read fills the default — a null-count check on a raw
    read can NOT distinguish rewrite from metadata fill; the physical
    footer can.)"""
    import glob
    import json

    import pyarrow.parquet as pq

    from kafka_s3_etl_spark.plans.opsext import _defaults_table

    t = _defaults_table(spark, sf_dir)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    ).removeprefix("file:")
    paths = sorted(glob.glob(loc + "/*.parquet"))
    assert len(paths) >= 2  # both insert waves landed
    with_seg = [p for p in paths if "segment" in pq.read_schema(p).names]
    without_seg = [
        p for p in paths if "segment" not in pq.read_schema(p).names
    ]
    assert without_seg, (
        "every file contains the segment column — the ALTER rewrote "
        "wave-1 data and the existence-default claim is vacuous"
    )
    assert with_seg, "wave-2 files missing"
    # the wave-2 footer's Spark schema carries the recorded default
    md = pq.read_schema(with_seg[0]).metadata
    sch = json.loads(
        md[b"org.apache.spark.sql.parquet.row.metadata"].decode()
    )
    seg = next(f for f in sch["fields"] if f["name"] == "segment")
    assert seg["metadata"].get("EXISTS_DEFAULT") == "'LEGACY'"
    # and the TABLE read fills every missing slot from metadata
    tbl_nulls = (
        spark.table(t).filter("segment IS NULL or status IS NULL").count()
    )
    assert tbl_nulls == 0


def test_corrupt_tolerant_reads_exactly_intact_rows(spark, sf_dir):
    """Under the pinned conf the read returns EXACTLY the three intact
    members' rows — no dropped record from intact files, nothing
    salvaged from the corrupt one."""
    from kafka_s3_etl_spark.sources.tables import load_table

    df = _CAT["q_read_corrupt_tolerant"].fn(spark, sf_dir)
    got = df.agg({"n_docs": "sum"}).collect()[0][0]
    want = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id % 4 <> 3")
        .count()
    )
    assert got == want
    # conf restored (set/restore discipline)
    assert (
        spark.conf.get("spark.sql.files.ignoreCorruptFiles") == "false"
    )
