"""Reference ETL parity: CSV ingest semantics (A1), the flagship filter
on the reference's own data (A4/A11), and Kafka value shaping (A8).
The 4-row fixture semantics of the reference's (stale) unit test —
2-of-4 selectivity + descending order, test/test_sql_to_kafka.py:157-192
— are re-expressed on a synthetic frame (FIXTURES.md F2)."""

from __future__ import annotations

import json
import os

import pytest

from kafka_s3_etl_spark.sources.csv import REFERENCE_CSV, read_products_csv
from kafka_s3_etl_spark.sources.kafka import parse_kafka_json, to_kafka_value

needs_reference = pytest.mark.skipif(
    not os.path.exists(REFERENCE_CSV), reason="reference data not available"
)


@needs_reference
def test_products_csv_shape_and_nulls(spark):
    df = read_products_csv(spark)
    assert df.count() == 105
    assert len(df.columns) == 26
    # pandas-NaN parity: empty price cells must be NULL (SURVEY 1.2)
    assert df.filter(df.price_usd.isNull()).count() == 39
    assert df.filter(df.price_gbp.isNull()).count() == 48


@needs_reference
def test_flagship_on_reference_csv(spark):
    # 67/105 rows carry the default filter status (BASELINE.md).
    df = read_products_csv(spark)
    assert df.filter(df.articleStatus == "created").count() == 67


def test_fixture_f2_selectivity_and_order(spark):
    # FIXTURES.md F2: 4 rows, status+date filter keeps 2, most recent first.
    rows = [
        (1, "P001", "created", "2025-11-01", 19.99),
        (2, "P002", "created", "2025-11-05", 29.99),
        (3, "P003", "draft", "2025-11-10", 39.99),
        (4, "P004", "created", "2025-10-01", 49.99),
    ]
    df = spark.createDataFrame(
        rows, "id int, productId string, articleStatus string, b2bReadinessDate string, price double"
    )
    got = (
        df.filter((df.articleStatus == "created") & (df.b2bReadinessDate >= "2025-11-01"))
        .orderBy(df.b2bReadinessDate.desc())
        .select("productId")
        .collect()
    )
    assert [r.productId for r in got] == ["P002", "P001"]


def test_kafka_value_roundtrip(spark):
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", None)], "id long, s string, x double")
    vals = to_kafka_value(df).collect()
    assert [set(json.loads(r.value)) <= {"id", "s", "x"} for r in vals]
    # null columns are omitted by to_json (JSON has no entry), like the
    # reference's json.dumps(None) -> null... verify parse restores nulls
    parsed = parse_kafka_json(to_kafka_value(df), df.schema)
    back = {r.id: (r.s, r.x) for r in parsed.collect()}
    assert back == {1: ("a", 1.5), 2: ("b", None)}


def test_kafka_availability_probe():
    """Reference A10 parity: TCP probe returns True for a listening
    socket, False for a closed port / unresolvable host / garbage."""
    import socket
    import threading

    from kafka_s3_etl_spark.sources.kafka import is_kafka_available

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    t = threading.Thread(target=lambda: srv.accept(), daemon=True)
    t.start()
    try:
        assert is_kafka_available(f"127.0.0.1:{port}")
        # second entry listening is enough even when the first is dead
        assert is_kafka_available(f"127.0.0.1:1,127.0.0.1:{port}")
    finally:
        srv.close()
    assert not is_kafka_available("127.0.0.1:1")
    assert not is_kafka_available("no-such-host.invalid:9092")
    assert not is_kafka_available("garbage")


def test_split_malformed_quarantines_bad_json(spark):
    """Reference B2 error discipline as a dead-letter split: undecodable
    values land in the bad stream with their raw payload; decodable ones
    parse to typed rows; a valid-but-wrong-shape object decodes to a
    NULL-field row (documented), not a parse failure."""
    from pyspark.sql import types as T

    from kafka_s3_etl_spark.sources.kafka import split_malformed

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    rows = [
        ('{"id": 1, "name": "ok"}',),
        ("{not json at all",),
        ('{"id": 2, "name": "also ok"}',),
        ("",),
        ('{"wrong": "shape"}',),  # valid JSON, no matching fields
    ]
    df = spark.createDataFrame(rows, "value string")
    good, bad = split_malformed(df, schema)
    got_good = {(r.id, r.name) for r in good.collect()}
    assert (1, "ok") in got_good and (2, "also ok") in got_good
    assert (None, None) in got_good  # wrong-shape row decodes to NULLs
    assert {r.value for r in bad.collect()} == {"{not json at all", ""}


def test_split_malformed_on_stream(spark, tmp_path):
    """The same split works on a streaming DataFrame end-to-end."""
    from pyspark.sql import types as T

    from kafka_s3_etl_spark.sources.kafka import split_malformed
    from kafka_s3_etl_spark.streaming.runner import run_stream

    wire = tmp_path / "wire"
    wire.mkdir()
    (wire / "msgs.txt").write_text(
        '{"id": 1, "name": "ok"}\nBROKEN\n{"id": 2, "name": "fine"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    stream = spark.readStream.text(str(wire))
    good, bad = split_malformed(stream, schema)
    got = run_stream(good)
    assert {(r.id, r.name) for r in got.collect()} == {(1, "ok"), (2, "fine")}
    dead = run_stream(bad)
    assert {r.value for r in dead.collect()} == {"BROKEN"}


@needs_reference
def test_products_table_registers_view(spark):
    """A2/A3 parity surface: load + register as the products view."""
    from kafka_s3_etl_spark.sources.csv import products_table

    df = products_table(spark)
    assert spark.table("products").count() == df.count() == 105


def test_write_kafka_stream_builder_shape(spark, tmp_path):
    """A9 streaming-sink builder: configures a kafka-format writer with
    value serialization; connectivity happens only at start()."""
    from kafka_s3_etl_spark.sources.kafka import write_kafka_stream
    from kafka_s3_etl_spark.sources.tables import load_table

    stream = spark.readStream.schema("o_orderkey long").parquet(str(tmp_path))
    writer = write_kafka_stream(
        stream, "localhost:9092", "topic", str(tmp_path / "ckpt")
    )
    # builder is returned unstarted; the sink format is kafka
    assert writer is not None
    assert "DataStreamWriter" in type(writer).__name__
