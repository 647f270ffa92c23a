"""REAL S3-protocol round-trip of the reference's object-store
transport — no docker needed: moto's ThreadedMotoServer speaks the S3
HTTP API in-process, and the repo's client path (boto3, exactly like
the reference's src/s3_json_to_xml.py — NOT s3a) talks to it over a
real socket. This closes the 'no object store ever exercised' gap for
the CLIENT transport; the Spark-side s3a write remains jar-gated in
tests/test_integration_gated.py.
"""

from __future__ import annotations

import os
import socket

import pytest

moto = pytest.importorskip("moto")

from kafka_s3_etl_spark.sources.objectstore import (  # noqa: E402
    download_json,
    make_s3_client,
    upload_xml,
)

REFERENCE_JSON = "/root/reference/data/sample_products.json"
GOLDEN_XML = "/root/reference/data/output.xml"

needs_reference = pytest.mark.skipif(
    not (os.path.exists(REFERENCE_JSON) and os.path.exists(GOLDEN_XML)),
    reason="reference data not available",
)


@pytest.fixture(scope="module")
def s3_endpoint():
    from moto.server import ThreadedMotoServer

    with socket.socket() as s:  # pick a free port
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    server = ThreadedMotoServer(ip_address="127.0.0.1", port=port)
    server.start()
    try:
        yield f"http://127.0.0.1:{port}"
    finally:
        server.stop()


@needs_reference
def test_reference_pipeline_end_to_end_over_real_s3_api(spark, s3_endpoint):
    """The full reference B pipeline over a live S3 endpoint: the
    source JSON is uploaded, downloaded back through the S3 API,
    rendered to the single XML document, put_object'd with the
    reference's ContentType, and read back — the final object must be
    byte-identical to the reference's committed golden output.xml."""
    import json
    import tempfile

    from kafka_s3_etl_spark.operators.xml_pipeline import build_xml_document

    client = make_s3_client(endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="spark-graft-it")

    # stage the source JSON in the object store, as production does
    with open(REFERENCE_JSON, "rb") as fh:
        client.put_object(
            Bucket="spark-graft-it", Key="in/products.json", Body=fh.read()
        )
    data = download_json(client, "spark-graft-it", "in/products.json")
    with open(REFERENCE_JSON, encoding="utf-8") as fh:
        assert data == json.load(fh)  # transport is lossless

    # render from the downloaded copy (what the reference does with its
    # temp file) and upload the assembled document
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as tf:
        json.dump(data, tf)
        staged = tf.name
    doc = build_xml_document(spark, staged)
    upload_xml(client, "spark-graft-it", "out/output.xml", doc)

    obj = client.get_object(Bucket="spark-graft-it", Key="out/output.xml")
    assert obj["ContentType"] == "application/xml"
    with open(GOLDEN_XML, "rb") as fh:
        assert obj["Body"].read() == fh.read()


def test_overwrite_and_list_semantics(s3_endpoint):
    """put_object over an existing key replaces it (the reference
    re-runs its pipeline into the same key daily); listing sees exactly
    the keys written."""
    client = make_s3_client(endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="spark-graft-it2")
    upload_xml(client, "spark-graft-it2", "a.xml", "<a/>")
    upload_xml(client, "spark-graft-it2", "a.xml", "<b/>")
    upload_xml(client, "spark-graft-it2", "c.xml", "<c/>")
    got = client.get_object(Bucket="spark-graft-it2", Key="a.xml")
    assert got["Body"].read() == b"<b/>"
    keys = sorted(
        o["Key"]
        for o in client.list_objects_v2(Bucket="spark-graft-it2")["Contents"]
    )
    assert keys == ["a.xml", "c.xml"]


def test_batch_sink_publishes_atomically(spark, s3_endpoint):
    """The two-phase commit must leave ONLY part files + _SUCCESS
    visible: no _staged/ keys survive a successful write, and the
    underscore-skipping scan returns exactly the written rows."""
    from kafka_s3_etl_spark.sources.objectstore import (
        register_s3jsonl_source,
    )

    client = make_s3_client(endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="sink-atomic")
    register_s3jsonl_source(spark)
    df = spark.createDataFrame(
        [(1, "en", "alpha"), (2, "de", "beta"), (3, "fr", "gamma")],
        "doc_id long, lang string, text string",
    )
    (
        df.write.format("graft_s3jsonl_sink")
        .mode("append")
        .option("endpoint", s3_endpoint)
        .option("bucket", "sink-atomic")
        .option("prefix", "out/")
        .save()
    )
    keys = sorted(
        o["Key"]
        for o in client.list_objects_v2(Bucket="sink-atomic")["Contents"]
    )
    assert "out/_SUCCESS" in keys
    assert not any("_staged" in k for k in keys)
    assert any(k.startswith("out/part-") for k in keys)
    back = (
        spark.read.format("graft_s3jsonl")
        .option("endpoint", s3_endpoint)
        .option("bucket", "sink-atomic")
        .option("prefix", "out/")
        .load()
    )
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, "en", "alpha"),
        (2, "de", "beta"),
        (3, "fr", "gamma"),
    ]


def test_stream_sink_commit_is_replay_idempotent(s3_endpoint):
    """Replaying micro-batch N (the checkpoint-recovery path) must
    OVERWRITE batch-N parts, never append duplicates: drive the stream
    writer's commit directly with the same batchId twice."""
    from kafka_s3_etl_spark.sources.objectstore import _s3streamsink_classes

    client = make_s3_client(endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="sink-replay")
    sink_cls = _s3streamsink_classes()
    writer = sink_cls(
        {"endpoint": s3_endpoint, "bucket": "sink-replay", "prefix": "st/"}
    ).streamWriter(None, False)

    def staged_msg(content: bytes):
        key = "st/_staged/replayed.jsonl"
        client.put_object(Bucket="sink-replay", Key=key, Body=content)
        msg = type("M", (), {})()
        msg.staged = (key,)
        return msg

    writer.commit([staged_msg(b'{"doc_id": 1}')], 7)
    # crash-replay of the same batch with regenerated task output
    writer.commit([staged_msg(b'{"doc_id": 1}')], 7)
    keys = sorted(
        o["Key"]
        for o in client.list_objects_v2(Bucket="sink-replay")["Contents"]
    )
    assert keys == ["st/_SUCCESS-00007", "st/batch-00007-part-00000.jsonl"]


def test_list_keys_paginates_past_truncation(s3_endpoint):
    """list_objects_v2 truncates (1000 keys by default); the shared
    lister must walk continuation tokens — forced here with a 3-key
    page over 10 objects."""
    from kafka_s3_etl_spark.sources.objectstore import list_keys

    client = make_s3_client(endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="paging")
    expect = []
    for i in range(10):
        key = f"p/obj-{i:03d}.jsonl"
        client.put_object(Bucket="paging", Key=key, Body=b"{}")
        expect.append(key)
    got = list_keys(client, "paging", "p/", page_size=3)
    assert got == expect


def test_stream_reader_hwm_offsets_and_out_of_order_guard(s3_endpoint):
    """Listing-offset semantics at the unit level: high-water-mark
    offsets cover exactly the (lo, hi] key range, and a key arriving
    BELOW the committed mark fails loudly instead of being silently
    skipped."""
    from kafka_s3_etl_spark.sources.objectstore import _s3stream_classes

    client = make_s3_client(endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="autoload-guard")
    for key in ("g/b.jsonl", "g/c.jsonl"):
        client.put_object(Bucket="autoload-guard", Key=key, Body=b'{"x":1}')

    reader = _s3stream_classes()(
        {"endpoint": s3_endpoint, "bucket": "autoload-guard", "prefix": "g/"}
    ).streamReader(None)
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end == {"hwm": "g/c.jsonl"}
    parts = reader.partitions(start, end)
    assert sorted(p.key for p in parts) == ["g/b.jsonl", "g/c.jsonl"]
    # new appends past the mark are the next batch, exactly once
    client.put_object(Bucket="autoload-guard", Key="g/d.jsonl", Body=b"{}")
    end2 = reader.latestOffset()
    assert [p.key for p in reader.partitions(end, end2)] == ["g/d.jsonl"]
    # a key sorted BELOW the committed mark must fail loudly
    client.put_object(Bucket="autoload-guard", Key="g/a.jsonl", Body=b"{}")
    with pytest.raises(RuntimeError, match="BELOW the committed"):
        reader.latestOffset()
