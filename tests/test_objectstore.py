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


def _path_b_over_s3(spark, endpoint: str, bucket: str, text: str, tmp_path) -> bytes:
    """The reference B pipeline over a live S3 endpoint: the source JSON
    is uploaded, downloaded back through the S3 API, rendered to the
    single XML document and put_object'd with the reference's
    ContentType; returns the body read back."""
    import json

    from kafka_s3_etl_spark.operators.xml_pipeline import build_xml_document

    client = make_s3_client(endpoint_url=endpoint)
    client.create_bucket(Bucket=bucket)
    # stage the source JSON in the object store, as production does
    client.put_object(
        Bucket=bucket, Key="in/products.json", Body=text.encode("utf-8")
    )
    data = download_json(client, bucket, "in/products.json")
    assert data == json.loads(text)  # transport is lossless

    # render from the downloaded copy (what the reference does with its
    # temp file) and upload the assembled document
    staged = tmp_path / "downloaded.json"
    staged.write_text(json.dumps(data), encoding="utf-8")
    doc = build_xml_document(spark, str(staged))
    upload_xml(client, bucket, "out/output.xml", doc)

    obj = client.get_object(Bucket=bucket, Key="out/output.xml")
    assert obj["ContentType"] == "application/xml"
    return obj["Body"].read()


def test_path_b_round_trip_over_real_s3_api(spark, s3_endpoint, tmp_path):
    """Path B on a seeded F3 document: the XML object read back is
    byte-equal to json_document_to_xml of the same text, the check
    perfbench/checks.xml_document makes."""
    from kafka_s3_etl_spark.functions.xml_render import json_document_to_xml
    from perfbench.datagen import write_products_json

    src = tmp_path / "products.json"
    write_products_json(str(src), seed=7, records=200)
    text = src.read_text(encoding="utf-8")
    body = _path_b_over_s3(spark, s3_endpoint, "path-b-seeded", text, tmp_path)
    assert body == json_document_to_xml(text).encode("utf-8")


@needs_reference
def test_reference_pipeline_end_to_end_over_real_s3_api(spark, s3_endpoint, tmp_path):
    """Path B on the reference's own input: the final object must be
    byte-identical to the reference's committed golden output.xml."""
    with open(REFERENCE_JSON, encoding="utf-8") as fh:
        text = fh.read()
    body = _path_b_over_s3(spark, s3_endpoint, "spark-graft-it", text, tmp_path)
    with open(GOLDEN_XML, "rb") as fh:
        assert body == fh.read()


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
    replace batch N's parts, never leave duplicates: the first attempt
    of batch 7 commits two staged parts, the replay commits one, and
    exactly that one part and the manifest remain."""
    from kafka_s3_etl_spark.sources.objectstore import GraftS3JsonlSink
    from kafka_s3_etl_spark.sources.pyds import _StagedParts

    client = make_s3_client(endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="sink-replay")
    writer = GraftS3JsonlSink(
        {"endpoint": s3_endpoint, "bucket": "sink-replay", "prefix": "st/"}
    ).streamWriter(None, False)

    def staged_msg(name: str, content: bytes):
        client.put_object(Bucket="sink-replay", Key=f"st/{name}", Body=content)
        return _StagedParts(staged=(name,))

    writer.commit(
        [
            staged_msg("_staged-a.jsonl", b'{"doc_id": 1}\n'),
            staged_msg("_staged-b.jsonl", b'{"doc_id": 2}\n'),
        ],
        7,
    )
    # crash-replay of the same batch: the regenerated output is one part
    replayed = b'{"doc_id": 1}\n{"doc_id": 2}\n'
    writer.commit([staged_msg("_staged-c.jsonl", replayed)], 7)
    keys = sorted(
        o["Key"]
        for o in client.list_objects_v2(Bucket="sink-replay")["Contents"]
    )
    assert keys == ["st/_SUCCESS-00007", "st/part-b00007-00000.jsonl"]
    part = client.get_object(Bucket="sink-replay", Key=keys[1])
    assert part["Body"].read() == replayed


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
    from kafka_s3_etl_spark.sources.objectstore import GraftS3JsonlSource

    client = make_s3_client(endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="autoload-guard")
    for key in ("g/b.jsonl", "g/c.jsonl"):
        client.put_object(Bucket="autoload-guard", Key=key, Body=b'{"x":1}')

    reader = GraftS3JsonlSource(
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
