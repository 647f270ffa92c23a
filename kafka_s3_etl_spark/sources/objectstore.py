"""S3/MinIO object-store CLIENT transport (reference parity).

The reference's production transport is boto3, NOT Spark's s3a
(src/s3_json_to_xml.py: get_s3_client:40, download_file:84,
put_object with ContentType:269-274) — so the client path needs no
hadoop-aws jars and is testable against ANY S3-compatible endpoint,
including the in-process moto server the integration test boots
(tests/test_objectstore.py). The Spark-side s3a transport remains a
separate, jar-gated seam (tests/test_integration_gated.py).

Two of the package's four Python DataSource formats live here, each
serving batch and stream mode (the other two, `graft_range` and
`graft_jsonl`, are in sources/pyds.py):

* `graft_s3jsonl` scans JSONL objects under (bucket, prefix), one
  partition per object; a stream batch reads the objects whose keys sort
  past the last committed key.
* `graft_s3jsonl_sink` runs the one staged publish of the package
  (`pyds._StagedPublish`) on `_S3Store`.

boto3 is import-gated: the functions raise a clear error when the SDK
is absent rather than breaking module import for the whole package.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from kafka_s3_etl_spark.sources import pyds


def make_s3_client(
    endpoint_url: str | None = None,
    access_key: str = "test",
    secret_key: str = "test",
    region: str = "us-east-1",
):
    """An S3 client bound to ``endpoint_url`` (MinIO/moto/localstack) or
    to real AWS when None — the reference's get_s3_client development/
    production split, minus its env-var plumbing: endpoint selection is
    an explicit argument here, so tests and deployments configure it
    without patching environment state."""
    try:
        import boto3
    except ImportError as e:  # pragma: no cover - environment gate
        raise NotImplementedError(
            "object-store client transport requires boto3"
        ) from e

    return boto3.client(
        "s3",
        endpoint_url=endpoint_url,
        aws_access_key_id=access_key,
        aws_secret_access_key=secret_key,
        region_name=region,
    )


def upload_xml(client, bucket: str, key: str, xml_content: str) -> None:
    """The reference's upload_xml_string_to_s3 body (put_object with
    UTF-8 bytes and the application/xml content type — reference
    src/s3_json_to_xml.py:269-274), without its logging scaffolding."""
    client.put_object(
        Bucket=bucket,
        Key=key,
        Body=xml_content.encode("utf-8"),
        ContentType="application/xml",
    )


def download_json(client, bucket: str, key: str) -> Any:
    """The reference's download_json_from_s3 + read_json_file collapsed
    to one call: fetch the object and parse it as JSON (reference
    src/s3_json_to_xml.py:71-114 downloads to a temp file first; the
    parse result is identical)."""
    body = client.get_object(Bucket=bucket, Key=key)["Body"].read()
    return json.loads(body.decode("utf-8"))


def list_keys(
    client, bucket: str, prefix: str = "", page_size: int | None = None
) -> list:
    """Complete, sorted object listing under (bucket, prefix):
    list_objects_v2 truncates at 1000 keys per call, so every reader
    goes through this continuation-token loop — a 100 TB bucket lists
    in pages, never silently drops keys past the first page.
    ``page_size`` (MaxKeys) exists so tests can force pagination with
    a handful of objects."""
    keys: list = []
    token = None
    while True:
        kw = {"Bucket": bucket, "Prefix": prefix}
        if page_size is not None:
            kw["MaxKeys"] = page_size
        if token:
            kw["ContinuationToken"] = token
        resp = client.list_objects_v2(**kw)
        keys.extend(o["Key"] for o in resp.get("Contents", []))
        if not resp.get("IsTruncated"):
            return sorted(keys)
        token = resp["NextContinuationToken"]


# ---------------------------------------------------------------------------
# S3 -> Spark without hadoop-aws: Python DataSources whose partitions
# each fetch one object through the S3 client API. This is the
# production fallback when the JVM-side s3a jars are unavailable (as in
# this container) — and structurally the right scan shape regardless:
# the driver plans one InputPartition per object (a LIST call), and
# each executor task streams its own object, so read parallelism equals
# object count with no driver bottleneck beyond the listing.
# ---------------------------------------------------------------------------


class _S3Key(InputPartition):
    def __init__(self, key: str):
        self.key = key


class _S3Objects:
    """What the batch and stream readers share: the options, one listing
    of the data keys and one object read."""

    def __init__(self, options):
        self.endpoint = options.get("endpoint")
        self.bucket = options["bucket"]
        self.prefix = options.get("prefix", "")

    def _keys(self) -> list[str]:
        client = make_s3_client(endpoint_url=self.endpoint)
        return [
            k
            for k in list_keys(client, self.bucket, self.prefix)
            # Hadoop convention: _SUCCESS manifests and _staged- parts
            # are metadata, not data
            if not k.rsplit("/", 1)[-1].startswith("_")
        ]

    def read(self, partition):
        import pyarrow as pa

        client = make_s3_client(endpoint_url=self.endpoint)
        body = client.get_object(Bucket=self.bucket, Key=partition.key)[
            "Body"
        ].read()
        docs = [
            json.loads(line) for line in body.decode("utf-8").splitlines() if line
        ]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([d["doc_id"] for d in docs], pa.int64()),
                pa.array([d["lang"] for d in docs], pa.string()),
                pa.array([d["text"] for d in docs], pa.string()),
            ],
            names=["doc_id", "lang", "text"],
        )


class _S3Reader(_S3Objects, DataSourceReader):
    def partitions(self):
        return [_S3Key(k) for k in self._keys()]


class _S3StreamReader(_S3Objects, DataSourceStreamReader):
    """The notification-less Auto-Loader shape: offsets are lexicographic
    KEY high-water marks over the sorted object listing, so immutable
    objects whose keys sort after the committed mark (the natural layout
    of part-file ingestion) are picked up exactly once per listing — and,
    unlike an index-based offset, a slice boundary can never shift under
    a concurrent arrival. A key arriving BELOW the committed mark would
    be silently unreachable, so the reader detects that case and fails
    loudly (the fix is append-ordered keys or a notification-queue
    source)."""

    def __init__(self, options):
        super().__init__(options)
        # out-of-order arrival guard (driver-side, best effort across
        # restarts): the count of keys at or below the high-water mark
        # must never GROW between listings
        self._hwm = ""
        self._n_below = 0

    def initialOffset(self):
        return {"hwm": ""}

    def latestOffset(self):
        keys = self._keys()
        below = sum(1 for k in keys if k <= self._hwm)
        if below > self._n_below:
            raise RuntimeError(
                "graft_s3jsonl: object key(s) arrived BELOW the committed "
                f"high-water mark {self._hwm!r} — out-of-order key arrival "
                "breaks listing-offset exactly-once; use append-ordered "
                "keys or a notification-queue source"
            )
        if keys:
            self._hwm = max(self._hwm, keys[-1])
            self._n_below = sum(1 for k in keys if k <= self._hwm)
        return {"hwm": self._hwm}

    def partitions(self, start, end):
        lo, hi = start["hwm"], end["hwm"]
        return [_S3Key(k) for k in self._keys() if lo < k <= hi]

    def commit(self, end):
        pass


class GraftS3JsonlSource(DataSource):
    """spark.read / spark.readStream .format("graft_s3jsonl") with options
    endpoint, bucket and prefix."""

    @classmethod
    def name(cls) -> str:
        return "graft_s3jsonl"

    def schema(self) -> str:
        return "doc_id bigint, lang string, text string"

    def reader(self, schema):
        return _S3Reader(self.options)

    def streamReader(self, schema):
        return _S3StreamReader(self.options)


class _S3Store:
    """The storage steps of the staged publish on (bucket, prefix); names
    are relative to the prefix. S3 has no rename, so a move is
    copy_object + delete_object."""

    def __init__(self, options):
        self.endpoint = options.get("endpoint")
        self.bucket = options["bucket"]
        self.prefix = options.get("prefix", "")
        self._client = None  # made on first use, after the writer is pickled

    @property
    def client(self):
        if self._client is None:
            self._client = make_s3_client(endpoint_url=self.endpoint)
        return self._client

    def put(self, name: str, chunks) -> None:
        body = "".join(chunks).encode("utf-8")
        self.client.put_object(Bucket=self.bucket, Key=self.prefix + name, Body=body)

    def move(self, src: str, dst: str) -> None:
        self.client.copy_object(
            Bucket=self.bucket,
            Key=self.prefix + dst,
            CopySource={"Bucket": self.bucket, "Key": self.prefix + src},
        )
        self.delete(src)

    def delete(self, name: str) -> None:
        self.client.delete_object(Bucket=self.bucket, Key=self.prefix + name)

    def names(self, prefix: str) -> list:
        keys = list_keys(self.client, self.bucket, self.prefix + prefix)
        return [k[len(self.prefix) :] for k in keys]


class GraftS3JsonlSink(DataSource):
    """df.write / df.writeStream .format("graft_s3jsonl_sink") with
    options endpoint, bucket and prefix."""

    @classmethod
    def name(cls) -> str:
        return "graft_s3jsonl_sink"

    def writer(self, schema, overwrite: bool):
        return pyds._StagedPublish(_S3Store(self.options))

    streamWriter = writer


def register_s3jsonl_source(spark) -> None:
    """Register the S3 formats on the session (idempotent). This module
    and sources/pyds.py are pickled BY VALUE so executor tasks and the
    stream runners deserialize self-contained readers and writers
    without needing the package on their import path."""
    if getattr(spark, "_graft_s3jsonl_registered", False):
        return
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(pyds)
    spark.dataSource.register(GraftS3JsonlSource)
    spark.dataSource.register(GraftS3JsonlSink)
    spark._graft_s3jsonl_registered = True
