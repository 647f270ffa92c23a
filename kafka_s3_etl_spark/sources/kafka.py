"""Kafka source/sink builders (reference A8/A9 and the streaming source).

The reference serializes each row to JSON and produces value-only
messages (no key, no headers — ``src/sql_to_kafka.py:209-212``), with
acks=all durability (``:175-182``). Spark's Kafka sink reproduces this
exactly: a single ``value`` column from ``to_json(struct(*))``, and
``kafka.*`` options passed straight through to the producer — the
reference's client-side batching knobs (batch.size / linger.ms) are
producer configs here too, no custom code (SURVEY section 4).

No broker is required to *build* any of these DataFrames/writers;
connectivity happens at save()/start() time, so the shaping logic is
fully testable offline (and is oracle-checked via DuckDB's to_json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter


def to_kafka_value(df: DataFrame, timestamp_as_string: bool = True) -> DataFrame:
    """Serialize every row to a JSON ``value`` column (reference A8:
    one JSON object per row, key order = column order)."""
    cols = []
    for f in df.schema.fields:
        if timestamp_as_string and isinstance(
            f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
        ):
            cols.append(F.col(f.name).cast("string").alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(F.to_json(F.struct(*cols)).alias("value"))


def write_kafka_batch(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    acks: str = "all",
    extra_options: dict[str, str] | None = None,
) -> None:
    """Batch Kafka sink (reference A9). Value-only messages, acks=all."""
    writer = (
        to_kafka_value(df)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("kafka.acks", acks)
    )
    for k, v in (extra_options or {}).items():
        writer = writer.option(k, v)
    writer.save()


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming Kafka source (north-star s_kafka_to_s3 input).

    ``maxOffsetsPerTrigger`` is the scale knob replacing the
    reference's 100-row XCom chunking (SURVEY 2a A12).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def is_kafka_available(bootstrap_servers: str, timeout_sec: float = 1.0) -> bool:
    """TCP reachability probe over the bootstrap list (reference A10,
    src/sql_to_kafka.py:228-250): True if ANY server accepts a
    connection. Used the same way the reference uses it — decide
    broker-backed vs fallback behavior before building a pipeline; the
    actual protocol handshake is left to the Kafka client at
    save()/start() time."""
    import socket

    for server in bootstrap_servers.split(","):
        host, _, port_str = server.strip().rpartition(":")
        try:
            with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
                sock.settimeout(timeout_sec)
                if sock.connect_ex((host, int(port_str))) == 0:
                    return True
        except (OSError, ValueError):  # unreachable, unresolvable, malformed
            continue
    return False


def parse_kafka_json(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Decode Kafka value bytes -> typed columns (reference B2 semantics
    on the streaming path: from_json with an explicit schema)."""
    return df.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r")
    ).select("r.*")


def split_malformed(
    df: DataFrame, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split for a Kafka ``value`` stream (reference B2
    error discipline: src/s3_json_to_xml.py:110-113 catches
    JSONDecodeError per object; here the same records are quarantined
    instead of aborting the batch).

    Malformed detection uses PERMISSIVE mode's corrupt-record column —
    the struct-is-NULL check is NOT sufficient, because Spark
    best-effort-parses partially-valid JSON (e.g. ``{not json`` yields
    a non-NULL struct of NULL fields). With ``columnNameOfCorruptRecord``
    the parser stores the raw text of every undecodable value, so:
    * good — decoded typed rows (malformed rows dropped);
    * bad  — the raw ``value`` of every malformed message, ready for a
      dead-letter topic/path.

    Works identically on batch and streaming DataFrames; the check is
    per-row, no shuffle. NOTE: a JSON value that is valid but lacks the
    schema's fields decodes to a row of NULLs, not a parse failure.
    """
    corrupt = "_corrupt_record"
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType())]
    )
    parsed = df.select(
        F.col("value"),
        F.from_json(
            F.col("value").cast("string"),
            with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
        ).alias("r"),
    )
    is_bad = F.col("r").isNull() | F.col(f"r.{corrupt}").isNotNull()
    good = parsed.filter(~is_bad).select("r.*").drop(corrupt)
    bad = parsed.filter(is_bad).select("value")
    return good, bad


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_location: str,
) -> DataStreamWriter:
    """Streaming Kafka sink builder: returns the writer unstarted. Run it
    with ``streaming.runner.run_stream``, whose own checkpoint replaces
    ``checkpoint_location``."""
    return (
        to_kafka_value(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
    )
