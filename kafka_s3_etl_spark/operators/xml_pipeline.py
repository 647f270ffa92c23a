"""Spark plumbing for the JSON->XML pipeline (reference B1-B4).

The reference downloads one JSON array from S3 and converts it to one
XML document in a single process (``src/s3_json_to_xml.py:281-334``).
Here one fused ``mapInPandas`` pass parses the array and renders each
parsed record dict straight to its ``<product>`` block; only the final
ordered concatenation happens on the driver.

Rendering stays in one partition on purpose. One document has one
writer, and rendering is a cheap per-record string build: a round-robin
shuffle to spread it over more tasks costs more than it saves. The
wholetext scan is declared single-partition (``coalesce(1)``) and
``MapInPandas`` keeps that layout, so a caller's ``orderBy("idx")``
plans as a local sort with no Exchange: the whole document renders in
one job of one stage. Scale comes from many documents, not from
splitting one.

Key-order fidelity: records are parsed from JSON *text* with
``json.loads`` (which preserves key order), never through a StructType,
which would reorder and null-fill keys (SURVEY 7.3).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kafka_s3_etl_spark.functions.xml_render import (
    assemble_document,
    parse_records,
    render_block,
)
from kafka_s3_etl_spark.shiplib import ensure_workers_can_import

_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("idx", T.LongType(), False),
        T.StructField("record_json", T.StringType(), False),
    ]
)

_XML_SCHEMA = T.StructType(
    [
        T.StructField("idx", T.LongType(), False),
        T.StructField("xml", T.StringType(), False),
    ]
)


def _map_records(
    spark: SparkSession, path: str, schema: T.StructType, fn: Callable[[dict], str]
) -> DataFrame:
    """(idx, fn(record)) rows of the JSON array file, in one partition."""
    ensure_workers_can_import(spark)
    column = schema.names[1]

    def per_record(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        docs = (doc for pdf in batches for doc in pdf["value"])
        for n, doc in enumerate(docs):
            # idx restarts at 0 per document: a second one would silently
            # interleave with the first under orderBy("idx").
            if n:
                raise ValueError(f"{path} holds more than one JSON document")
            records = parse_records(doc)
            yield pd.DataFrame(
                {"idx": range(len(records)), column: [fn(r) for r in records]}
            )

    raw = spark.read.text(path, wholetext=True).coalesce(1)
    return raw.mapInPandas(per_record, schema=schema)


def json_array_to_records(spark: SparkSession, path: str) -> DataFrame:
    """Read a JSON-array file into (idx, record_json) rows, key order intact."""
    return _map_records(spark, path, _RECORDS_SCHEMA, json.dumps)


def xml_fragments(spark: SparkSession, path: str) -> DataFrame:
    """JSON array file -> (idx, xml) rows, one <product> block per record."""
    return _map_records(spark, path, _XML_SCHEMA, render_block)


def build_xml_document(spark: SparkSession, path: str) -> str:
    """Assemble the single-document artifact (reference B3+B4 semantics)."""
    rows = xml_fragments(spark, path).orderBy("idx").collect()
    return assemble_document([r.xml for r in rows])


def write_xml_document(spark: SparkSession, json_path: str, out_path: str) -> None:
    """Write the single XML document (reference B4: one object, string body)."""
    doc = build_xml_document(spark, json_path)
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(doc)
