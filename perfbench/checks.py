"""Output checks, run outside the timed region.

* Catalog operations are compared with their registry DuckDB oracle by
  an order-insensitive multiset of normalised rows (columns sorted by
  name, floats by ``repr`` at 9 decimals, timestamps at microseconds).
* The CSV -> Kafka pipeline's written values must parse back, through
  ``sources.kafka.parse_kafka_json``, to DuckDB's filtered rows of the
  same CSV, ordered by b2bReadinessDate descending.
* The distributed XML document must equal ``json_document_to_xml`` of
  the same input byte for byte and parse back to the input records.

Each check returns ``None`` when the output is right, else a one-line
reason.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import xml.etree.ElementTree as ET

import duckdb

from datagen import FILTER_STATUS, FILTER_THRESHOLD, PRODUCT_COLUMNS, TABLES


def duckdb_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _norm(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _rows(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def _diff(got: list[str], want: list[str]) -> str | None:
    if got == want:
        return None
    return f"{len(got)} rows vs {len(want)} expected, {len(set(got) ^ set(want))} distinct rows differ"


def oracle(con: duckdb.DuckDBPyConnection, sql: str, cols: list[str], rows) -> str | None:
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    if sorted(ocols) != sorted(cols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    return _diff(_rows(cols, [tuple(r) for r in rows]), _rows(ocols, cur.fetchall()))


def kafka_values(spark, csv_path: str, out_dir: str) -> str | None:
    """The value-only text files in ``out_dir`` hold the filtered rows of
    ``csv_path`` as JSON, newest b2bReadinessDate first."""
    from kafka_s3_etl_spark.schemas import PRODUCTS_CSV_SCHEMA
    from kafka_s3_etl_spark.sources.kafka import parse_kafka_json

    parsed = parse_kafka_json(spark.read.text(out_dir), PRODUCTS_CSV_SCHEMA).collect()
    con = duckdb.connect()
    try:
        cur = con.execute(
            f"""
            SELECT * REPLACE (
                CAST(price_eur AS DOUBLE) AS price_eur,
                CAST(price_usd AS DOUBLE) AS price_usd,
                CAST(price_gbp AS DOUBLE) AS price_gbp,
                CAST("grossPrice_eur" AS DOUBLE) AS "grossPrice_eur")
            FROM read_csv('{csv_path}', header = true, all_varchar = true)
            WHERE "articleStatus" = '{FILTER_STATUS}'
              AND "b2bReadinessDate" >= '{FILTER_THRESHOLD}'
            """
        )
        want = _rows(PRODUCT_COLUMNS, cur.fetchall())
    finally:
        con.close()
    bad = _diff(_rows(PRODUCT_COLUMNS, [tuple(r) for r in parsed]), want)
    if bad:
        return f"kafka values: {bad}"
    dates = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, encoding="utf-8") as f:
            dates.extend(json.loads(line)["b2bReadinessDate"] for line in f)
    if any(a < b for a, b in zip(dates, dates[1:])):
        return "kafka values: not ordered by b2bReadinessDate descending"
    return None


def _xml_record(product: ET.Element) -> dict:
    from kafka_s3_etl_spark.functions.xml_render import ARRAY_ITEM_WRAPPERS

    rec: dict = {}
    for el in product:
        if el.tag in ARRAY_ITEM_WRAPPERS:
            rec[el.tag] = [{c.tag: c.text for c in item} for item in el]
        elif len(el):
            rec[el.tag] = {c.tag: c.text for c in el}
        else:
            rec[el.tag] = el.text
    return rec


def _as_text(v: object) -> object:
    if isinstance(v, list):
        return [_as_text(x) for x in v]
    if isinstance(v, dict):
        return {k: _as_text(x) for k, x in v.items()}
    return str(v)


def xml_document(json_path: str, xml_path: str) -> str | None:
    """The written document is byte-identical to the in-process renderer
    and parses back to the input records (values as rendered text)."""
    from kafka_s3_etl_spark.functions.xml_render import json_document_to_xml

    with open(json_path, encoding="utf-8") as f:
        text = f.read()
    with open(xml_path, encoding="utf-8") as f:
        doc = f.read()
    if doc != json_document_to_xml(text):
        return "xml: document differs from json_document_to_xml"
    back = [_xml_record(p) for p in ET.fromstring(doc.encode())]
    want = [_as_text(r) for r in json.loads(text)]
    if back != want:
        return "xml: document does not parse back to the input records"
    return None
