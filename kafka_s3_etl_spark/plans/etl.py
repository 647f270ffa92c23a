"""Reference-parity ETL query catalog (SURVEY.md section 2b M6).

* q_kafka_value / q_kafka_roundtrip — the SQL->Kafka pipeline's
  serialization surface (reference A8/A9), oracle-checked against
  DuckDB's to_json (formats verified byte-identical).
* q_products_flagship_csv — the reference's flagship query on its own
  shipped CSV, string-lexicographic date semantics preserved
  (src/sql_to_kafka.py:147-151; SURVEY 1.4.1). Oracle-checked since
  r6: DuckDB read_csv on the same file (all_varchar string schema).
* x_json_to_xml — per-record XML fragments of the reference's sample
  JSON document (golden-file parity asserted byte-for-byte in
  tests/test_xml_golden.py). Rows-only for the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.schemas import TESTDATA_SCHEMAS
from kafka_s3_etl_spark.sources.csv import REFERENCE_CSV, read_products_csv
from kafka_s3_etl_spark.sources.kafka import parse_kafka_json, to_kafka_value
from kafka_s3_etl_spark.sources.tables import load_table

REFERENCE_SAMPLE_JSON = "/root/reference/data/sample_products.json"

# The catalog entries whose builders read the reference's shipped files
# instead of sf_dir, with the file each reads. Where the file is absent
# their tests skip with a stated reason.
REFERENCE_INPUTS = {
    "q_products_flagship_csv": REFERENCE_CSV,
    "x_json_to_xml": REFERENCE_SAMPLE_JSON,
}


@register(
    "q_kafka_value",
    category="etl",
    doc="Row -> JSON Kafka message value (reference A8: json.dumps per row).",
    oracle="""
        -- outer CAST: to_json returns the JSON logical type; Spark emits
        -- plain string. Same text, different type — cast so a type-aware
        -- comparator (the driver's hash) sees matching schemas.
        SELECT CAST(to_json(struct_pack(
                   o_orderkey := o_orderkey,
                   o_custkey := o_custkey,
                   o_orderstatus := o_orderstatus,
                   o_totalprice := o_totalprice,
                   o_orderdate := CAST(o_orderdate AS VARCHAR),
                   o_orderpriority := o_orderpriority
               )) AS VARCHAR) AS value
        FROM orders
    """,
)
def q_kafka_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return to_kafka_value(load_table(spark, sf_dir, "orders"))


@register(
    "q_kafka_roundtrip",
    category="etl",
    doc=(
        "Serialize rows to Kafka JSON values and parse them back with an "
        "explicit schema (A8 + B2): lossless round-trip equals the table."
    ),
    oracle="SELECT * FROM orders",
)
def q_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    value_df = to_kafka_value(orders)
    parsed = parse_kafka_json(value_df, TESTDATA_SCHEMAS["orders"])
    return parsed.withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))


@register(
    "q_products_flagship_csv",
    category="etl",
    doc=(
        "Flagship query on the reference's own products.csv with its "
        "string-lexicographic date comparison (works because zero-padded "
        "ISO-8601 sorts like time; SURVEY 1.4.1). Oracle since r6: DuckDB "
        "reads the same shipped CSV directly (all_varchar mirrors the "
        "string schema, empty cells NULL on both engines)."
    ),
    oracle="""
        SELECT ean, "styleNumber", "articleStatus", "b2bReadinessDate",
               CAST(price_eur AS DOUBLE) AS price_eur
        FROM read_csv('/root/reference/data/products.csv',
                      header = true, all_varchar = true)
        WHERE "articleStatus" = 'created'
          AND "b2bReadinessDate" >= '2024-12-01'
        ORDER BY "b2bReadinessDate" DESC, ean
    """,
)
def q_products_flagship_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    products = read_products_csv(spark, REFERENCE_CSV)
    return (
        products.filter(
            (F.col("articleStatus") == "created")
            & (F.col("b2bReadinessDate") >= "2024-12-01")
        )
        # ean tiebreaks day-granularity dates: the result order is TOTAL,
        # matching the catalog convention for ordered queries (the driver
        # hash is order-insensitive, but a total order keeps the two
        # engines row-for-row comparable).
        .orderBy(F.col("b2bReadinessDate").desc(), F.col("ean"))
        .select("ean", "styleNumber", "articleStatus", "b2bReadinessDate", "price_eur")
    )


@register(
    "x_json_to_xml",
    category="etl",
    doc=(
        "Reference B3 parity: per-record XML fragments of the sample product "
        "JSON; byte-identical document assembly asserted against the golden "
        "data/output.xml in tests/test_xml_golden.py."
    ),
    oracle=None,
)
def x_json_to_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.xml_pipeline import xml_fragments

    return xml_fragments(spark, REFERENCE_SAMPLE_JSON)


@register(
    "q_merge_upsert",
    category="etl",
    doc=(
        "Lakehouse CDC apply (MERGE INTO semantics without a table "
        "format): a deterministic change-set (5% price-bumped updates + "
        "shifted-key inserts derived from orders itself) upserted onto "
        "the table via one full-outer join + column-wise coalesce; rows "
        "tagged U/I/K. One shuffle per side on the merge key."
    ),
    oracle="""
        WITH t AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        ), s AS (
          SELECT o_orderkey, o_custkey,
                 'U_' || o_orderstatus AS o_orderstatus,
                 o_totalprice * CAST(1.05 AS DOUBLE) AS o_totalprice
          FROM orders WHERE o_orderkey % 7 = 0
          UNION ALL
          SELECT CAST(o_orderkey + 1000000 AS BIGINT), o_custkey, 'N', o_totalprice
          FROM orders WHERE o_orderkey % 97 = 0
        )
        -- matched source rows replace target rows WHOLESALE (MERGE
        -- UPDATE SET *); key non-nullness marks presence (keys in this
        -- change-set are never NULL)
        SELECT CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderkey ELSE t.o_orderkey END AS o_orderkey,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
               CASE WHEN t.o_orderkey IS NULL THEN 'I'
                    WHEN s.o_orderkey IS NULL THEN 'K'
                    ELSE 'U' END AS action
        FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.operators.merge import merge_upsert

    target = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = target.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.concat(F.lit("U_"), F.col("o_orderstatus")).alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.05).alias("o_totalprice"),
    )
    inserts = target.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return merge_upsert(target, updates.unionByName(inserts), "o_orderkey")


# ---------------------------------------------------------------------------
# Columnar-format interop


_ORC_CACHE: dict[str, str] = {}


@register(
    "x_orc_roundtrip",
    category="etl",
    cost=1,
    doc=(
        "Columnar-format interop: orders written as ORC (zlib, Spark's "
        "native writer) and read back — types, timestamps (micros), and "
        "values must survive the format boundary bit-for-bit, so the "
        "oracle is simply the source table. The interop matrix this "
        "completes: parquet (everywhere), CSV (A1), JSON wire (A8), "
        "XML (B3), ORC (here); Avro is environment-gated (r10: the "
        "spark-avro connector jar is absent — x_avro_roundtrip in "
        "plans/storage.py self-enables when it appears)."
    ),
    oracle="SELECT * FROM orders",
)
def x_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    if sf_dir not in _ORC_CACHE:
        out = scratch_dir("orc_orders")
        load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(out)
        _ORC_CACHE[sf_dir] = out
    return spark.read.orc(_ORC_CACHE[sf_dir])


_JSONL_CACHE: dict[str, str] = {}

# Spark's DEFAULT timestampFormat truncates to milliseconds on write —
# probed: 9995/10000 events rows failed the round-trip until the format
# carried the full microseconds.
_JSONL_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


@register(
    "x_jsonl_roundtrip",
    category="etl",
    cost=1,
    doc=(
        "Row-format interop for THE LLM-corpus interchange format: "
        "events written as JSON Lines by Spark's native JVM json "
        "writer and read back schema-first — timestamps (micros; the "
        "default format writes millis and silently truncates, hence "
        "the pinned timestampFormat), doubles (Jackson emits the "
        "shortest round-tripping decimal), and embedded-JSON strings "
        "(props escaping) must all survive the text boundary exactly, "
        "so the oracle is simply the source table. Completes the "
        "interop matrix: parquet, CSV, JSON wire, JSONL files (here), "
        "XML, ORC; Avro stays environment-gated."
    ),
    oracle="SELECT * FROM events",
)
def x_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    if sf_dir not in _JSONL_CACHE:
        out = scratch_dir("jsonl_events")
        (
            ev.write.mode("overwrite")
            .option("timestampFormat", _JSONL_TS_FMT)
            .json(out)
        )
        _JSONL_CACHE[sf_dir] = out
    return (
        spark.read.schema(ev.schema)
        .option("timestampFormat", _JSONL_TS_FMT)
        .json(_JSONL_CACHE[sf_dir])
    )


_CSV_CACHE: dict[str, str] = {}


@register(
    "x_csv_roundtrip",
    category="etl",
    cost=1,
    doc=(
        "CSV write+read round-trip (the flagship A1 parity covers the "
        "READ side over the reference's own file; this pins Spark's "
        "writer against its reader): orders through the native CSV "
        "writer with header and the microsecond timestampFormat pin "
        "(same truncation trap as JSONL — the default format drops "
        "sub-millisecond digits), read back schema-first; quote/escape "
        "handling is exercised by the string columns. Oracle = the "
        "source table."
    ),
    oracle="SELECT * FROM orders",
)
def x_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    if sf_dir not in _CSV_CACHE:
        out = scratch_dir("csv_orders")
        (
            orders.write.mode("overwrite")
            .option("header", True)
            .option("timestampFormat", _JSONL_TS_FMT)
            .csv(out)
        )
        _CSV_CACHE[sf_dir] = out
    return (
        spark.read.schema(orders.schema)
        .option("header", True)
        .option("timestampFormat", _JSONL_TS_FMT)
        .csv(_CSV_CACHE[sf_dir])
    )


_JSONL_PART_CACHE: dict[str, str] = {}


@register(
    "x_jsonl_partitioned",
    category="etl",
    cost=1,
    doc=(
        "Partition-pruned reading through a TEXT format: documents "
        "written as JSONL partitioned by lang (partitionBy directory "
        "layout), read back schema-first with a lang filter — the "
        "listing must prune to the one lang=en directory before any "
        "byte of JSON parses (PartitionFilters in the scan, pinned by "
        "tests/test_plans.py), the same pruning contract "
        "x_partitioned_write proves for parquet. The partition column "
        "round-trips from the DIRECTORY name, not the file body; "
        "oracle = the filtered source table."
    ),
    oracle="""
        SELECT doc_id, text, source, n_chars, lang
        FROM documents WHERE lang = 'en'
    """,
)
def x_jsonl_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    if sf_dir not in _JSONL_PART_CACHE:
        out = scratch_dir("jsonl_docs_by_lang")
        docs.write.mode("overwrite").partitionBy("lang").json(out)
        _JSONL_PART_CACHE[sf_dir] = out
    body_schema = docs.drop("lang").schema
    return (
        spark.read.schema(
            body_schema.add("lang", "string")
        )
        .json(_JSONL_PART_CACHE[sf_dir])
        .filter(F.col("lang") == "en")
        .select("doc_id", "text", "source", "n_chars", "lang")
    )
