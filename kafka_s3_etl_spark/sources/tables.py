"""Loaders for the driver's parquet testdata tables (TESTDATA.md).

Explicit schemas keep the scan single-pass; Catalyst handles column
pruning + predicate pushdown into the parquet reader, which is the
scale path for 100 TB (only the referenced columns/row-groups are read).

``local_frame`` is the package's one way to build a small driver-side
table (codebooks, weight tables, metric rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_s3_etl_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES
from kafka_s3_etl_spark.shiplib import ensure_workers_can_import

# Loaded events always expose ts as a real TimestampType regardless of the
# file's physical precision (see _events_ts_is_nanos).
EVENTS_LOADED_SCHEMA = T.StructType(
    [
        T.StructField(
            f.name,
            T.TimestampType() if f.name == "ts" else f.dataType,
            True,
        )
        for f in TESTDATA_SCHEMAS["events"].fields
    ]
)

# Footer sniff results, keyed by file path. The sniff is one parquet
# footer read (no data scan); caching makes repeated load_table calls
# (driver sweep, streaming scratch sources) free after the first.
_TS_PRECISION_CACHE: dict[str, bool] = {}


def _first_parquet_file(path: str) -> str:
    """`path` itself if it is a file, else the first ``*.parquet`` found
    under it (Spark directory-shaped tables, incl. partitioned layouts)."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                return os.path.join(root, f)
    raise FileNotFoundError(f"no parquet files under {path!r}")


def _events_ts_is_nanos(spark: SparkSession, path: str) -> bool:
    """True when events.ts is stored as parquet TIMESTAMP(NANOS).

    The testdata generator has shipped both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) files across rounds, so the loader must branch on
    the footer instead of assuming. The sniff reads ONE footer with
    pyarrow and touches no Spark session state (an earlier Spark-native
    variant temporarily flipped the session-global ``nanosAsLong`` conf,
    which could fail a concurrently executing NANOS scan on a
    multi-threaded driver). Remote filesystems would need an fsspec
    handle here; the engine's testdata contract is local paths.
    """
    if path not in _TS_PRECISION_CACHE:
        import pyarrow.parquet as pq

        # Check the PHYSICAL parquet type, not the arrow mapping: both
        # TIMESTAMP(NANOS) (INT64 + nanos logical type) and legacy INT96
        # (Spark's default timestamp output) surface as arrow
        # timestamp[ns], but Spark's reader handles INT96 natively and
        # only rejects the INT64-nanos form.
        schema = pq.ParquetFile(_first_parquet_file(path)).schema
        col = next(
            schema.column(i)
            for i in range(len(schema))
            if schema.column(i).name == "ts"
        )
        _TS_PRECISION_CACHE[path] = (
            col.physical_type == "INT64"
            and "nano" in str(col.logical_type).lower()
        )
    return _TS_PRECISION_CACHE[path]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with its declared schema.

    events.ts precision is sniffed from the parquet footer: NANOS files
    (which Spark's reader rejects) are read as nanos-since-epoch via the
    ``nanosAsLong`` legacy conf and rebuilt into TimestampType with
    integer (DIV) arithmetic — exact for micro-precision values; MICROS
    files are read directly as TimestampType.
    """
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TESTDATA_TABLES}")
    # Self-defend against host sessions built without UTC: timestamp
    # semantics (and DuckDB oracle parity) require a pinned session tz.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Any downstream operator may use pandas UDFs from this package;
    # executor Python workers must be able to import it.
    ensure_workers_can_import(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        if _events_ts_is_nanos(spark, path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)
            return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        return spark.read.schema(EVENTS_LOADED_SCHEMA).parquet(path)
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small driver-side table (codebooks, weight tables, metric rows)
    as a JVM ``LocalRelation``: it plans as ``LocalTableScan``, a
    collect of it runs no Spark job, and a broadcast of it is one JVM
    task.

    ``spark.createDataFrame(list_of_tuples)`` is a Python RDD instead:
    ``sc.parallelize`` pickles the rows, so every execution of the
    frame runs a stage of ``defaultParallelism`` Python tasks, and
    those fork Python workers. A ``pyarrow.Table`` goes down PySpark's
    Arrow path whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says, and that path builds a local relation. Doubles travel as IEEE
    bits, so values are the ones the list form delivered.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in rows], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all testdata tables."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql paths)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
