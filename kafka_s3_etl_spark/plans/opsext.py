"""Operational-surface cells (round 14): the SQL-front-end and
fault-tolerance mechanisms VERDICT r13 named as the last genuinely
uncovered surfaces.

* q_sql_session_vars — Spark 4 SQL session variables (``DECLARE
  VARIABLE`` / ``SET VAR``) + ``IDENTIFIER()``: the persistent-session
  parameterization a SQL-warehouse user leans on daily (q_sql_scripting
  covers script-LOCAL declares; q_parameterized_sql covers :param
  binding — this cell is the session-scoped third leg, and
  IDENTIFIER(var) is the injection-safe DYNAMIC table reference that
  completes it). Variables are dropped after build — the set/restore
  discipline, session-variable edition.
* x_state_metadata_scan — ``spark.read.format("state-metadata")`` over
  a retained streaming checkpoint: the operator-DISCOVERY companion to
  x_statestore_scan (which reads state VALUES and needs the operator /
  store names this source provides — it is what a 100 TB state
  debugger opens FIRST). Oracle = the restated operator/partition/
  batch expectations, every one of which is pinned elsewhere (the
  pinned stream-partition count, the availableNow single-batch run).
* q_read_corrupt_tolerant — file-level fault tolerance
  (``spark.sql.files.ignoreCorruptFiles``): a four-file parquet
  directory with one file truncated mid-footer reads back exactly the
  intact files' rows under the pinned conf (and fails loudly under the
  default — tests/test_opsext.py). q_split_malformed covers
  record-level garbage; 100 TB object stores lose whole objects, and
  this is the conf a production backfill actually leans on. The
  corrupt MEMBER is chosen deterministically (doc_id % 4 = 3 written
  as its own file), so the oracle restates the intact subset.

Batch 86 (same round) adds the remaining SQL-front-end parity cells:

* q_sql_table_function — SQL-defined TABLE function (RETURNS TABLE ...
  RETURN SELECT, invoked in FROM position; body rides GROUP BY ALL),
  the table-valued companion to q_sql_udf's scalar form.
* x_column_defaults — the column-DEFAULT DDL lifecycle: CREATE with
  DEFAULT, INSERT omitting the column, ALTER TABLE ADD COLUMN DEFAULT
  (existence default — pre-existing rows read it with zero rewrite),
  INSERT via the DEFAULT keyword.

Reference scope: the reference ETL has no session-variable / state
/ corrupt-file surface (its SQL is one static filter,
src/check_sql_table.py; its fault handling is task retries) — these
cells are engine-completion items from SURVEY §2's extension matrix.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.plans.registry import register
from kafka_s3_etl_spark.session import pinned_confs
from kafka_s3_etl_spark.sources.tables import load_table

# ------------------------------------------------- SQL session variables


@register(
    "q_sql_session_vars",
    category="sqlsurface",
    doc=(
        "SQL session variables (Spark 4 DECLARE VARIABLE / SET VAR) + "
        "IDENTIFIER(): min_cents is declared once at session scope, "
        "SET VAR binds it from a scalar subquery over the data (the "
        "two-statement flow a BI session actually runs), and the "
        "rollup reads BOTH the variable and an IDENTIFIER(tbl_var) "
        "dynamic table reference — injection-safe dynamic SQL with no "
        "string concatenation. Variables are DROPped after build; the "
        "threshold is exact integer cents so the oracle replays the "
        "same scalar subquery verbatim."
    ),
    oracle="""
        WITH thr AS (
          SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      // COUNT(*) AS BIGINT) AS min_cents
          FROM orders
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM orders, thr
        WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= thr.min_cents
        GROUP BY o_orderpriority
    """,
)
def q_sql_session_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_sessvar_v"
    )
    # session-scoped state: declare -> bind from data -> use -> DROP.
    # DECLARE OR REPLACE keeps the builder idempotent on a shared
    # session; the finally-DROP keeps later catalog queries vanilla
    # (the set/restore discipline, session-variable edition).
    spark.sql(
        "DECLARE OR REPLACE VARIABLE min_cents BIGINT DEFAULT 0"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE tbl_name STRING "
        "DEFAULT 'orders_sessvar_v'"
    )
    try:
        # mean cents as EXACT integer division (SUM/COUNT are exact
        # BIGINTs and both operands are non-negative, where Spark DIV
        # truncating toward zero == DuckDB // flooring — the
        # q_kmeans_kstep rule; ROUND(AVG(..)) would sit on exact .5
        # boundaries where the engines' half-rules diverge)
        spark.sql(
            """
            SET VAR min_cents = (
              SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     DIV COUNT(*)
              FROM orders_sessvar_v
            )
            """
        )
        # IDENTIFIER(tbl_name): the dynamic table reference resolves
        # from the VARIABLE, not from concatenated SQL text. The
        # result df captures the resolved plan, so dropping the
        # variables afterwards cannot unbind it.
        out = spark.sql(
            """
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS total_cents
            FROM IDENTIFIER(tbl_name)
            WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= min_cents
            GROUP BY o_orderpriority
            """
        )
        # session variables resolve at ANALYSIS time (substituted into
        # the plan as literals) — but force the analysis here, inside
        # the declare/drop bracket, so the contract is explicit
        out.schema
        return out
    finally:
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS min_cents")
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS tbl_name")


# ------------------------------------------------- state-metadata reader


@register(
    "x_state_metadata_scan",
    category="streaming",
    cost=3,
    doc=(
        "State-METADATA reader (Spark 4 "
        "spark.read.format('state-metadata')): enumerates which "
        "stateful operators / state stores / partition counts / "
        "batch ranges a checkpoint holds — the discovery step a state "
        "debugger runs BEFORE x_statestore_scan's value read (the "
        "statestore source needs the operator id and store name this "
        "source provides). Reuses x_statestore_scan's retained "
        "checkpoint (one stateAggr operator, default store, the "
        "engine's pinned shuffle-partition count, a single "
        "availableNow batch); the oracle restates exactly those "
        "expectations — every field is pinned by the build, so a "
        "drift in ANY of them (operator naming, partition pinning, "
        "batch accounting) fails the hash loudly."
    ),
    oracle="""
        SELECT CAST(0 AS BIGINT) AS operator_id,
               'stateStoreSave' AS operator_name,
               'default' AS state_store_name,
               CAST(8 AS INTEGER) AS num_partitions,
               CAST(0 AS BIGINT) AS min_batch_id,
               CAST(0 AS BIGINT) AS max_batch_id
    """,
)
def x_state_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_s3_etl_spark.plans.execution import (
        _STATESTORE_CKPT,
        x_statestore_scan,
    )

    if sf_dir not in _STATESTORE_CKPT:
        # builds + caches the checkpoint (and exercises the value
        # read once — cheap, it is a tiny per-event_type state)
        x_statestore_scan(spark, sf_dir).collect()
    meta = (
        spark.read.format("state-metadata")
        .load(_STATESTORE_CKPT[sf_dir])
    )
    return meta.select(
        F.col("operatorId").cast("bigint").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("numPartitions").cast("int").alias("num_partitions"),
        F.col("minBatchId").cast("bigint").alias("min_batch_id"),
        F.col("maxBatchId").cast("bigint").alias("max_batch_id"),
    )


# --------------------------------------------- corrupt-file tolerance

# scratch four-file parquet dir with member 3 truncated mid-footer,
# per sf_dir — the testdata is immutable so the layout is too (the
# runner._SRC_CACHE convention)
_CORRUPT_DIR: dict[str, str] = {}

_CORRUPT_MEMBER = 3  # doc_id % 4 == 3 -> part file "m3"


def _corrupt_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write documents as 4 single-file parquet members (doc_id % 4),
    then truncate member 3 to half its length — killing its footer, so
    the file is unreadable as parquet (not merely missing rows)."""
    if sf_dir in _CORRUPT_DIR:
        return _CORRUPT_DIR[sf_dir]
    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    root = scratch_dir("corrupt_files")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    for m in range(4):
        sub = os.path.join(root, f"m{m}")
        (
            docs.filter(F.col("doc_id") % 4 == m)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(sub)
        )
        # flatten: move the single part file up as root/m{m}.parquet
        part = next(
            f for f in os.listdir(sub) if f.endswith(".parquet")
        )
        os.replace(
            os.path.join(sub, part), os.path.join(root, f"m{m}.parquet")
        )
        import shutil

        shutil.rmtree(sub)
    victim = os.path.join(root, f"m{_CORRUPT_MEMBER}.parquet")
    size = os.path.getsize(victim)
    with open(victim, "r+b") as fh:
        fh.truncate(size // 2)  # footer (file tail) gone
    _CORRUPT_DIR[sf_dir] = root
    return root


@register(
    "q_read_corrupt_tolerant",
    category="governance",
    cost=1,
    doc=(
        "File-level fault tolerance "
        "(spark.sql.files.ignoreCorruptFiles): a four-member parquet "
        "directory with member doc_id%4=3 truncated mid-footer reads "
        "back EXACTLY the three intact members' rows under the pinned "
        "conf — the whole-object-loss posture a 100 TB object-store "
        "backfill needs (q_split_malformed handles record-level "
        "garbage; this handles the lost/corrupted OBJECT). The default "
        "conf fails loudly on the same dir (tests/test_opsext.py pins "
        "both modes). Conf is set/restored around the terminal "
        "collect-free build; rollup by lang keeps the output small. "
        "Oracle restates the intact subset (doc_id % 4 <> 3)."
    ),
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc
        FROM documents
        WHERE doc_id % 4 <> 3
        GROUP BY lang
    """,
)
def q_read_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _corrupt_layout(spark, sf_dir)
    with pinned_confs(spark, {"spark.sql.files.ignoreCorruptFiles": "true"}):
        # localCheckpoint materializes the read under the pinned conf
        # (ignoreCorruptFiles is read at SCAN time, not plan time —
        # same discipline as the skew cell's runtime confs) so the
        # restored session conf cannot resurrect the failure when the
        # driver later collects.
        out = (
            spark.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
            .parquet(root)
            .groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
                F.max("doc_id").cast("bigint").alias("max_doc"),
            )
            .localCheckpoint()
        )
        return out


# ------------------------------------------------- SQL table function


@register(
    "q_sql_table_function",
    category="sqlsurface",
    doc=(
        "SQL-defined TABLE function (Spark 4 CREATE TEMPORARY FUNCTION "
        "... RETURNS TABLE ... RETURN SELECT): the parameterized-view "
        "workhorse of a SQL warehouse — q_sql_udf (plans/stats.py) "
        "pins the SCALAR form; this is the table-valued companion, "
        "invoked in FROM position with a literal argument. The body "
        "also rides GROUP BY ALL (the Spark 3.4+/4 grouping sugar, "
        "otherwise uncovered). SQL functions inline at analysis like a "
        "view expansion, so the function is DROPped after the returned "
        "df is analyzed — the session-variable hygiene discipline. "
        "Oracle: the expanded query restated."
    ),
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM orders
        WHERE o_totalprice > 150000.0
        GROUP BY o_orderpriority
    """,
)
def q_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_tvf_v"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION priority_rollup(
            min_price DOUBLE
        )
        RETURNS TABLE (
            o_orderpriority STRING, n_orders BIGINT, total_cents BIGINT
        )
        RETURN
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS total_cents
          FROM orders_tvf_v
          WHERE o_totalprice > min_price
          GROUP BY ALL
        """
    )
    try:
        out = spark.sql(
            "SELECT * FROM priority_rollup(CAST(150000.0 AS DOUBLE))"
        )
        out.schema  # force analysis inside the create/drop bracket
        return out
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS priority_rollup")


# ------------------------------------------------- column DEFAULTs

_DEFAULTS_TABLES: dict[str, str] = {}


def _defaults_table(spark: SparkSession, sf_dir: str) -> str:
    """Catalog table exercising the column-DEFAULT lifecycle: create
    with a DEFAULT, insert OMITTING the column, ALTER TABLE ADD COLUMN
    with a DEFAULT (pre-existing rows read it back as an existence
    default — no rewrite), then insert explicit values."""
    if sf_dir in _DEFAULTS_TABLES:
        return _DEFAULTS_TABLES[sf_dir]
    import re as _re

    from kafka_s3_etl_spark.streaming.runner import scratch_dir

    tag = _re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_")
    t = f"graft_defaults_{tag}"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_def_v"
    )
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(
        f"""
        CREATE TABLE {t} (
            ok BIGINT,
            cents BIGINT,
            status STRING DEFAULT 'NEW'
        ) USING parquet LOCATION '{scratch_dir("defaults")}'
        """
    )
    # wave 1 omits status -> insert-time DEFAULT 'NEW'
    spark.sql(
        f"""
        INSERT INTO {t} (ok, cents)
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
        FROM orders_def_v WHERE o_orderkey % 10 = 0
        """
    )
    # schema evolution: pre-existing parquet rows were written WITHOUT
    # this column; they must read back 'LEGACY' via the existence
    # default recorded in table metadata — zero data rewrite, the
    # 100 TB reason this surface exists
    spark.sql(
        f"ALTER TABLE {t} ADD COLUMN segment STRING DEFAULT 'LEGACY'"
    )
    # wave 2 states every column; DEFAULT keyword fills one slot
    spark.sql(
        f"""
        INSERT INTO {t} (ok, cents, status, segment)
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT),
               DEFAULT, 'CURRENT'
        FROM orders_def_v WHERE o_orderkey % 10 = 1
        """
    )
    _DEFAULTS_TABLES[sf_dir] = t
    return t


@register(
    "x_column_defaults",
    category="lakehouse",
    cost=1,
    doc=(
        "Column DEFAULT lifecycle (Spark 3.4+/4 DDL): CREATE TABLE "
        "with DEFAULT -> INSERT omitting the column -> ALTER TABLE ADD "
        "COLUMN DEFAULT (pre-existing parquet rows read the new column "
        "back as an EXISTENCE default from table metadata — no data "
        "rewrite, which is why the surface matters at 100 TB) -> "
        "INSERT with the DEFAULT keyword. x_schema_evolution covers "
        "schema-on-read merge; this is the catalog-DDL evolution path "
        "a warehouse migration actually runs. Oracle restates both "
        "insert waves from orders with the literal default values."
    ),
    oracle="""
        SELECT status, segment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM (
          SELECT 'NEW' AS status, 'LEGACY' AS segment,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT 'NEW', 'CURRENT',
                 CAST(ROUND(o_totalprice * 100) AS BIGINT)
          FROM orders WHERE o_orderkey % 10 = 1
        )
        GROUP BY status, segment
    """,
)
def x_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _defaults_table(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT status, segment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM {t}
        GROUP BY status, segment
        """
    )


# ------------------------------------------------- EXECUTE IMMEDIATE


@register(
    "q_execute_immediate",
    category="sqlsurface",
    doc=(
        "Dynamic SQL (Spark 4 EXECUTE IMMEDIATE): the query TEXT lives "
        "in a session variable and executes with USING parameter "
        "binding — the third leg of the parameterization trio "
        "(q_parameterized_sql = :param binding, q_sql_session_vars = "
        "IDENTIFIER() references; this cell = the sql-string path a "
        "metadata-driven warehouse job generator emits, still "
        "injection-safe because values travel as USING binds, never "
        "concatenated). Variables DROPped after the returned df is "
        "analyzed. Oracle: the statement restated with the literals "
        "bound."
    ),
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(ROUND(l_extendedprice
                    * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
        FROM lineitem
        WHERE l_quantity >= 30.0
        GROUP BY l_returnflag
    """,
)
def q_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_dyn_v"
    )
    spark.sql(
        """
        DECLARE OR REPLACE VARIABLE dyn_sql STRING DEFAULT "
          SELECT l_returnflag,
                 CAST(COUNT(*) AS BIGINT) AS n_lines,
                 CAST(SUM(CAST(ROUND(l_extendedprice
                      * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
          FROM lineitem_dyn_v
          WHERE l_quantity >= ?
          GROUP BY l_returnflag"
        """
    )
    try:
        out = spark.sql(
            "EXECUTE IMMEDIATE dyn_sql USING CAST(30.0 AS DOUBLE)"
        )
        out.schema  # force analysis inside the declare/drop bracket
        return out
    finally:
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS dyn_sql")
