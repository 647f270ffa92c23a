"""SparkSession builder for the engine.

Mirrors the connectivity surface of the reference's ``.env.sample``
(Kafka bootstrap servers, S3/MinIO endpoint + path-style access —
reference ``.env.sample:10-23,52-55``, ``src/s3_json_to_xml.py:45-56``)
but expressed as Spark configs. Scale-minded defaults:

* AQE on (runtime re-planning, partition coalescing, skew-join splitting)
  so the same code survives a 1000-executor / 100 TB deployment;
* ``spark.sql.shuffle.partitions`` sized to local cores for tests —
  on a real cluster leave AQE's coalescing to right-size the shuffle;
* session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable;
* Arrow enabled for the pandas-UDF slow path;
* the whole-stage codegen class cache sized to 1000 classes, so a
  session that reruns its queries reuses their compiled classes instead
  of recompiling them with Janino (and re-warming the JIT) every pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "kafka_s3_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3_endpoint: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``s3_endpoint`` configures S3A for a MinIO-style endpoint with
    path-style access, matching the reference's dev-mode client
    selection (``src/s3_json_to_xml.py:40-69``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Static (JVM-wide) conf, default 100. One pass of the `iterative`
        # benchmark workload generates 109 distinct classes (59 BFS, 30
        # pinned PQ, 20 windowed stream), so at 100 every warm pass
        # evicted and recompiled 60 of them; at 1000 none. One pass over
        # the whole catalog generates 4242; 1000 holds about 6 MB more
        # Metaspace than 100 does after that pass.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if s3_endpoint:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", s3_endpoint)
            .config("spark.hadoop.fs.s3a.path.style.access", "true")
            .config("spark.hadoop.fs.s3a.connection.ssl.enabled", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
