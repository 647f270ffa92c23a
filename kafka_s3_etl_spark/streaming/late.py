"""Late-data discipline demo (SURVEY.md section 2b s_late_data).

A live stream over the events table in two deliveries:

* delivery 1 — everything from ``CUTOFF`` onward (arrives first),
* delivery 2 — everything before ``CUTOFF`` (arrives second: "late").

With a 10-minute watermark and append output mode, delivery 1 advances
the watermark to max(ts)-10min; every delivery-2 row is older than
that, so the engine drops them and no pre-cutoff window ever appears in
the output. At scale this is the knob that bounds state: without the
watermark, a 100 TB stream would accumulate window state forever.

Trigger.AvailableNow does NOT apply the advanced watermark to later
micro-batches of the same run (observed: numRowsDroppedByWatermark=0
and late windows emitted), hence the live query with the late file
delivered only after the on-time batch has committed — the arrival
order a real Kafka topic would produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_s3_etl_spark.sources.tables import load_table
from kafka_s3_etl_spark.streaming.jobs import tumbling_counts
from kafka_s3_etl_spark.streaming.runner import (
    _single_part,
    run_stream,
    staged_source,
)

CUTOFF = "2024-01-02 00:00:00"


def late_data_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    on_time = F.col("ts") >= CUTOFF
    src, deliveries = staged_source(
        _single_part((sf_dir, "late_on_time"), lambda: ev.filter(on_time)),
        _single_part((sf_dir, "late_late"), lambda: ev.filter(~on_time)),
    )
    stream = spark.readStream.schema(ev.schema).parquet(src)
    return run_stream(tumbling_counts(stream), deliveries=deliveries)
