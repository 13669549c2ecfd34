"""File-based streaming source — the Kafka stand-in for tests/benches.

A parquet directory is read with readStream and reshaped into the same
SinkRecord envelope kafka.kafka_stream produces, so the whole ingest
pipeline (partition-encode -> rotate -> commit) runs identically whether
records come from a broker or from files. maxFilesPerTrigger plays the
maxOffsetsPerTrigger role for rate control in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_oss_spark.sources.batch import envelope, normalize_timestamps


def events_file_stream(spark: SparkSession, sf_dir: str,
                       topic: str = "events",
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming SinkRecord envelope from the sf_dir's events parquet.

    FileStreamSource wants a directory; sf_dir holds all tables, so a
    pathGlobFilter narrows the stream to the events file(s).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    glob = "events.parquet*"
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    reader = (spark.readStream.schema(schema)
              .option("pathGlobFilter", glob))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    ev = reader.parquet(sf_dir)
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Spark 4.x reads timestamp[us]-no-tz parquet as TIMESTAMP_NTZ, which
    # withWatermark / applyInPandasWithState reject as event time; the
    # envelope guarantees TIMESTAMP (naive-UTC semantics, session TZ pinned
    # UTC by the pipeline) just like the batch envelope.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return envelope(normalize_timestamps(ev), topic)
