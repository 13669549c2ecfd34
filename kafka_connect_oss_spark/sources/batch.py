"""Batch table access + the SinkRecord-envelope view of the events table.

The driver's synthetic tables (TESTDATA.md) are plain parquet; ``sink_records``
reshapes ``events`` into the Kafka-record envelope every reference operator
consumes: (topic, partition, offset, ts, key, value...)
(reference: OSSSinkTask.java:160-175 put(Collection<SinkRecord>);
FIXTURES.md F-1).

All derivations are narrow (per-row) column expressions — no shuffle; at
100 TB the envelope is a zero-cost projection over the scan.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: number of synthetic Kafka partitions the envelope spreads records over
#: (the reference quick-start uses 10 Kafka partitions, README.md:153; we use
#: 8 so partition counts stay readable at sf0.001)
N_KAFKA_PARTITIONS = 8


#: columns stored as parquet TIMESTAMP(NANOS) in the driver's testdata
_NANO_TS_COLUMNS = {"ts", "o_orderdate", "l_shipdate"}


def _strip_ntz(dt: T.DataType) -> T.DataType:
    """Recursively rewrite ``TIMESTAMP_NTZ`` to ``TIMESTAMP`` in a type."""
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType()
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f_.name, _strip_ntz(f_.dataType), f_.nullable,
                          f_.metadata) for f_ in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_ntz(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_strip_ntz(dt.keyType), _strip_ntz(dt.valueType),
                         dt.valueContainsNull)
    return dt


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every ``TIMESTAMP_NTZ`` column — top-level or nested inside
    struct/array/map — to ``TIMESTAMP``.

    The engine's data model is the reference's: timezone-less epoch millis
    (TopicPartitionWriter.java:186-191), carried as Spark ``TimestampType``
    with the session timezone pinned to UTC — under UTC the NTZ->TZ cast is
    value-preserving. PySpark 4.x reads parquet ``timestamp[us]``
    (isAdjustedToUTC=false) as ``TimestampNTZType``, which ``unix_micros``,
    ``unix_millis``, and ``withWatermark`` all reject; normalizing once at
    the source boundary keeps every downstream operator on one type. Nested
    NTZ (a timestamp inside an envelope struct) is rewritten by casting the
    container to its NTZ-stripped type — the cast recurses field-by-field.
    """
    rewritten = {f_.name: _strip_ntz(f_.dataType) for f_ in df.schema.fields
                 if _strip_ntz(f_.dataType) != f_.dataType}
    if rewritten:
        df = df.withColumns(
            {c: F.col(c).cast(dt) for c, dt in rewritten.items()})
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table; column pruning/pushdown happen in Catalyst.

    Two historical physical encodings of the timestamp columns are handled:
    parquet TIMESTAMP(NANOS) (readable only via the nanosAsLong legacy conf,
    as raw int64 nanos — converted with `ns div 1000`, truncating exactly
    like DuckDB's nanos->micros read) and parquet timestamp[us] without
    timezone (read by Spark 4.x as TIMESTAMP_NTZ — normalized to TIMESTAMP
    by ``normalize_timestamps``; session TZ is pinned UTC so values are
    unchanged).
    """
    # cast semantics below assume naive-UTC; pin before any plan is built
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for f_ in df.schema.fields:
        if f_.name in _NANO_TS_COLUMNS and f_.dataType.simpleString() == "bigint":
            df = df.withColumn(f_.name, F.expr(f"timestamp_micros({f_.name} div 1000)"))
    return normalize_timestamps(df)


def local_frame(spark: SparkSession, rows: Iterable,
                schema: T.StructType | str) -> DataFrame:
    """A frame over rows held by the driver, planned as a ``LocalTableScan``.

    ``spark.createDataFrame(<list>)`` parallelizes the rows as a Python RDD
    (``Scan ExistingRDD``), so every job that reads them runs Python tasks.
    Here the rows go through the schema's ``toInternal``, the conversion
    that path applies (a naive datetime keeps its meaning), into one
    ``pyarrow.Table``, which PySpark hands to the JVM whole whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*map(schema.toInternal, rows))) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


def envelope(ev: DataFrame, topic: str) -> DataFrame:
    """events rows -> SinkRecord envelope (FIXTURES.md F-1), batch or
    streaming.

    ``partition``: synthetic Kafka partition = event_id % N (deterministic,
    mirrors a keyless round-robin producer). ``offset``: monotonic per
    partition = event_id div N (offsets are per-TopicPartition monotonic in
    Kafka; integer division of a round-robin id gives exactly that).
    """
    return ev.select(
        F.lit(topic).alias("topic"),
        (F.col("event_id") % N_KAFKA_PARTITIONS).cast("int").alias("partition"),
        F.floor(F.col("event_id") / N_KAFKA_PARTITIONS).cast("bigint").alias("offset"),
        F.col("ts"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )


def sink_records(spark: SparkSession, sf_dir: str, topic: str = "events") -> DataFrame:
    """The sf_dir's events table as SinkRecords (see ``envelope``)."""
    return envelope(load_table(spark, sf_dir, "events"), topic)


# DuckDB rendering of the same envelope, used to build oracle SQL strings.
SINK_RECORDS_SQL = (
    "SELECT 'events' AS topic, CAST(event_id % {n} AS INT) AS partition, "
    "CAST(event_id // {n} AS BIGINT) AS \"offset\", ts, "
    "CAST(user_id AS VARCHAR) AS key, event_id, user_id, event_type, value, props "
    "FROM events"
).format(n=N_KAFKA_PARTITIONS)
