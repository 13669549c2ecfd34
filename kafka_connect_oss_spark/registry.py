"""Query registry: batch-queryable form of every implemented operator.

This module holds the routing/partitioning/rotation/decoding rows; each
other operator family has its own ``registry_<family>.py``, all imported
at the foot of this module. Each entry pairs a function returning a
PySpark DataFrame with an ANSI-SQL oracle (static, or in LAZY_ORACLES
when it inlines a model fitted from the data) that DuckDB runs on the
same parquet tables.
The driver (`__spark_entry__.py`) compares row counts, schemas, and
order-insensitive value hashes, so:

* every computed column is explicitly aliased identically in both forms;
* every floating-point output is rounded (both sides compute the identical
  double before rounding — integer/rational math wherever possible);
* session timezone is pinned to UTC before any datetime formatting.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from kafka_connect_oss_spark.functions import partition as P
from kafka_connect_oss_spark.operators import projection, rotation, routing
from kafka_connect_oss_spark.sources.batch import (SINK_RECORDS_SQL, load_table,
                                                   sink_records)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
#: oracles whose SQL depends on a model fitted from the data (e.g. k-means
#: centroids inlined as literals): name -> fn(sf_dir) -> SQL. Resolved by
#: __spark_entry__.oracle_sql() at the driver's correctness SF and by
#: tests/test_oracle_parity.py at the test SF.
LAZY_ORACLES: dict[str, Callable[[str], str]] = {}

#: DuckDB CTE mirroring sources.batch.sink_records
_REC = f"WITH rec AS ({SINK_RECORDS_SQL})"


def _cents(col: str) -> str:
    """SQL for a money column as BIGINT cents (half-up), shared by the
    relational and TPC-H families so both engines sum exact integers."""
    return f"CAST(floor({col} * 100 + 0.5) AS BIGINT)"


def register(name: str, oracle: str | None = None):
    """Register ``fn`` as query ``name`` (with its DuckDB oracle, if any).
    A name may be registered once: a row defined in two family modules
    fails at import instead of one silently shadowing the other."""
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # datetime formatting must agree with DuckDB's naive-UTC stamps
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # pandas-UDF closures need the package importable on executors
            from kafka_connect_oss_spark.shipping import (
                ensure_package_on_executors)
            ensure_package_on_executors(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# --------------------------------------------------------------------------
# P1 / C2-C3: routing & offset management (OSSSinkTask.java:161-166, 196-208)
# --------------------------------------------------------------------------

@register(
    "p1_route_topicpartition",
    f"""{_REC}
    SELECT topic, partition, COUNT(*) AS n_records,
           MIN("offset") AS first_offset, MAX("offset") AS last_offset,
           COUNT(DISTINCT event_type) AS n_event_types
    FROM rec GROUP BY topic, partition""",
)
def p1_route_topicpartition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.route_summary(sink_records(spark, sf_dir))


@register(
    "c2_offsets_to_commit",
    f"""{_REC}
    SELECT topic, partition, MAX("offset") + 1 AS offset_to_commit,
           COUNT(*) AS records_written
    FROM rec GROUP BY topic, partition""",
)
def c2_offsets_to_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rotation.offsets_to_commit(sink_records(spark, sf_dir))


# --------------------------------------------------------------------------
# P2-P5: partition encoding (OSSSinkConnectorConfiguration.java:110-118)
# --------------------------------------------------------------------------

@register(
    "p2_default_partitioner",
    f"""{_REC}
    SELECT event_id, partition, "offset",
           'partition=' || CAST(partition AS VARCHAR) AS encoded_partition
    FROM rec""",
)
def p2_default_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = sink_records(spark, sf_dir)
    return rec.select(
        "event_id", "partition", "offset",
        P.default_partition(F.col("partition")).alias("encoded_partition"),
    )


@register(
    "p3_field_partitioner",
    f"""{_REC}
    SELECT 'event_type=' || event_type AS encoded_partition,
           COUNT(*) AS n_records, ROUND(SUM(value), 3) AS sum_value
    FROM rec GROUP BY 1""",
)
def p3_field_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = sink_records(spark, sf_dir)
    return (
        rec.groupBy(P.field_partition(F.col("event_type"), "event_type")
                    .alias("encoded_partition"))
        .agg(F.count(F.lit(1)).alias("n_records"),
             F.round(F.sum("value"), 3).alias("sum_value"))
    )


@register(
    "p4_hourly_partitioner",
    f"""{_REC}
    SELECT strftime(ts, '%Y-%m-%d-%H') AS encoded_partition,
           COUNT(*) AS n_records
    FROM rec GROUP BY 1""",
)
def p4_hourly_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = sink_records(spark, sf_dir)
    return (
        rec.groupBy(P.hourly_partition(F.col("ts")).alias("encoded_partition"))
        .agg(F.count(F.lit(1)).alias("n_records"))
    )


@register(
    "p4_duration_bucket",
    f"""{_REC}
    SELECT CAST((epoch_us(ts) // 1000) // 600000 AS BIGINT) AS bucket,
           COUNT(*) AS n_records, MIN("offset") AS first_offset
    FROM rec GROUP BY 1""",
)
def p4_duration_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = sink_records(spark, sf_dir)
    return (
        rec.groupBy(P.duration_bucket(F.col("ts"), 600_000).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_records"),
             F.min("offset").alias("first_offset"))
    )


@register(
    "p5_timestamp_extract",
    f"""{_REC}
    SELECT event_id, strftime(ts, '%Y-%m-%d-%H') AS record_hour,
           strftime(ts, '%Y-%m-%d') AS record_day
    FROM rec""",
)
def p5_timestamp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestamp.extractor=Record: the Kafka record timestamp drives
    # partitioning (TopicPartitionWriter.java:186-191); Wallclock has no
    # deterministic batch form (README.md:125) and lives in streaming/.
    rec = sink_records(spark, sf_dir)
    ts = P.extract_timestamp(F.col("ts"), None, "Record")
    return rec.select(
        "event_id",
        P.hourly_partition(ts).alias("record_hour"),
        P.daily_partition(ts).alias("record_day"),
    )


# --------------------------------------------------------------------------
# R1-R3 / P6 / C1: rotation + deterministic object keys
# (TopicPartitionWriter.java:231-237, 338-346, 268-285)
# --------------------------------------------------------------------------

def _files_oracle(encoded_sql: str, flush: int, ext: str,
                  tbucket_sql: str = "0") -> str:
    return f"""{_REC},
    enc AS (SELECT *, {encoded_sql} AS ep, {tbucket_sql} AS tb FROM rec),
    lagged AS (
      SELECT *,
             LAG(ep) OVER (PARTITION BY topic, partition ORDER BY "offset") AS prev_ep,
             LAG(tb) OVER (PARTITION BY topic, partition ORDER BY "offset") AS prev_tb
      FROM enc),
    seg AS (
      SELECT *, SUM(CASE WHEN prev_ep IS NULL OR prev_ep <> ep
                              OR prev_tb <> tb THEN 1 ELSE 0 END)
                OVER (PARTITION BY topic, partition ORDER BY "offset"
                      ROWS UNBOUNDED PRECEDING) - 1 AS segment
      FROM lagged),
    chunk AS (
      SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY topic, partition, segment
                                 ORDER BY "offset") - 1) / {flush}) AS BIGINT) AS file_idx
      FROM seg),
    files AS (
      SELECT topic, partition, ep AS encoded_partition, segment, file_idx,
             MIN("offset") AS start_offset, MAX("offset") AS end_offset,
             COUNT(*) AS record_count
      FROM chunk GROUP BY 1, 2, 3, 4, 5)
    SELECT 'topics/' || topic || '/' || encoded_partition || '/' || topic || '+'
           || CAST(partition AS VARCHAR) || '+'
           || lpad(CAST(start_offset AS VARCHAR), 10, '0') || '{ext}' AS object_key,
           topic, partition, encoded_partition, start_offset, end_offset,
           record_count
    FROM files"""


@register(
    "r1_size_rotation_files",
    _files_oracle("'partition=' || CAST(partition AS VARCHAR)", 100, ".parquet"),
)
def r1_size_rotation_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    # R1: flush.size=100 with the default partitioner — files split every
    # 100 records per TopicPartition, named by their first offset.
    rec = sink_records(spark, sf_dir)
    return rotation.committed_files(
        rec, P.default_partition(F.col("partition")), flush_size=100,
        extension=".parquet")


@register(
    "r2_interval_rotation_files",
    _files_oracle("strftime(ts, '%Y-%m-%d-%H')", 1000000, ".json",
                  tbucket_sql="CAST((epoch_us(ts) // 1000) // 3600000 AS BIGINT)"),
)
def r2_interval_rotation_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    # R2 (fixed-grid deviation documented in operators/rotation.py) +
    # R3: hourly encoded partition; rotate.interval.ms = 1h.
    rec = sink_records(spark, sf_dir)
    return rotation.committed_files(
        rec, P.hourly_partition(F.col("ts")), flush_size=1_000_000,
        extension=".json", rotate_interval_ms=3_600_000)


@register(
    "r1_interleaved_commit_files",
    f"""{_REC},
    enc AS (SELECT *, 'event_type=' || event_type AS ep FROM rec),
    grp AS (
      SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY topic, partition
                                ORDER BY "offset") - 1) / 100) AS BIGINT) AS seg
      FROM enc),
    files AS (
      SELECT topic, partition, ep AS encoded_partition, seg,
             MIN("offset") AS start_offset, MAX("offset") AS end_offset,
             COUNT(*) AS record_count
      FROM grp GROUP BY 1, 2, 3, 4)
    SELECT 'topics/' || topic || '/' || encoded_partition || '/' || topic || '+'
           || CAST(partition AS VARCHAR) || '+'
           || lpad(CAST(start_offset AS VARCHAR), 10, '0') || '.parquet' AS object_key,
           topic, partition, encoded_partition, start_offset, end_offset,
           record_count
    FROM files""",
)
def r1_interleaved_commit_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    # flush.size commit groups with rotate.interval.ms OFF: the reference
    # keeps one writer per encodedPartition open concurrently and a single
    # writtenRecordCount across them (TopicPartitionWriter.java:214-266,
    # 343-346) — interleaved event_type records within one commit group land
    # in one file per event_type, named by the first offset written to it.
    rec = sink_records(spark, sf_dir)
    return rotation.committed_files(
        rec, P.field_partition(F.col("event_type"), "event_type"),
        flush_size=100, extension=".parquet")


#: R2 anchored-rotation interval (4h keeps the oracle's recursion depth
#: ~180 per partition over the 30-day synthetic stream)
_ANCHOR_IV_MS = 4 * 3600 * 1000


@register(
    "r2_anchored_rotation_files",
    f"""WITH RECURSIVE rec AS ({SINK_RECORDS_SQL}),
    anch AS (
      SELECT topic, partition, MIN(ts) AS base_ts, 0 AS file_seq
      FROM rec GROUP BY topic, partition
      UNION ALL
      SELECT a.topic, a.partition,
             (SELECT MIN(r.ts) FROM rec r
              WHERE r.topic = a.topic AND r.partition = a.partition
                AND epoch_us(r.ts) - epoch_us(a.base_ts)
                    >= {_ANCHOR_IV_MS * 1000}) AS base_ts,
             a.file_seq + 1
      FROM anch a
      WHERE EXISTS (SELECT 1 FROM rec r
                    WHERE r.topic = a.topic AND r.partition = a.partition
                      AND epoch_us(r.ts) - epoch_us(a.base_ts)
                          >= {_ANCHOR_IV_MS * 1000})),
    assign AS (
      SELECT r.topic, r.partition, r."offset", MAX(a.file_seq) AS file_seq
      FROM rec r JOIN anch a
        ON a.topic = r.topic AND a.partition = r.partition
       AND a.base_ts <= r.ts
      GROUP BY 1, 2, 3)
    SELECT s.topic, s.partition, CAST(s.file_seq AS INT) AS file_seq,
           epoch_us(a.base_ts) AS base_ts_us,
           MIN(s."offset") AS start_offset, MAX(s."offset") AS end_offset,
           COUNT(*) AS record_count
    FROM assign s JOIN anch a
      ON a.topic = s.topic AND a.partition = s.partition
     AND a.file_seq = s.file_seq
    GROUP BY 1, 2, 3, 4""",
)
def r2_anchored_rotation_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    # R2 with the reference's exact per-file baseRecordTimestamp anchoring
    # (TopicPartitionWriter.java:338-346). The oracle's recursive CTE walks
    # anchors forward — valid because the synthetic stream's ts is monotonic
    # per partition (verified); the Spark operator implements the general
    # offset-order semantics.
    rec = sink_records(spark, sf_dir)
    return rotation.anchored_interval_files(rec, _ANCHOR_IV_MS)


@register(
    "r3_partition_change_rotation",
    f"""{_REC},
    enc AS (SELECT *, strftime(ts, '%Y-%m-%d-%H') AS ep FROM rec),
    lagged AS (SELECT *, LAG(ep) OVER (PARTITION BY topic, partition
                                       ORDER BY "offset") AS prev_ep FROM enc)
    SELECT topic, partition,
           CAST(SUM(CASE WHEN prev_ep IS NOT NULL AND prev_ep <> ep
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_rotations,
           COUNT(DISTINCT ep) AS n_encoded_partitions
    FROM lagged GROUP BY topic, partition""",
)
def r3_partition_change_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # R3 in isolation: how many partition-change rotations each
    # TopicPartitionWriter performs (TopicPartitionWriter.java:345-346).
    from pyspark.sql import Window

    rec = sink_records(spark, sf_dir).withColumn(
        "ep", P.hourly_partition(F.col("ts")))
    w = Window.partitionBy("topic", "partition").orderBy("offset")
    lagged = rec.withColumn("prev_ep", F.lag("ep").over(w))
    return lagged.groupBy("topic", "partition").agg(
        F.sum(F.when(F.col("prev_ep").isNotNull()
                     & (F.col("prev_ep") != F.col("ep")), 1)
              .otherwise(0)).alias("n_rotations"),
        F.countDistinct("ep").alias("n_encoded_partitions"),
    )


# --------------------------------------------------------------------------
# E2-E6: schema projection / JSON decode / JSON encode
# (TopicPartitionWriter.java:228; JsonFormat.java:37-46;
#  JsonRecordWriterProvider.java:71-85)
# --------------------------------------------------------------------------

#: R4 oracle interval: 7 h does NOT divide 24 h, so the day-aligned slot
#: restart (getNextTimeAdjustedByDay) is actually exercised
_R4_IV_MS = 7 * 3600 * 1000


@register(
    "r4_scheduled_rotation",
    f"""{_REC},
    clocked AS (
      SELECT topic, partition, "offset",
             CAST(epoch_us(ts + INTERVAL 42 SECOND) // 1000 AS BIGINT) AS ms
      FROM rec),
    sched AS (
      SELECT *,
             (ms // 86400000) * 86400000
             + ((ms - (ms // 86400000) * 86400000) // {_R4_IV_MS})
               * {_R4_IV_MS} AS schedule_bucket_ms
      FROM clocked)
    SELECT topic, partition, schedule_bucket_ms,
           MIN("offset") AS start_offset, MAX("offset") AS end_offset,
           COUNT(*) AS record_count
    FROM sched GROUP BY 1, 2, 3""",
)
def r4_scheduled_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # R4 with an injected wallclock (arrival = record ts + 42 s pipeline
    # delay): day-aligned 7 h schedule slots, deterministic and
    # oracle-checkable unlike the Trigger.ProcessingTime streaming form
    # (TopicPartitionWriter.java:359-384).
    rec = sink_records(spark, sf_dir)
    arrival = F.col("ts") + F.expr("INTERVAL 42 SECONDS")
    return rotation.scheduled_rotation_files(rec, _R4_IV_MS, clock=arrival)


@register(
    "e2_schema_projection",
    """SELECT event_id, event_type, CAST(value AS FLOAT) AS value_f,
              CAST('abc' AS VARCHAR) AS extra
       FROM events""",
)
def e2_schema_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project onto a target schema: type-widened value + a defaulted field
    # the source lacks (the FIXTURES.md F-6 evolution shape)
    ev = load_table(spark, sf_dir, "events").withColumn("value_f", F.col("value"))
    target = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value_f", T.FloatType()),
        T.StructField("extra", T.StringType()),
    ])
    return projection.project_to_schema(ev, target, defaults={"extra": "abc"})


@register(
    "e3_json_decode",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
       FROM events""",
)
def e3_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schemas.enable=false JSON decode of the value payload (E3); the
    # registry StructType stands in for the protobuf class registry (E4)
    ev = load_table(spark, sf_dir, "events")
    decoded = projection.decode_json_value(
        ev.select("event_id", "props"), "props",
        T.StructType([T.StructField("k", T.IntegerType())]))
    return decoded.select("event_id", "k")


@register(
    "e3_json_envelope_decode",
    """SELECT event_id,
              CAST(json_extract_string(
                   '{"schema":{"type":"struct"},"payload":' || props || '}',
                   '$.payload.k') AS INT) AS k
       FROM events""",
)
def e3_json_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Connect {"schema":...,"payload":...} envelope path
    # (TestDataWriterJson.java:187-211): wrap props into an envelope, then
    # decode through the envelope-aware branch
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.concat(F.lit('{"schema":{"type":"struct"},"payload":'),
                 F.col("props"), F.lit("}")).alias("value"))
    decoded = projection.decode_json_value(
        ev, "value",
        T.StructType([T.StructField("k", T.IntegerType())]), envelope=True)
    return decoded.select("event_id", "k")


@register(
    "e4_protobuf_decode",
    """SELECT event_id,
              (event_id % 2 = 0) AS p_bool,
              CAST(event_id % 1000 AS INT) AS p_int,
              event_id AS p_long,
              ROUND(value, 3) AS p_double,
              event_type AS m_et,
              event_type AS l1,
              event_type AS l2
       FROM events""",
)
def e4_protobuf_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # E4 native: encode each event as a protobuf TestMessage
    # (src/main/proto/parquet.proto:1-13) on the wire, decode it back, and
    # project the decoded fields — the JSON->protobuf->columnar path of
    # ParquetJsonRecordWriterProvider.java:85-122 without the jar. The
    # oracle asserts decode(encode(x)) == x field-by-field.
    from kafka_connect_oss_spark.formats import protobuf_py

    ev = load_table(spark, sf_dir, "events")
    msg = ev.select(
        "event_id",
        F.struct(
            (F.col("event_id") % 2 == 0).alias("boolean"),
            (F.col("event_id") % 1000).cast("int").alias("int"),
            F.col("event_id").alias("long"),
            F.col("value").cast("float").alias("float"),
            F.col("value").alias("double"),
            F.create_map(F.lit("et"), F.col("event_type")).alias("map1"),
            F.create_map(F.lit("u"), F.col("user_id").cast("string"))
            .alias("map2"),
            F.array(F.col("event_type")).alias("list1"),
            F.array(F.lit("x"), F.col("event_type")).alias("list2"),
        ).alias("msg"))
    enc = protobuf_py.proto_encode_col(protobuf_py.TEST_MESSAGE_SPEC)
    dec = protobuf_py.proto_decode_col(protobuf_py.TEST_MESSAGE_SPEC)
    decoded = msg.select("event_id", dec(enc(F.col("msg"))).alias("d"))
    return decoded.select(
        "event_id",
        F.col("d.boolean").alias("p_bool"),
        F.col("d.int").alias("p_int"),
        F.col("d.long").alias("p_long"),
        F.round(F.col("d.double"), 3).alias("p_double"),
        F.element_at("d.map1", F.lit("et")).alias("m_et"),
        F.element_at("d.list1", 1).alias("l1"),
        F.element_at("d.list2", 2).alias("l2"),
    )


@register(
    "e6_json_encode",
    """SELECT event_id,
              CAST(to_json(struct_pack(event_id := event_id,
                                  event_type := event_type)) AS VARCHAR)
                AS json_value
       FROM events""",
)
def e6_json_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return projection.encode_json_value(
        ev, ["event_id", "event_type"]).select("event_id", "json_value")


@register(
    "e3_json_dlq_routing",
    """SELECT CASE WHEN event_id % 10 = 0 THEN 'dead_letter' ELSE 'ok' END
             AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN NOT (event_id % 10 = 0)
                           THEN json_extract_string(props, '$.k') END)
                AS BIGINT) AS n_decoded_k
    FROM events GROUP BY 1""",
)
def e3_json_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """errors.tolerance=all + dead-letter routing (Connect framework
    semantics the reference sink runs under): every 10th record's JSON is
    corrupted with a leading '}{', the PERMISSIVE decode captures the
    raw value in the corrupt column instead of failing the task, and the
    batch splits into (ok, dead_letter) with per-status counts. The
    corruption is syntactic, so DuckDB mirrors the judgment as
    event-id arithmetic; n_decoded_k counts rows whose payload field
    actually decoded (ok rows only). Narrow projection + one tiny agg."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 10 == 0,
               F.concat(F.lit("}{"), F.col("props")))
        .otherwise(F.col("props")).alias("value"))
    decoded = projection.decode_json_with_dlq(
        ev, "value", T.StructType([T.StructField("k", T.IntegerType())]))
    return (decoded
            .groupBy(F.when(F.col(projection.CORRUPT_COL).isNotNull(),
                            F.lit("dead_letter")).otherwise(F.lit("ok"))
                     .alias("status"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.count("k").cast("long").alias("n_decoded_k")))


# Every operator family registers its rows on import; importing them here
# makes QUERIES complete after a bare ``import kafka_connect_oss_spark.registry``.
# They import this module's names above, so the imports must stay at the foot.
from kafka_connect_oss_spark import (registry_llm, registry_multimodal,  # noqa: E402,F401
                                     registry_relational, registry_streaming,
                                     registry_tpch)
