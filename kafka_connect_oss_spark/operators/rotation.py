"""File-rotation operators, batch-queryable form (SURVEY.md §2 R1-R4, P6).

The reference rotates the open file for a (topic, kafkaPartition) when:
  R1  writtenRecordCount >= flush.size          (TopicPartitionWriter.java:231-237)
  R2  recordTs - baseRecordTs >= rotate.interval.ms  (TopicPartitionWriter.java:338-346)
  R3  encodedPartition changed — ONLY when time-based rotation is active
      (rotateOnTime requires rotateIntervalMs > 0 && timestampExtractor,
      TopicPartitionWriter.java:343-346); with rotation off, one writer per
      encodedPartition stays open concurrently and flush.size counts records
      across all of them (writeRecord :243-266)
  R4  wallclock schedule                        (TopicPartitionWriter.java:359-384)

Batch re-expression: rotation is a *segmentation of the offset-ordered record
sequence per Kafka partition*, which Spark expresses as window functions over
Window.partitionBy(topic, partition).orderBy(offset) — one sort per Kafka
partition, embarrassingly parallel across partitions (exactly the reference's
per-TopicPartitionWriter parallelism), no global shuffle. With rotation on,
the reference's single offset-order walk (TopicPartitionWriter.java:214-285)
becomes running frames over that one spec: the R2/R3 boundary flag from two
lags, the segment as a running count of boundaries, the R1 file index from
the row position since the segment's first row, and the file's start offset
as the latest offset at which a file began.

R2 comes in two forms: ``assign_files`` uses fixed-grid time buckets
floor(epoch_ms/interval) — pure window functions, boundaries may differ from
the reference's by < 1 interval (SURVEY.md §7.4 #3) — and
``anchored_interval_files`` reproduces the reference's per-file
baseRecordTimestamp anchoring exactly via applyInPandas.
R4 (wallclock) is non-deterministic by design and has no batch form — it maps
to Trigger.ProcessingTime in the streaming layer (streaming/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_connect_oss_spark.functions.keys import object_key
from kafka_connect_oss_spark.functions.partition import duration_bucket


def assign_files(records: DataFrame, encoded: Column,
                 flush_size: int,
                 rotate_interval_ms: int | None = None,
                 ts_col: str = "ts",
                 with_start_offset: bool = True) -> DataFrame:
    """Tag every record with the file it belongs to.

    Adds columns:
      encoded_partition  — directory fragment (P2-P4 expression passed in)
      segment            — R3 (+R2) rotation segment index within the partition
      file_idx           — R1 chunk index within the segment (flush.size)
      start_offset       — first offset in the file == the offset the file
                           name carries (TopicPartitionWriter.java:268-285);
                           skipped when with_start_offset=False
                           (aggregating callers derive it as min(offset)
                           per file group instead)
    """
    df = records.withColumn("encoded_partition", encoded)
    w = Window.partitionBy("topic", "partition").orderBy("offset")

    if rotate_interval_ms and rotate_interval_ms > 0:
        # Time-based rotation active (rotateIntervalMs > 0 + timestamp
        # extractor): rotateOnTime fires on interval elapse OR encoded-
        # partition change (TopicPartitionWriter.java:338-346) and
        # commitFiles() closes everything, so files are contiguous runs.
        # Every column below is a running frame over the one spec `w`, so
        # the cut costs one sort per Kafka partition.
        run = w.rowsBetween(Window.unboundedPreceding, 0)
        ep = F.col("encoded_partition")
        tbucket = duration_bucket(F.col(ts_col), rotate_interval_ms)
        boundary = (F.lag(ep).over(w).isNull()
                    | (F.lag(ep).over(w) != ep)
                    | (F.lag(tbucket).over(w) != tbucket))
        df = (df.withColumn("_boundary", boundary)
              .withColumn("_rn", F.row_number().over(w)))
        df = df.withColumn(
            "segment",
            F.sum(F.col("_boundary").cast("int")).over(run) - 1)
        # position within the segment: rows since its first record
        seg_start = F.max(F.when(F.col("_boundary"), F.col("_rn"))).over(run)
        df = df.withColumn("_pos", F.col("_rn") - seg_start)
        df = df.withColumn("file_idx", F.floor(F.col("_pos") / flush_size))
        if with_start_offset:
            # a file's first record sits at _pos % flush_size == 0, and
            # offsets increase along `w`, so the latest such offset is the
            # current file's start
            first = F.when(F.col("_pos") % flush_size == 0, F.col("offset"))
            df = df.withColumn("start_offset", F.max(first).over(run))
        df = df.drop("_boundary", "_rn", "_pos")
    else:
        # Rotation OFF: encoded-partition change does NOT rotate. One writer
        # per encodedPartition stays open concurrently and a SINGLE
        # writtenRecordCount across all of them triggers commitFiles() at
        # flush.size (checkRotationOrAppend/writeRecord,
        # TopicPartitionWriter.java:214-266) — so a "segment" here is a
        # commit group of flush.size consecutive records per TopicPartition,
        # and the file identity is (commit group, encodedPartition): records
        # of the same encodedPartition interleaved within a commit group
        # land in ONE file whose start_offset is the first offset written to
        # that encodedPartition since the last commit.
        df = df.withColumn(
            "segment",
            F.floor((F.row_number().over(w) - 1) / flush_size).cast("long"))
        df = df.withColumn("file_idx", F.lit(0).cast("bigint"))
        if with_start_offset:
            wf = Window.partitionBy("topic", "partition", "encoded_partition",
                                    "segment", "file_idx")
            df = df.withColumn("start_offset", F.min("offset").over(wf))
    return df


def committed_files(records: DataFrame, encoded: Column, flush_size: int,
                    extension: str = ".parquet",
                    rotate_interval_ms: int | None = None,
                    topics_dir: str = "topics",
                    zero_pad_width: int = 10) -> DataFrame:
    """One row per committed file: object key + record count + offset range.

    This is the batch-queryable form of the commit path (C1): the set of
    files the reference would upload for this record set, with their exact
    deterministic names (README.md:119-125 exactly-once-by-determinism).
    """
    tagged = assign_files(records, encoded, flush_size, rotate_interval_ms,
                          with_start_offset=False)
    files = tagged.groupBy("topic", "partition", "encoded_partition",
                           "segment", "file_idx").agg(
        F.min("offset").alias("start_offset"),
        F.count(F.lit(1)).alias("record_count"),
        F.max("offset").alias("end_offset"),
    )
    return files.select(
        object_key(F.col("topic"), F.col("partition"), F.col("start_offset"),
                   F.col("encoded_partition"), extension, topics_dir,
                   zero_pad_width).alias("object_key"),
        "topic", "partition", "encoded_partition", "start_offset",
        "end_offset", "record_count",
    )


def anchored_interval_files(records: DataFrame,
                            rotate_interval_ms: int) -> DataFrame:
    """R2 with the reference's EXACT anchoring semantics: the interval clock
    starts at the first record of each file (baseRecordTimestamp), not on a
    fixed grid (TopicPartitionWriter.java:188-190,338-346).

    The running anchor makes this a sequential scan per TopicPartition —
    inexpressible as window functions — so it runs as ``applyInPandas``
    grouped by (topic, partition): one Arrow batch per Kafka partition, the
    same per-partition sequential order the reference's writer loop has.
    At scale the group is one micro-batch x one Kafka partition (bounded by
    maxOffsetsPerTrigger), exactly the state the reference holds in memory.

    Returns one row per file: (topic, partition, file_seq, base_ts_us,
    start_offset, end_offset, record_count).
    """
    import pandas as pd

    iv_us = rotate_interval_ms * 1000
    schema = ("topic string, partition int, file_seq int, base_ts_us long, "
              "start_offset long, end_offset long, record_count long")

    def split(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("offset")
        # normalize to ns first: pandas/Arrow may deliver datetime64[us],
        # where a bare astype('int64') would be silently 1000x off
        ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                 // 1000).to_numpy()
        offsets = pdf["offset"].to_numpy()
        out: dict[str, list] = {k: [] for k in
                                ("topic", "partition", "file_seq",
                                 "base_ts_us", "start_offset", "end_offset",
                                 "record_count")}
        base = None
        for t, o in zip(ts_us, offsets):
            if base is None or t - base >= iv_us:
                base = int(t)
                out["topic"].append(pdf["topic"].iloc[0])
                out["partition"].append(pdf["partition"].iloc[0])
                out["file_seq"].append(len(out["file_seq"]))
                out["base_ts_us"].append(base)
                out["start_offset"].append(int(o))
                out["end_offset"].append(int(o))
                out["record_count"].append(0)
            out["end_offset"][-1] = int(o)
            out["record_count"][-1] += 1
        return pd.DataFrame(out)

    return (records.select("topic", "partition", "offset", "ts")
            .groupBy("topic", "partition").applyInPandas(split, schema))


def scheduled_rotation_files(records: DataFrame,
                             rotate_schedule_interval_ms: int,
                             clock: Column | None = None,
                             clock_col: str = "ts") -> DataFrame:
    """R4 wallclock-scheduled rotation, batch-testable via an injected clock.

    reference: TopicPartitionWriter.java:359-384 — scheduled boundaries are
    wallclock times aligned to the start of day in the configured timezone
    (DateTimeUtils.getNextTimeAdjustedByDay), independent of record
    timestamps; the open files rotate when processing crosses a boundary.
    The streaming layer realizes this with Trigger.ProcessingTime
    (streaming/pipeline.py), which is non-deterministic by nature
    (README.md:125). For a deterministic batch form the wallclock is
    INJECTED as a column (each record's processing/arrival time): grouping
    by the day-aligned schedule slot of that clock yields exactly the file
    set the scheduled writer commits. Day alignment matters whenever the
    interval does not divide 24 h — slots restart at midnight, mirroring
    getNextTimeAdjustedByDay.

    Returns one row per file: (topic, partition, schedule_bucket_ms,
    start_offset, end_offset, record_count).
    """
    day_ms = 86_400_000
    clock_expr = clock if clock is not None else F.col(clock_col)
    # cast: unix_millis rejects TIMESTAMP_NTZ; value-preserving under the
    # pinned-UTC session (sources/batch.py normalize_timestamps)
    ms = F.unix_millis(clock_expr.cast("timestamp"))
    day_start = F.floor(ms / day_ms) * day_ms
    slot = F.floor((ms - day_start) / rotate_schedule_interval_ms)
    bucket = (day_start + slot * rotate_schedule_interval_ms).cast("long")
    return (records.withColumn("schedule_bucket_ms", bucket)
            .groupBy("topic", "partition", "schedule_bucket_ms")
            .agg(F.min("offset").alias("start_offset"),
                 F.max("offset").alias("end_offset"),
                 F.count(F.lit(1)).alias("record_count")))


def offsets_to_commit(records: DataFrame) -> DataFrame:
    """C2: offsetToCommit = last written offset + 1 per TopicPartition
    (reference: TopicPartitionWriter.java:330,396-400; OSSSinkTask.java:196-208).
    """
    return records.groupBy("topic", "partition").agg(
        (F.max("offset") + 1).alias("offset_to_commit"),
        F.count(F.lit(1)).alias("records_written"),
    )
