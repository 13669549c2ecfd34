"""Streaming ingest pipeline (SURVEY.md §3 lifecycle, R4, C2-C4, R5).

readStream (Kafka or file stand-in) -> partition-encode -> foreachBatch
deterministic commit (sinks.commit_batch). Mapping of reference semantics:

  micro-batch            == OSSSinkTask.put(batch)            (§3.2)
  checkpointLocation     == Kafka offset commit + WAL         (C2)
  Trigger.ProcessingTime == rotate.schedule.interval.ms       (R4)
  maxOffsetsPerTrigger   == pause/resume backpressure         (C3)
  task retry + restart   == RetriableException backoff        (C4)
  SchemaTracker          == schema-change rotation            (E1/R5)

Exactly-once: Spark replays an unacknowledged micro-batch after failure;
commit_batch derives object keys from (topic, partition, startOffset), so
the replay overwrites the same keys with the same records — the reference's
determinism guarantee (README.md:119-125) rather than a transaction log. The
replay rewrites byte-identical objects in every format, in the same process
or after a restart; a commit that fails part-way leaves no staging behind
(see sinks.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_oss_spark.config import PipelineConfig
from kafka_connect_oss_spark.functions import partition as P
from kafka_connect_oss_spark.operators.evolution import SchemaTracker
from kafka_connect_oss_spark.sinks import commit_batch


def encoded_partition_column(cfg: PipelineConfig) -> Column:
    """P2-P4 partitioner selection from config (the reference's
    partitioner.class registry, OSSSinkTask.java:124-140)."""
    ts = P.extract_timestamp(F.col("ts"), F.col(cfg.timestamp_field)
                             if cfg.timestamp_extractor == "RecordField" else None,
                             cfg.timestamp_extractor)
    if cfg.partitioner == "default":
        return P.default_partition(F.col("partition"))
    if cfg.partitioner == "field":
        return P.field_partition(F.col(cfg.partition_field_name),
                                 cfg.partition_field_name)
    if cfg.partitioner == "hourly":
        return P.hourly_partition(ts, cfg.timezone)
    if cfg.partitioner == "daily":
        return P.daily_partition(ts, cfg.timezone)
    if cfg.partitioner == "time":
        fmt = P.joda_to_spark_format(cfg.path_format)
        col = P.time_partition(ts, fmt, cfg.timezone)
        if cfg.partition_duration_ms > 0:
            col = F.concat(col, F.lit("/"),
                           P.duration_bucket(ts, cfg.partition_duration_ms)
                           .cast("string"))
        return col
    # P7: custom partitioners registered by name (plugins.py), the analog of
    # partitioner.class reflective loading (OSSSinkTask.java:124-140)
    from kafka_connect_oss_spark import plugins

    if cfg.partitioner in plugins.PARTITIONERS:
        return plugins.PARTITIONERS[cfg.partitioner](cfg)
    raise ValueError(cfg.partitioner)


@dataclass
class IngestPipeline:
    """Engine facade for the continuous ingest flow (A1 analog)."""

    cfg: PipelineConfig
    tracker: SchemaTracker = field(init=False)
    committed: list[str] = field(default_factory=list)
    epochs: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.tracker = SchemaTracker(self.cfg.schema_compatibility)

    # -- foreachBatch body -------------------------------------------------
    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if not batch.columns:
            return
        # E1/R5: one schema per DataFrame — rotation between differing
        # batches; mixed-schema *within* a batch arrives only via the
        # JSON-decode path, which splits by schema fingerprint upstream.
        self.tracker.observe("_stream", batch.schema)
        keys = commit_batch(batch, encoded_partition_column(self.cfg),
                            self.cfg)
        self.committed.extend(keys)
        self.epochs.append(epoch_id)

    # -- query builders ----------------------------------------------------
    def start(self, records: DataFrame,
              available_now: bool = False) -> StreamingQuery:
        writer = (records.writeStream
                  .foreachBatch(self.process_batch)
                  .outputMode("append"))
        if self.cfg.checkpoint_location:
            writer = writer.option("checkpointLocation",
                                   self.cfg.checkpoint_location)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif self.cfg.rotate_schedule_interval_ms > 0:  # R4 wallclock
            writer = writer.trigger(
                processingTime=f"{self.cfg.rotate_schedule_interval_ms} milliseconds")
        return writer.start()

    def run_batch(self, records: DataFrame) -> list[str]:
        """Batch-mode execution of the same pipeline (driver parity path)."""
        return commit_batch(records, encoded_partition_column(self.cfg),
                            self.cfg)
