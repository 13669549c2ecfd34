"""Pipeline configuration (SURVEY.md §2 A2).

Typed 1:1 mapping of the reference's config surface
(reference: OSSSinkConnectorConfiguration.java:58-377, README.md:161-181)
onto a dataclass consumed by the engine facade. Validation mirrors the
reference's ConfigDef validators/recommenders where they exist.
"""

from __future__ import annotations

from dataclasses import dataclass

#: formats the engine can write (reference: OSSSinkConnectorConfiguration.java:96-108, A3)
VALID_FORMATS = ("json", "avro", "parquet", "parquet-json", "bytearray")
#: wrapper compression for json/bytearray (reference: storage/CompressionType.java:38-74, F6)
VALID_COMPRESSION = ("none", "gzip")
#: avro container codecs (reference: AvroRecordWriterProvider.java:72 —
#: CodecFactory.fromString, which also accepts "xz"; the recommender lists
#: the first four)
VALID_AVRO_CODECS = ("null", "deflate", "snappy", "bzip2", "xz")
#: schema compatibility modes (reference: README.md:127-142, E1)
VALID_COMPATIBILITY = ("NONE", "BACKWARD", "FORWARD", "FULL")
#: partitioner surface (reference: OSSSinkConnectorConfiguration.java:110-118, P2-P4)
VALID_PARTITIONERS = ("default", "field", "time", "hourly", "daily")
#: timestamp extractors (reference: TopicPartitionWriter.java:186-191, README.md:125, P5)
VALID_TS_EXTRACTORS = ("Wallclock", "Record", "RecordField")


@dataclass
class PipelineConfig:
    """Every key of the reference's A2 config table, Spark-flavoured.

    Reference key (OSSSinkConnectorConfiguration.java) -> field here.
    """

    # --- destination (S3): oss.bucket / topics.dir; local paths allowed for tests
    url: str = "file:///tmp/kafka_connect_oss_spark_out"
    topics_dir: str = "topics"

    # --- source (S1)
    topics: tuple[str, ...] = ("events",)
    kafka_bootstrap_servers: str | None = None  # None => file/batch stand-in source

    # --- format (A3 / F1-F5)
    format: str = "parquet"
    # --- compression (F2, F6, F7)
    compression: str = "none"            # json/bytearray wrapper: none|gzip
    avro_codec: str = "null"             # avro container codec
    parquet_codec: str = "snappy"        # oss.parquet.compression.codec default snappy
    parquet_page_size: int = 128 * 1024           # oss.parquet.page.size (128 KB)

    # --- rotation (R1-R4)
    flush_size: int = 10_000                      # flush.size (README.md:169)
    rotate_interval_ms: int = -1                  # rotate.interval.ms (R2; -1 = off)
    rotate_schedule_interval_ms: int = -1         # rotate.schedule.interval.ms (R4; -1 = off)

    # --- partitioning (P2-P5)
    partitioner: str = "default"                  # partitioner.class analog
    partition_field_name: str | None = None       # partition.field.name (P3)
    partition_duration_ms: int = -1               # partition.duration.ms (P4)
    path_format: str = "'partition'=YYYY-MM-dd-HH"  # path.format (Joda pattern, P4)
    timezone: str = "UTC"                         # timezone (P4)
    timestamp_extractor: str = "Record"           # timestamp.extractor (P5)
    timestamp_field: str = "ts"                   # timestamp.field (RecordField, P5)

    # --- schema evolution (E1/E2)
    schema_compatibility: str = "NONE"            # schema.compatibility

    # --- file naming (P6/C1)
    filename_offset_zero_pad_width: int = 10      # FILENAME_OFFSET_ZERO_PAD_WIDTH_CONFIG
    byte_line_separator: str = "\n"               # format.bytearray.separator
    byte_extension: str = ".bin"                  # format.bytearray.extension

    # --- delivery (C2/C3)
    checkpoint_location: str | None = None        # Spark checkpoint == offset WAL
    max_offsets_per_trigger: int | None = None    # backpressure analog (C3)

    def __post_init__(self) -> None:
        def _check(value: str, valid: tuple[str, ...], key: str) -> None:
            if value not in valid:
                raise ValueError(f"{key}={value!r} not in {valid}")

        # P7/A3: names in the plugin registries are as valid as built-ins
        # (the reference's recommender accepts any loadable class)
        from kafka_connect_oss_spark import plugins

        _check(self.format, VALID_FORMATS + tuple(plugins.FORMATS), "format")
        _check(self.compression, VALID_COMPRESSION, "compression")
        _check(self.avro_codec, VALID_AVRO_CODECS, "avro_codec")
        _check(self.schema_compatibility, VALID_COMPATIBILITY, "schema_compatibility")
        _check(self.partitioner,
               VALID_PARTITIONERS + tuple(plugins.PARTITIONERS), "partitioner")
        _check(self.timestamp_extractor, VALID_TS_EXTRACTORS, "timestamp_extractor")
        if self.partitioner == "field" and not self.partition_field_name:
            raise ValueError("field partitioner requires partition_field_name")
        if self.flush_size <= 0:
            raise ValueError("flush_size must be > 0")

    def extension(self) -> str:
        """Object-key extension incl. compression suffix
        (reference: CompressionType.java:108-120, JsonRecordWriterProvider.java:42-44)."""
        builtin = {"json": ".json", "avro": ".avro", "parquet": ".parquet",
                   "parquet-json": ".parquet", "bytearray": self.byte_extension}
        if self.format not in builtin:
            from kafka_connect_oss_spark import plugins

            return plugins.FORMATS[self.format].extension
        base = builtin[self.format]
        if self.format in ("json", "bytearray") and self.compression == "gzip":
            return base + ".gz"
        return base
