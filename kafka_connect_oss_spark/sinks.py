"""Physical file sink (SURVEY.md §2 S3-S5, F1-F8, P6, C1-C2).

The reference writes each rotated record group to an object whose key
encodes lineage: topics/<topic>/<encodedPartition>/<topic>+<partition>+
<zero-padded startOffset>.<ext> (TopicPartitionWriter.java:268-285), and its
exactly-once story is *determinism*: same records -> same split points ->
same keys -> re-uploads overwrite byte-identically (README.md:119-125).

Spark's file sink names files by task/UUID, so the deterministic-key
contract is implemented as a two-phase commit, the same shape object-table
formats use (manifest-style):

  1. distributed write  — tag every record with its file id (operators/
     rotation.assign_files: pure window functions), repartition by file id,
     sortWithinPartitions by offset (intra-file order = offset order, like
     the reference's FIFO drain), write with partitionBy(_file_id) into
     this commit's own staging dir, ``_staging/<uuid>``. One output file
     per group, rows in offset order.
  2. metadata commit    — rename each staged file to its final object key
     (hex-decoded from the partition dir name). Renames are per-file
     metadata ops through the Hadoop FileSystem API (works for file://,
     hdfs://, oss:// alike) and are parallelizable; no data moves through
     the driver.

Re-running a batch reproduces keys and contents (delete-before-rename = the
reference's S5 idempotent re-upload). Within one process a replay is
byte-identical for every format, which the tests assert for JSON and Avro —
the same check as TestDataWriterAvro.java:226-247. After a restart JSON and
Avro objects are still byte-identical, but Parquet objects are only
content-identical (same rows, row order and schema): parquet-mr builds each
column chunk's footer ``encodings`` list from a hash set, so its order can
differ between JVM processes.
"""

from __future__ import annotations

import posixpath
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_oss_spark.config import PipelineConfig
from kafka_connect_oss_spark.functions.keys import object_key
from kafka_connect_oss_spark.operators.rotation import assign_files

STAGING_DIR = "_staging"


# --------------------------------------------------------------------------
# format writers (F1-F8): thin dispatch onto Spark's built-in writers
# --------------------------------------------------------------------------

def _write_staged(df: DataFrame, cfg: PipelineConfig, path: str) -> None:
    """Stage one batch, partitioned by _file_id, one file per group."""
    writer = (df.write.mode("overwrite")
              .partitionBy("_file_id"))
    for k, v in cfg.spark_writer_options().items():
        writer = writer.option(k, v)
    fmt = cfg.format
    if fmt in ("parquet", "parquet-json"):
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "avro":
        # F2: one container per file with a content-derived sync marker
        # (formats/avro_py), so replays stay byte-identical
        from kafka_connect_oss_spark.formats import avro_py

        avro_py.write_staged(df, path, cfg.avro_codec)
    elif fmt == "bytearray":
        # raw byte-lines (F5): value rendered as text lines with the
        # configured separator; gzip via writer option (F6)
        writer.option("lineSep", cfg.byte_line_separator).text(path)
    else:
        # A3: custom formats registered by name (plugins.py)
        from kafka_connect_oss_spark import plugins

        if fmt in plugins.FORMATS:
            plugins.FORMATS[fmt].write(df, path, cfg.spark_writer_options())
        else:
            raise ValueError(f"unknown format {cfg.format!r}")


def payload_columns(df: DataFrame, cfg: PipelineConfig) -> list[str]:
    """Columns that go into the object body (strip envelope/bookkeeping)."""
    drop = {"_file_id", "encoded_partition", "segment", "file_idx",
            "start_offset"}
    if cfg.format == "bytearray":
        return ["value"]
    return [c for c in df.columns if c not in drop]


# --------------------------------------------------------------------------
# deterministic batch commit (C1/C2)
# --------------------------------------------------------------------------

def tag_with_object_keys(records: DataFrame, encoded: Column,
                         cfg: PipelineConfig) -> DataFrame:
    """assign_files + full object key per record, as `_file_id` (hex)."""
    tagged = assign_files(
        records, encoded, cfg.flush_size,
        cfg.rotate_interval_ms if cfg.rotate_interval_ms > 0 else None,
        ts_col=cfg.timestamp_field)
    key = object_key(F.col("topic"), F.col("partition"),
                     F.col("start_offset"), F.col("encoded_partition"),
                     cfg.extension(), cfg.topics_dir,
                     cfg.filename_offset_zero_pad_width)
    return tagged.withColumn("_file_id", F.hex(F.encode(key, "UTF-8")))


def commit_batch(records: DataFrame, encoded: Column, cfg: PipelineConfig,
                 out_url: str | None = None) -> list[str]:
    """Write one (micro-)batch with deterministic object keys.

    Returns the list of committed object keys. Safe to re-run, and safe
    to run concurrently on one URL: each call stages under its own
    ``_staging/<uuid>`` dir, and final keys are replaced per file.
    """
    spark = records.sparkSession
    out = (out_url or cfg.url).rstrip("/")
    tagged = tag_with_object_keys(records, encoded, cfg)

    # The _file_id repartition sets the write's parallelism: without it AQE
    # merges the write into fewer tasks. In perfbench's ingest pass
    # (local[4], 6k-event batches, hourly, rotate 600 s, flush 1000) the
    # batch median rose from 1.5-1.9 s to 2.1-2.3 s without it.
    n_part = max(records.sparkSession.sparkContext.defaultParallelism, 1)
    staged = (tagged
              .repartition(n_part, "_file_id")
              .sortWithinPartitions("_file_id", "offset"))
    body_cols = payload_columns(staged, cfg)
    staging = posixpath.join(out, STAGING_DIR, uuid.uuid4().hex)
    _write_staged(staged.select("_file_id", *body_cols), cfg, staging)
    return _promote_staged(spark, staging, out)


#: concurrent metadata ops during commit phase 2 (renames are cheap
#: metadata RPCs on OSS/HDFS; 64 in flight keeps the phase O(files/64)
#: instead of O(files) serialized through one client)
_RENAME_POOL_SIZE = 64


def _promote_staged(spark: SparkSession, staging: str, out: str) -> list[str]:
    """Phase 2: rename staged part-files to their decoded object keys.

    The rename list is collected with one listStatus sweep, then executed
    from a thread pool: each rename is an independent per-file metadata op
    (delete-before-rename keeps S5 idempotency per file), so at
    reference-style flush sizes — millions of files per 100 TB — the phase
    is bounded by pool width, not file count, instead of serializing every
    RPC through the driver loop. py4j and Hadoop FileSystem clients are
    thread-safe; pool width 64 matches typical object-store admin QPS.
    """
    from concurrent.futures import ThreadPoolExecutor

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    staging_path = Path(staging)
    fs = staging_path.getFileSystem(conf)

    if not fs.exists(staging_path):
        return []

    renames: list[tuple] = []        # (src Path, dest Path, key)
    dest_parents: set[str] = set()
    for status in fs.listStatus(staging_path):
        name = status.getPath().getName()
        if not name.startswith("_file_id="):
            continue
        key = bytes.fromhex(name[len("_file_id="):]).decode("utf-8")
        part_files = [
            f.getPath() for f in fs.listStatus(status.getPath())
            if not f.getPath().getName().startswith(("_", "."))]
        # one file per group by construction (repartition on _file_id);
        # anything else means the staging dir was shared or left behind
        if len(part_files) != 1:
            names = sorted(p.getName() for p in part_files)
            raise RuntimeError(
                f"staged object {key!r} has {len(part_files)} part files "
                f"under {status.getPath().toString()}, expected 1: {names}")
        dest = Path(posixpath.join(out, key))
        dest_parents.add(posixpath.dirname(posixpath.join(out, key)))
        renames.append((part_files[0], dest, key))

    # parent dirs once per directory, not once per file
    for parent in dest_parents:
        fs.mkdirs(Path(parent))

    def _rename(item) -> str:
        src, dest, key = item
        if fs.exists(dest):          # S5: idempotent re-upload
            fs.delete(dest, False)
        fs.rename(src, dest)
        return key

    if renames:
        with ThreadPoolExecutor(
                min(_RENAME_POOL_SIZE, len(renames))) as pool:
            committed = list(pool.map(_rename, renames))
    else:
        committed = []
    fs.delete(staging_path, True)    # drop staging metadata
    parent = staging_path.getParent()
    if parent.getName() == STAGING_DIR:
        try:
            # non-recursive: a non-empty _staging holds another commit's
            # files, which that commit promotes and removes itself
            fs.delete(parent, False)
        except Py4JJavaError:
            pass
    return sorted(committed)


def compact_committed(spark: SparkSession, out_url: str, cfg: PipelineConfig,
                      topic: str = "events",
                      target_records_per_file: int = 1_000_000) -> list[str]:
    """Small-file compaction (SURVEY.md §7.4 #5): rewrite each encoded
    partition's committed objects into files of `target_records_per_file`,
    preserving offset order and deterministic offset-derived names.

    Low flush.size / frequent rotation at high partition counts produces
    the classic small-file explosion; a periodic compaction pass is how a
    100 TB layout stays scannable. The rewrite reuses commit_batch, so
    compacted files follow the same key scheme (topic+partition+startOffset)
    and the pass is idempotent — rerunning it is a no-op rename over
    identical bytes. Readers see partition dirs atomically per-file; run it
    when the partition is no longer being appended (past partitions under
    time-based layouts).

    Returns the new object keys. Requires the envelope columns
    (topic/partition/offset[/ts]) in the stored payload.
    """
    from dataclasses import replace

    existing = read_committed(spark, out_url, cfg, topic)
    big_cfg = replace(cfg, flush_size=target_records_per_file)
    # rewrite under the same url: deterministic keys mean overlapping names
    # are overwritten in place (S5), then stale small files are removed
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(posixpath.join(out_url.rstrip("/"), cfg.topics_dir, topic))
    fs = root.getFileSystem(conf)
    old_files: set[str] = set()
    if fs.exists(root):
        it = fs.listFiles(root, True)  # Hadoop RemoteIterator
        while it.hasNext():
            old_files.add(str(it.next().getPath().toUri().getPath()))

    from kafka_connect_oss_spark.streaming.pipeline import (
        encoded_partition_column)
    keys = commit_batch(existing, encoded_partition_column(big_cfg), big_cfg,
                        out_url)
    new_suffixes = tuple("/" + k for k in keys)
    stale = [f for f in sorted(old_files) if not f.endswith(new_suffixes)]
    if stale:
        # deletes are independent metadata ops — same pooling rationale as
        # _promote_staged
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(_RENAME_POOL_SIZE, len(stale))) as pool:
            list(pool.map(lambda f: fs.delete(Path(f), False), stale))
    return keys


def read_committed(spark: SparkSession, out_url: str, cfg: PipelineConfig,
                   topic: str = "events") -> DataFrame:
    """Independent read-back of committed objects (golden-check reader,
    §5 readRecords analog)."""
    glob = posixpath.join(out_url.rstrip("/"), cfg.topics_dir, topic,
                          "*", f"*{cfg.extension()}")
    if cfg.format in ("parquet", "parquet-json"):
        # schema-evolved partitions legitimately hold files with differing
        # (compatible) schemas — mergeSchema is the Spark read-side of E1/E2
        return spark.read.option("mergeSchema", "true").parquet(glob)
    if cfg.format == "json":
        return spark.read.json(glob)
    if cfg.format == "bytearray":
        # custom line separators must round-trip (F5 cfg:
        # format.bytearray.separator, ByteArrayRecordWriterProvider.java:44-92)
        reader = spark.read
        if cfg.byte_line_separator != "\n":
            reader = reader.option("lineSep", cfg.byte_line_separator)
        return reader.text(glob)
    if cfg.format == "avro":
        from kafka_connect_oss_spark.formats import avro_py

        return avro_py.read_avro(spark, glob)
    from kafka_connect_oss_spark import plugins

    if cfg.format in plugins.FORMATS:
        return plugins.FORMATS[cfg.format].read(spark, glob)
    raise ValueError(cfg.format)
