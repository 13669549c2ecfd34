"""Physical file sink (SURVEY.md §2 S3-S5, F1-F8, P6, C1-C2).

The reference writes each rotated record group to an object whose key
encodes lineage: topics/<topic>/<encodedPartition>/<topic>+<partition>+
<zero-padded startOffset>.<ext> (TopicPartitionWriter.java:268-285), and its
exactly-once story is *determinism*: same records -> same split points ->
same keys -> re-uploads overwrite byte-identically (README.md:119-125).

A commit has two phases:

  1. executor encode — tag every record with its object key (operators/
     rotation.assign_files: windows over (topic, partition) ORDER BY
     offset). ``groupBy("topic", "partition", "_key").applyInArrow``
     reuses their distribution and hands each object's rows, sorted by
     offset, to the format's ``Arrow table -> bytes`` encoder, so a worker
     holds at most ``flush_size`` records. Each task writes the bytes once
     to a temp file through ``pyarrow.fs`` and moves it whole to
     ``_staging/<uuid>/<key>``, whatever other attempts of it do.
  2. driver move — move each key the job reported to its final place,
     64 moves in flight. A move replaces the key (``rename(2)`` on a
     local disk), so it never goes missing.

The encoders are deterministic, so a replayed batch rewrites the same keys
with byte-identical objects in every format, also after a restart (S5;
TestDataWriterAvro.java:226-247). A commit deletes its staging dir even
when it raises. One case escapes that: when a job fails, a phase-1 task
of it may still be writing while the driver deletes the dir. That task
can then leave a temp or staged file under ``_staging/<uuid>``, and
nothing removes it; the final keys are not touched. This case has no
test, because local mode runs no second task attempt.

Writes take a local path, ``file://`` or any ``pyarrow.fs`` URI (``s3://``,
``gs://``, ``hdfs://``), with credentials from its query or the AWS default
chain. OSS goes through its S3 API,
``s3://<bucket>/<prefix>?endpoint_override=oss-<region>.aliyuncs.com``;
``oss://`` has no ``pyarrow.fs`` scheme and fails before any job runs. On
object stores a move is a server-side copy plus a delete. Spark's readers
get the Hadoop form of the same URL (``_spark_url``: ``s3a://``, no query);
the endpoint and credentials for those reads go on the Spark session as
``spark.hadoop.fs.s3a.*`` settings.
"""

from __future__ import annotations

import functools
import gzip
import os
import posixpath
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_oss_spark.config import PipelineConfig
from kafka_connect_oss_spark.functions.keys import object_key
from kafka_connect_oss_spark.operators.rotation import assign_files

STAGING_DIR = "_staging"
#: per-file moves (commit) and deletes (compaction) in flight at once
_POOL_SIZE = 64


def _open_fs(path: str):
    """(pyarrow FileSystem, fs-local path) for local paths and URIs."""
    import pyarrow.fs as pafs

    if "://" in path and not path.startswith("file://"):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path.removeprefix("file://")


def _join(url: str, *parts: str) -> str:
    """``posixpath.join`` on the path of ``url``, keeping its ``?query``:
    ``s3://b/p?endpoint_override=h`` -> ``s3://b/p/x?endpoint_override=h``."""
    base, mark, query = url.partition("?")
    return posixpath.join(base, *parts) + mark + query


def _spark_url(url: str) -> str:
    """The Hadoop form of a sink URL, for Spark's readers: no ``?query``,
    and ``s3a://`` for ``s3://``."""
    base = url.partition("?")[0]
    if base.startswith("s3://"):
        return "s3a://" + base[len("s3://"):]
    return base


def _pooled(fn, items: list) -> None:
    """``fn`` on every item from up to ``_POOL_SIZE`` threads; every call
    runs, then the first error is raised."""
    with ThreadPoolExecutor(max(1, min(_POOL_SIZE, len(items)))) as pool:
        futures = [pool.submit(fn, item) for item in items]
    for future in futures:
        future.result()


# --------------------------------------------------------------------------
# format encoders (F1-F8): one ``Arrow table -> bytes`` function per format
# --------------------------------------------------------------------------

def _parquet_bytes(table, codec: str, page_size: int):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(table, sink,
                   compression="none" if codec == "uncompressed" else codec,
                   data_page_size=page_size)
    return sink.getvalue()


def _avro_bytes(table, avro_schema: dict, codec: str) -> bytes:
    from kafka_connect_oss_spark.formats import avro_py

    return avro_py.write_container(table.to_pylist(), avro_schema, codec)


def _lines_bytes(table, sep: bytes, gzipped: bool) -> bytes:
    """The ``_line`` column as separator-terminated lines (F5), gzipped
    with a zero mtime so the bytes depend on the lines only (F6)."""
    import pyarrow as pa

    # a null value (a Kafka tombstone) is an empty line
    lines = table.column("_line").cast(pa.binary()).fill_null(b"")
    data = sep.join(lines.to_pylist()) + sep
    return gzip.compress(data, mtime=0) if gzipped else data


def _encoder(df: DataFrame, cfg: PipelineConfig):
    """(columns, encode): the columns the format's encoder reads, by name,
    and the ``Arrow table -> bytes`` encoder itself."""
    body = [c for c in df.columns if c not in {
        "_key", "encoded_partition", "segment", "file_idx", "start_offset"}]
    fmt = cfg.format
    if fmt in ("json", "bytearray"):
        # lines are rendered in the JVM, one ``_line`` per record
        line = (F.col("value") if fmt == "bytearray"
                else F.to_json(F.struct(*body)))
        sep = cfg.byte_line_separator if fmt == "bytearray" else "\n"
        return {"_line": line}, functools.partial(
            _lines_bytes, sep=sep.encode("utf-8"),
            gzipped=cfg.compression == "gzip")
    cols = {c: F.col(c) for c in body}
    if fmt in ("parquet", "parquet-json"):
        return cols, functools.partial(_parquet_bytes, codec=cfg.parquet_codec,
                                       page_size=cfg.parquet_page_size)
    if fmt == "avro":
        # F2: one container per file with a content-derived sync marker
        from kafka_connect_oss_spark.formats import avro_py

        schema = avro_py.spark_to_avro_schema(df.select(*body).schema)
        return cols, functools.partial(_avro_bytes, avro_schema=schema,
                                       codec=cfg.avro_codec)
    # A3: custom formats registered by name (plugins.py)
    from kafka_connect_oss_spark import plugins

    if fmt in plugins.FORMATS:
        return cols, plugins.FORMATS[fmt].encode
    raise ValueError(f"unknown format {cfg.format!r}")


def _write_staged(df: DataFrame, cfg: PipelineConfig, fs,
                  root: str) -> list[str]:
    """Phase 1: encode each object of the key-tagged ``df`` once, in its
    own Arrow group, and write it to ``<root>/<key>`` through ``fs``.
    Returns the sorted keys the job's tasks reported."""
    from kafka_connect_oss_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    cols, encode = _encoder(df, cfg)
    names = list(cols)                # the closure must not hold Columns
    group = ["topic", "partition", "_key", "offset"]
    job = df.select(*group, *[c.alias(n) for n, c in cols.items()
                              if n not in group])
    made: set[str] = set()            # parent dirs, per task

    def write_object(table):
        import pyarrow as pa

        key = table.column("_key")[0].as_py()
        dest = posixpath.join(root, key)
        if posixpath.dirname(dest) not in made:
            fs.create_dir(posixpath.dirname(dest), recursive=True)
            made.add(posixpath.dirname(dest))
        data = encode(table.sort_by("offset").select(names))
        # a temp file per attempt: a zombie or speculative attempt never
        # truncates <key>; compression=None: "detect" would gzip a .gz key
        # a second time
        tmp = f"{dest}.{uuid.uuid4().hex}.tmp"
        with fs.open_output_stream(tmp, compression=None) as f:
            f.write(data)
        fs.move(tmp, dest)
        return pa.table({"key": [key]})

    # one group per object, on the cut's (topic, partition) distribution
    rows = (job.groupBy("topic", "partition", "_key")
            .applyInArrow(write_object, "key string").collect())
    return sorted(r.key for r in rows)


# --------------------------------------------------------------------------
# deterministic batch commit (C1/C2)
# --------------------------------------------------------------------------

def commit_batch(records: DataFrame, encoded: Column, cfg: PipelineConfig,
                 out_url: str | None = None) -> list[str]:
    """Write one (micro-)batch with deterministic object keys.

    Returns the list of committed object keys. Safe to re-run, and safe
    to run concurrently on one URL: each call stages under its own
    ``_staging/<uuid>`` dir, and final keys are replaced per file. No call
    leaves its staging dir behind, whether it returns or raises.
    """
    tagged = assign_files(
        records, encoded, cfg.flush_size,
        cfg.rotate_interval_ms if cfg.rotate_interval_ms > 0 else None,
        ts_col=cfg.timestamp_field)
    key = object_key(F.col("topic"), F.col("partition"),
                     F.col("start_offset"), F.col("encoded_partition"),
                     cfg.extension(), cfg.topics_dir,
                     cfg.filename_offset_zero_pad_width)
    # opened on the driver, so oss:// fails before any job runs
    fs, root = _open_fs((out_url or cfg.url).rstrip("/"))
    staging = posixpath.join(root, STAGING_DIR, uuid.uuid4().hex)
    try:
        keys = _write_staged(tagged.withColumn("_key", key), cfg, fs, staging)
        return _promote_staged(fs, staging, root, keys)
    finally:
        _drop_staging(fs, staging)


def _promote_staged(fs, staging: str, root: str,
                    keys: list[str]) -> list[str]:
    """Phase 2: move every staged object to its key; returns the keys.
    The moves run from a thread pool, so at millions of files per 100 TB
    the phase is bounded by pool width, not file count."""
    for parent in {posixpath.dirname(k) for k in keys}:
        fs.create_dir(posixpath.join(root, parent), recursive=True)
    _pooled(lambda k: fs.move(posixpath.join(staging, k),
                              posixpath.join(root, k)), keys)
    return keys


def _drop_staging(fs, staging: str) -> None:
    """Delete one commit's staging dir, then ``_staging`` if it is empty."""
    import pyarrow.fs as pafs

    if fs.get_file_info(staging).type != pafs.FileType.NotFound:
        fs.delete_dir(staging)
    if isinstance(fs, pafs.LocalFileSystem):
        try:
            # rmdir(2) keeps a _staging that holds another commit's files;
            # pyarrow.fs has no such delete, so an empty _staging stays on
            # hdfs:// (object stores have no empty dirs)
            os.rmdir(posixpath.dirname(staging))
        except OSError:
            pass


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
    and the pass is idempotent — rerunning it rewrites identical bytes.
    It is also crash-safe: a crash between the rewrite and the stale-object
    deletes leaves both generations on disk, so the rerun reads some
    records twice; it drops duplicate ``(topic, partition, offset)`` rows
    before it commits, and so still writes each record once.
    Readers see partition dirs atomically per-file; run it when the
    partition is no longer being appended (past partitions under time-based
    layouts).

    Returns the new object keys. Requires the envelope columns
    (topic/partition/offset[/ts]) in the stored payload.
    """
    from dataclasses import replace

    import pyarrow.fs as pafs

    existing = read_committed(spark, out_url, cfg, topic).dropDuplicates(
        ["topic", "partition", "offset"])
    big_cfg = replace(cfg, flush_size=target_records_per_file)
    # rewrite under the same url: deterministic keys mean overlapping names
    # are overwritten in place (S5), then stale small files are removed
    fs, root = _open_fs(_join(out_url, cfg.topics_dir, topic))
    selector = pafs.FileSelector(root, recursive=True, allow_not_found=True)
    old_files = [i.path for i in fs.get_file_info(selector)
                 if i.type == pafs.FileType.File]

    from kafka_connect_oss_spark.streaming.pipeline import (
        encoded_partition_column)
    keys = commit_batch(existing, encoded_partition_column(big_cfg), big_cfg,
                        out_url)
    new_suffixes = tuple("/" + k for k in keys)
    _pooled(fs.delete_file,
            [f for f in sorted(old_files) if not f.endswith(new_suffixes)])
    return keys


def read_committed(spark: SparkSession, out_url: str, cfg: PipelineConfig,
                   topic: str = "events") -> DataFrame:
    """Independent read-back of committed objects (golden-check reader,
    §5 readRecords analog)."""
    glob = _spark_url(_join(out_url, cfg.topics_dir, topic, "*",
                            f"*{cfg.extension()}"))
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
