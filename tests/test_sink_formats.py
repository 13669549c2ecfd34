"""Golden round-trip tests for the deterministic file sink (C1/C2/F1-F7),
mirroring the reference suite's write -> independent read-back -> compare
strategy (SURVEY.md §5) plus the idempotent re-upload check
(TestDataWriterAvro.java:226-247)."""

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_oss_spark.config import PipelineConfig
from kafka_connect_oss_spark.functions import partition as P
from kafka_connect_oss_spark.operators.rotation import committed_files
from kafka_connect_oss_spark.sinks import commit_batch, read_committed
from kafka_connect_oss_spark.sources.batch import sink_records


@pytest.fixture()
def records(spark, sf_dir):
    return sink_records(spark, sf_dir)


def _default_enc():
    return P.default_partition(F.col("partition"))


def test_parquet_commit_matches_planned_files(spark, records, tmp_path):
    cfg = PipelineConfig(url=str(tmp_path), format="parquet", flush_size=100)
    keys = commit_batch(records, _default_enc(), cfg)
    planned = committed_files(records, _default_enc(), 100, ".parquet")
    expected = sorted(r.object_key for r in planned.collect())
    assert keys == expected
    for k in keys:
        assert os.path.isfile(tmp_path / k)
    back = read_committed(spark, str(tmp_path), cfg)
    assert back.count() == records.count()
    assert set(r.event_id for r in back.select("event_id").collect()) == \
        set(r.event_id for r in records.select("event_id").collect())


def test_json_gzip_roundtrip(spark, records, tmp_path):
    cfg = PipelineConfig(url=str(tmp_path), format="json",
                         compression="gzip", flush_size=200)
    keys = commit_batch(records, _default_enc(), cfg)
    assert keys and all(k.endswith(".json.gz") for k in keys)
    back = read_committed(spark, str(tmp_path), cfg)
    assert back.count() == records.count()


def test_bytearray_lines(spark, tmp_path):
    cfg = PipelineConfig(url=str(tmp_path), format="bytearray", flush_size=50)
    df = (sink_records_small(spark)
          .withColumn("value", F.concat_ws("|", "event_type", "key")))
    keys = commit_batch(df, _default_enc(), cfg)
    assert keys and all(k.endswith(".bin") for k in keys)
    back = read_committed(spark, str(tmp_path), cfg)
    assert back.count() == df.count()


def test_bytearray_custom_separator_and_extension(spark, tmp_path):
    # F5 config surface: format.bytearray.separator + .extension
    # (TestDataWriterByteArray.java:117-138)
    cfg = PipelineConfig(url=str(tmp_path), format="bytearray", flush_size=50,
                         byte_line_separator="#", byte_extension=".dat")
    df = (sink_records_small(spark)
          .withColumn("value", F.concat_ws("|", "event_type", "key")))
    keys = commit_batch(df, _default_enc(), cfg)
    assert keys and all(k.endswith(".dat") for k in keys)
    back = read_committed(spark, str(tmp_path), cfg)
    assert back.count() == df.count()
    assert sorted(r.value for r in back.collect()) == \
        sorted(r.value for r in df.select("value").collect())


def sink_records_small(spark):
    rows = [("events", i % 2, i // 2, f"k{i}", f"t{i % 3}") for i in range(100)]
    return spark.createDataFrame(
        rows, "topic string, partition int, offset long, key string, event_type string"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))


def test_idempotent_reupload_byte_identical(spark, records, tmp_path):
    # C2/S5: reprocessing the same offsets must reproduce identical objects
    cfg = PipelineConfig(url=str(tmp_path), format="json", flush_size=100)
    keys1 = commit_batch(records, _default_enc(), cfg)
    digests1 = {k: _md5(tmp_path / k) for k in keys1}
    keys2 = commit_batch(records, _default_enc(), cfg)
    assert keys1 == keys2
    assert digests1 == {k: _md5(tmp_path / k) for k in keys2}


def _md5(path):
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()


def test_hourly_partitioner_layout(spark, records, tmp_path):
    # P4/R3: directories are hour strings; every record lands in its hour
    cfg = PipelineConfig(url=str(tmp_path), format="parquet",
                         partitioner="hourly", flush_size=10_000)
    keys = commit_batch(records, P.hourly_partition(F.col("ts")), cfg)
    dirs = {k.split("/")[2] for k in keys}
    assert all(len(d) == 13 and d.startswith("2024-") for d in dirs)
    # no straggler staging dirs
    assert not glob.glob(str(tmp_path / "_staging*"))


def test_compaction_merges_small_files(spark, records, tmp_path):
    # SURVEY §7.4 #5: low flush.size explodes file counts; compaction
    # rewrites to target size with the same deterministic key scheme
    from kafka_connect_oss_spark.sinks import compact_committed

    cfg = PipelineConfig(url=str(tmp_path), format="parquet", flush_size=50)
    small_keys = commit_batch(records, _default_enc(), cfg)
    assert len(small_keys) >= 16  # many small files

    new_keys = compact_committed(spark, str(tmp_path), cfg,
                                 target_records_per_file=10_000)
    assert len(new_keys) < len(small_keys)
    back = read_committed(spark, str(tmp_path), cfg)
    assert back.count() == records.count()
    # same rows, same envelope content
    assert back.agg(F.sum("offset")).first()[0] == \
        records.agg(F.sum("offset")).first()[0]
    # idempotent: rerun produces identical keys and file set
    again = compact_committed(spark, str(tmp_path), cfg,
                              target_records_per_file=10_000)
    assert again == new_keys


def test_parquet_json_path_e4(spark, tmp_path):
    # E4: JSON payloads + registry StructType -> typed parquet (the
    # protobuf-class registry analog, ParquetJsonRecordWriterProvider.java)
    from pyspark.sql import types as T

    from kafka_connect_oss_spark.operators.projection import decode_json_value

    cfg = PipelineConfig(url=str(tmp_path), format="parquet-json",
                         flush_size=100)
    raw = sink_records_small(spark).withColumn(
        "value", F.concat(F.lit('{"k":'), (F.col("offset") % 7).cast("string"),
                          F.lit(',"tag":"x"}')))
    schema = T.StructType([T.StructField("k", T.IntegerType()),
                           T.StructField("tag", T.StringType())])
    decoded = decode_json_value(raw, "value", schema).drop("value")
    keys = commit_batch(decoded, _default_enc(), cfg)
    assert keys and all(k.endswith(".parquet") for k in keys)
    back = read_committed(spark, str(tmp_path), cfg)
    assert back.count() == raw.count()
    assert dict(back.dtypes)["k"] == "int"          # typed, not string
    assert back.agg(F.sum("k")).first()[0] == \
        decoded.agg(F.sum("k")).first()[0]


def test_multi_topic_directory_layout(spark, tmp_path):
    # P1/P6: records from several topics land under their own
    # <topics.dir>/<topic>/ prefix with independent offset sequences
    cfg = PipelineConfig(url=str(tmp_path), format="json", flush_size=30)
    a = sink_records_small(spark)
    b = sink_records_small(spark).withColumn("topic", F.lit("audit"))
    keys = commit_batch(a.unionByName(b), _default_enc(), cfg)
    topics = {k.split("/")[1] for k in keys}
    assert topics == {"events", "audit"}
    for t in topics:
        tkeys = [k for k in keys if k.split("/")[1] == t]
        assert all(k.split("/")[-1].startswith(t + "+") for k in tkeys)
    back = read_committed(spark, str(tmp_path), cfg, topic="audit")
    assert back.count() == 100


def test_promote_rejects_two_part_files_for_one_key(spark, tmp_path):
    # a staging dir holding two part files under one _file_id= cannot be
    # promoted to one object; the error names the key and both files
    from kafka_connect_oss_spark.sinks import STAGING_DIR, _promote_staged

    key = "topics/events/partition=0/events+0+0000000000.json"
    group = tmp_path / STAGING_DIR / f"_file_id={key.encode().hex()}"
    group.mkdir(parents=True)
    for name in ("part-00000.json", "part-00001.json"):
        (group / name).write_text("{}\n")
    with pytest.raises(RuntimeError, match="part files") as err:
        _promote_staged(spark, str(tmp_path / STAGING_DIR), str(tmp_path))
    msg = str(err.value)
    assert key in msg
    assert "part-00000.json" in msg and "part-00001.json" in msg
    assert not (tmp_path / key).exists()


def test_concurrent_commits_do_not_share_staging(spark, tmp_path,
                                                 monkeypatch):
    # two commit_batch calls on one URL: commit B runs start to finish
    # while commit A sits between its staged write and its renames; each
    # commit stages under its own dir, so both promote all their objects
    from kafka_connect_oss_spark import sinks

    cfg = PipelineConfig(url=str(tmp_path), format="json", flush_size=30)
    a = sink_records_small(spark)
    b = a.withColumn("topic", F.lit("audit"))
    promote = sinks._promote_staged
    b_keys: list[str] = []

    def promote_after_b(spark_, staging, out):
        monkeypatch.setattr(sinks, "_promote_staged", promote)
        b_keys.extend(commit_batch(b, _default_enc(), cfg))
        return promote(spark_, staging, out)

    monkeypatch.setattr(sinks, "_promote_staged", promote_after_b)
    a_keys = commit_batch(a, _default_enc(), cfg)
    assert a_keys and b_keys
    assert {k.split("/")[1] for k in a_keys} == {"events"}
    assert {k.split("/")[1] for k in b_keys} == {"audit"}
    for k in a_keys + b_keys:
        assert os.path.isfile(tmp_path / k)
    for topic in ("events", "audit"):
        assert read_committed(spark, str(tmp_path), cfg,
                              topic=topic).count() == 100
    assert not [d for d, _, _ in os.walk(tmp_path) if "_staging" in d]


def test_rotating_commit_plan_sorts_once_per_pass(spark, records, tmp_path,
                                                  monkeypatch):
    # hourly layout, rotation on: the cut is one window pass over
    # (topic, partition) ORDER BY offset — one Exchange + one Sort — and
    # the writer adds the _file_id Exchange + its sortWithinPartitions
    import re

    from kafka_connect_oss_spark import sinks
    from kafka_connect_oss_spark.streaming.pipeline import (
        encoded_partition_column)

    cfg = PipelineConfig(url=str(tmp_path), format="json", flush_size=100,
                         partitioner="hourly", rotate_interval_ms=600_000)
    plans: list[str] = []
    write = sinks._write_staged

    def capture(df, cfg_, path):
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")
        plans.append(df._jdf.queryExecution().explainString(jmode))
        write(df, cfg_, path)

    monkeypatch.setattr(sinks, "_write_staged", capture)
    commit_batch(records, encoded_partition_column(cfg), cfg)
    (plan,) = plans
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Sort$", plan, re.M)) == 2
