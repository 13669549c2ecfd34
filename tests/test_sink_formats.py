"""Golden round-trip tests for the deterministic file sink (C1/C2/F1-F7),
mirroring the reference suite's write -> independent read-back -> compare
strategy (SURVEY.md §5) plus the idempotent re-upload check
(TestDataWriterAvro.java:226-247)."""

import glob
import hashlib
import os
import re

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


def test_compaction_rerun_after_crash_before_deletes(spark, records, tmp_path,
                                                    monkeypatch):
    # a crash between the compacted commit and the stale-object deletes
    # leaves the new objects next to the old small ones; the rerun reads
    # both and must still commit every record exactly once
    from kafka_connect_oss_spark import sinks

    cfg = PipelineConfig(url=str(tmp_path), format="parquet", flush_size=50)
    commit_batch(records, _default_enc(), cfg)
    pooled = sinks._pooled

    def crash_on_delete(fn, items):
        if getattr(fn, "__name__", "") == "delete_file":
            raise OSError("injected crash before the stale-object deletes")
        pooled(fn, items)

    monkeypatch.setattr(sinks, "_pooled", crash_on_delete)
    with pytest.raises(OSError, match="injected crash"):
        sinks.compact_committed(spark, str(tmp_path), cfg,
                                target_records_per_file=10_000)
    monkeypatch.setattr(sinks, "_pooled", pooled)
    keys = sinks.compact_committed(spark, str(tmp_path), cfg,
                                   target_records_per_file=10_000)

    n = records.count()
    back = read_committed(spark, str(tmp_path), cfg)
    assert back.count() == n
    assert back.select("partition", "offset").distinct().count() == n
    assert sorted(os.path.relpath(p, tmp_path) for p in glob.glob(
        str(tmp_path / "topics/*/*/*"))) == sorted(keys)


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


def test_one_url_serves_writes_and_spark_reads():
    # writes, moves and deletes go through pyarrow.fs, which takes the
    # documented OSS form with its endpoint in the query; Spark's readers
    # take the Hadoop form of the same URL (s3a://, no query), with the
    # glob joined in front of the query
    from kafka_connect_oss_spark.sinks import _join, _spark_url

    url = "s3://bucket/prefix?endpoint_override=oss-cn-hangzhou.aliyuncs.com"
    assert _join(url, "topics", "events") == (
        "s3://bucket/prefix/topics/events"
        "?endpoint_override=oss-cn-hangzhou.aliyuncs.com")
    assert _spark_url(_join(url, "topics", "events", "*", "*.json")) == (
        "s3a://bucket/prefix/topics/events/*/*.json")
    for local in ("/tmp/out/topics", "file:///tmp/out/topics",
                  "gs://bucket/out/topics"):
        assert _spark_url(local) == local


def test_file_url_commits_reads_and_compacts(spark, tmp_path):
    # one file:// URL for the commit, the read-back and the compaction
    from kafka_connect_oss_spark.sinks import compact_committed

    url = "file://" + str(tmp_path)
    cfg = PipelineConfig(url=url, format="json", flush_size=10)
    df = sink_records_small(spark)
    assert len(commit_batch(df, _default_enc(), cfg)) == 10
    assert read_committed(spark, url, cfg).count() == 100
    keys = compact_committed(spark, url, cfg, target_records_per_file=1000)
    assert len(keys) == 2
    assert sorted(os.path.relpath(p, tmp_path) for p in glob.glob(
        str(tmp_path / "topics/*/*/*"))) == keys
    assert read_committed(spark, url, cfg).count() == 100


def test_url_without_a_pyarrow_scheme_fails_before_any_job(spark):
    # oss:// has no pyarrow.fs scheme: the commit fails on the driver
    sc = spark.sparkContext
    cfg = PipelineConfig(url="oss://bucket/prefix", format="json")
    df = sink_records_small(spark)
    sc.setJobGroup("oss-url", "commit to an oss:// URL")
    try:
        with pytest.raises(Exception, match="oss"):
            commit_batch(df, _default_enc(), cfg)
        assert not sc.statusTracker().getJobIdsForGroup("oss-url")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_bytearray_null_value_is_an_empty_line(spark, tmp_path):
    # a tombstone (null value) is written as an empty line, not an error
    cfg = PipelineConfig(url=str(tmp_path), format="bytearray", flush_size=50)
    df = sink_records_small(spark).withColumn(
        "value", F.when(F.col("offset") % 5 != 0, F.col("key")))
    keys = commit_batch(df, _default_enc(), cfg)
    lines = []
    for k in keys:
        with open(tmp_path / k, "rb") as fh:
            data = fh.read()
        assert data.endswith(b"\n")
        lines += data[:-1].split(b"\n")
    assert sorted(lines) == sorted(
        (r.value or "").encode() for r in df.collect())
    assert lines.count(b"") == 20


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

    def promote_after_b(*args):
        monkeypatch.setattr(sinks, "_promote_staged", promote)
        b_keys.extend(commit_batch(b, _default_enc(), cfg))
        return promote(*args)

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


def _writer_plan(spark, monkeypatch, records, cfg, tmp_path) -> str:
    """Commit `records` and return the formatted plan of the writer job
    (the groupBy(...).applyInArrow frame)."""
    import shutil

    from pyspark.sql.group import GroupedData

    from kafka_connect_oss_spark.streaming.pipeline import (
        encoded_partition_column)

    plans: list[str] = []
    apply = GroupedData.applyInArrow

    def capture(self, func, schema):
        job = apply(self, func, schema)
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")
        plans.append(job._jdf.queryExecution().explainString(jmode))
        return job

    with monkeypatch.context() as m:
        m.setattr(GroupedData, "applyInArrow", capture)
        keys = commit_batch(records, encoded_partition_column(cfg), cfg)
    assert sorted(keys) == sorted(
        os.path.relpath(p, tmp_path)
        for p in glob.glob(str(tmp_path / "topics/*/*/*.json")))
    (plan,) = plans
    assert "FlatMapGroupsInArrow" in plan
    shutil.rmtree(tmp_path / "topics")
    return plan


def _count(node, plan):
    return len(re.findall(rf"^\(\d+\) {node}$", plan, re.M))


def test_rotating_commit_plan_sorts_once_per_pass(spark, records, tmp_path,
                                                  monkeypatch):
    # hourly layout, rotation on: the cut is one window pass over
    # (topic, partition) ORDER BY offset — one Exchange + one Sort — and
    # the writer's groupBy(topic, partition, _key) reuses that
    # distribution and adds one Sort, so that each object is one Arrow
    # group; with two topics as with one literal topic (the file stand-in
    # sources, whose topic Catalyst folds out of the window's keys)
    cfg = PipelineConfig(url=str(tmp_path), format="json", flush_size=100,
                         partitioner="hourly", rotate_interval_ms=600_000)
    two_topics = records.withColumn(
        "topic", F.when(F.col("event_id") % 2 == 0, "events")
        .otherwise("audit"))
    for batch in (two_topics, records):
        plan = _writer_plan(spark, monkeypatch, batch, cfg, tmp_path)
        assert _count("Exchange", plan) == 1
        assert _count("Sort", plan) == 2
        assert re.search(r"^Arguments: \[topic#\d+, partition#\d+, "
                         r"_key#\d+\], write_object", plan, re.M)


_FRESH_DRIVER = r"""
import hashlib, json, os, sys

sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())

from kafka_connect_oss_spark.config import PipelineConfig
from kafka_connect_oss_spark.functions import partition as P
from kafka_connect_oss_spark.sinks import commit_batch, read_committed

rows = [("events", i % 2, i // 2, f"k{i}", f"t{i % 3}", i * 0.5)
        for i in range(100)]
df = (spark.createDataFrame(rows, "topic string, partition int, offset long, "
                                  "key string, event_type string, x double")
      .withColumn("ts", F.timestamp_micros(F.lit(1704067200000000)
                                           + F.col("offset") * 1000))
      .withColumn("value", F.concat_ws("|", "event_type", "key")))
formats = {"parquet": {}, "json": {}, "jsongz": {"compression": "gzip"},
           "avro": {"avro_codec": "deflate"}, "bytearray": {}}
result = {"objects": {}, "rows": {}}
for name, opts in formats.items():
    cfg = PipelineConfig(url=os.path.join(sys.argv[2], name), flush_size=30,
                         format="json" if name == "jsongz" else name, **opts)
    for key in commit_batch(df, P.default_partition(F.col("partition")), cfg):
        with open(os.path.join(cfg.url, key), "rb") as fh:
            result["objects"][f"{name}/{key}"] = hashlib.sha256(
                fh.read()).hexdigest()
    result["rows"][name] = read_committed(spark, cfg.url, cfg).count()


def package_file(batches):
    import pandas as pd

    import kafka_connect_oss_spark

    for _ in batches:
        yield pd.DataFrame({"f": [kafka_connect_oss_spark.__file__]})


result["worker_package"] = df.limit(1).mapInPandas(
    package_file, "f string").first().f
print(json.dumps(result))
spark.stop()
"""


def test_fresh_processes_commit_identical_objects(tmp_path):
    # two driver processes, each started outside the checkout and without
    # it on PYTHONPATH, so their Python workers import the package from
    # the zip the driver ships; the same batch must give the same object
    # bytes in every format, Parquet included
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo)
    results = []
    for run in ("a", "b"):
        cwd = tmp_path / f"cwd_{run}"
        cwd.mkdir()
        proc = subprocess.run(
            [sys.executable, "-c", _FRESH_DRIVER, repo,
             str(tmp_path / f"out_{run}")],
            cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-4000:]
        results.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    a, b = results
    for res in results:
        package = res["worker_package"]
        assert ".zip" + os.sep + "kafka_connect_oss_spark" in package, package
        assert not package.startswith(repo), package
        assert res["rows"] == dict.fromkeys(
            ("parquet", "json", "jsongz", "avro", "bytearray"), 100)
    assert {k.split("/")[0] for k in a["objects"]} == {
        "parquet", "json", "jsongz", "avro", "bytearray"}
    assert a["objects"] == b["objects"]
