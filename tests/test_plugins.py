"""P7/A3 pluggable registries: a custom partitioner and a custom format
driven through the full deterministic-commit pipeline (plugins.py;
reference analog: reflective partitioner.class / format.class loading,
OSSSinkTask.java:100-140)."""

import posixpath

import pytest
from pyspark.sql import functions as F

from kafka_connect_oss_spark import plugins
from kafka_connect_oss_spark.config import PipelineConfig
from kafka_connect_oss_spark.plugins import (FormatPlugin, register_format,
                                             register_partitioner)
from kafka_connect_oss_spark.sinks import commit_batch, read_committed
from kafka_connect_oss_spark.sources.batch import sink_records
from kafka_connect_oss_spark.streaming.pipeline import encoded_partition_column


@pytest.fixture(scope="module", autouse=True)
def _plugins():
    @register_partitioner("user_bucket")
    def _user_bucket(cfg):
        return F.concat(F.lit("ub="), (F.col("user_id") % 4).cast("string"))

    # defined here, not at module level: the sink calls encoders on
    # executors, which cannot import this test module, so the function is
    # pickled by value
    def _encode_csv(table):
        import pyarrow as pa
        import pyarrow.csv

        sink = pa.BufferOutputStream()
        pyarrow.csv.write_csv(table, sink)
        return sink.getvalue().to_pybytes()

    register_format(FormatPlugin(
        name="csv",
        encode=_encode_csv,
        read=lambda spark, glob: (spark.read.option("header", "true")
                                  .option("inferSchema", "true").csv(glob)),
        extension=".csv",
    ))
    yield
    plugins.PARTITIONERS.pop("user_bucket", None)
    plugins.FORMATS.pop("csv", None)


def test_unregistered_names_still_rejected():
    with pytest.raises(ValueError):
        PipelineConfig(partitioner="nope")
    with pytest.raises(ValueError):
        PipelineConfig(format="nope")


def test_custom_partitioner_through_pipeline(spark, sf_dir, tmp_path):
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="json",
                         flush_size=1000, partitioner="user_bucket")
    rec = sink_records(spark, sf_dir)
    keys = commit_batch(rec, encoded_partition_column(cfg), cfg)
    assert keys and all("/ub=" in k for k in keys)
    back = read_committed(spark, cfg.url, cfg)
    assert back.count() == rec.count()


def test_custom_format_roundtrip(spark, sf_dir, tmp_path):
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="csv",
                         flush_size=2000)
    assert cfg.extension() == ".csv"
    rec = sink_records(spark, sf_dir).select(
        "topic", "partition", "offset", "event_id", "event_type")
    keys = commit_batch(rec, F.concat(F.lit("partition="),
                                      F.col("partition").cast("string")), cfg)
    assert keys and all(k.endswith(".csv") for k in keys)
    back = read_committed(spark, cfg.url, cfg)
    assert back.count() == rec.count()
    assert back.agg(F.sum("event_id")).first()[0] == \
        rec.agg(F.sum("event_id")).first()[0]
