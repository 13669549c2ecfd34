"""Streaming ingest: file-source stand-in driving the foreachBatch
deterministic commit, with checkpoint-based exactly-once restart
(SURVEY.md §2 C2-C4, §7.2 step 7)."""

import os

import pytest

from kafka_connect_oss_spark.config import PipelineConfig
from kafka_connect_oss_spark.sinks import read_committed
from kafka_connect_oss_spark.sources.files import events_file_stream
from kafka_connect_oss_spark.streaming.pipeline import IngestPipeline


@pytest.fixture()
def stream(spark, sf_dir):
    return events_file_stream(spark, sf_dir)


def test_stream_commits_deterministic_files(spark, stream, sf_dir, tmp_path):
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="parquet",
                         flush_size=100,
                         checkpoint_location=str(tmp_path / "ckpt"))
    pipe = IngestPipeline(cfg)
    q = pipe.start(stream, available_now=True)
    q.awaitTermination(120)
    assert pipe.committed, "no files committed by the stream"
    back = read_committed(spark, cfg.url, cfg)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert back.count() == n_events


def test_stream_restart_is_exactly_once(spark, stream, sf_dir, tmp_path):
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="json",
                         flush_size=500,
                         checkpoint_location=str(tmp_path / "ckpt"))
    pipe = IngestPipeline(cfg)
    q = pipe.start(stream, available_now=True)
    q.awaitTermination(120)
    first_epochs = list(pipe.epochs)
    first_keys = sorted(set(pipe.committed))
    assert first_epochs

    # restart against the same checkpoint: nothing new to process
    stream2 = events_file_stream(spark, sf_dir)
    pipe2 = IngestPipeline(cfg)
    q2 = pipe2.start(stream2, available_now=True)
    q2.awaitTermination(120)
    assert pipe2.committed == []             # no replays, no duplicates

    back = read_committed(spark, cfg.url, cfg)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert back.count() == n_events
    assert sorted(set(first_keys)) == first_keys


def test_streaming_matches_batch_output(spark, stream, sf_dir, tmp_path):
    # determinism across execution modes: streaming commit == batch commit
    from pyspark.sql import functions as F

    from kafka_connect_oss_spark.sources.batch import sink_records

    cfg_s = PipelineConfig(url=str(tmp_path / "s"), format="parquet",
                           flush_size=250,
                           checkpoint_location=str(tmp_path / "ckpt"))
    pipe = IngestPipeline(cfg_s)
    q = pipe.start(stream, available_now=True)
    q.awaitTermination(120)

    cfg_b = PipelineConfig(url=str(tmp_path / "b"), format="parquet",
                           flush_size=250)
    batch_keys = IngestPipeline(cfg_b).run_batch(sink_records(spark, sf_dir))

    # availableNow may split the input into several micro-batches, so file
    # *sets* can differ at batch boundaries; with one source file they match
    assert sorted(set(pipe.committed)) == batch_keys


def test_transient_failure_recovers_exactly_once(spark, sf_dir, tmp_path):
    # C4: a failure AFTER some files uploaded but BEFORE the epoch commits
    # must replay the whole batch on restart, overwriting identical keys
    # (README.md:119-125 determinism; TopicPartitionWriter.java:157-175)
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="json",
                         flush_size=500,
                         checkpoint_location=str(tmp_path / "ckpt"))

    class FlakyPipeline(IngestPipeline):
        failed = False

        def process_batch(self, batch, epoch_id):
            super().process_batch(batch, epoch_id)  # files ARE uploaded
            if not FlakyPipeline.failed:
                FlakyPipeline.failed = True
                raise RuntimeError("injected transient sink failure")

    flaky = FlakyPipeline(cfg)
    q = flaky.start(events_file_stream(spark, sf_dir), available_now=True)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    first_keys = sorted(set(flaky.committed))
    assert first_keys  # the failing attempt did write objects

    # restart against the same checkpoint: the batch replays and the
    # deterministic keys overwrite byte-identically
    pipe2 = IngestPipeline(cfg)
    q2 = pipe2.start(events_file_stream(spark, sf_dir), available_now=True)
    q2.awaitTermination(120)
    assert sorted(set(pipe2.committed)) == first_keys  # same keys replayed

    back = read_committed(spark, cfg.url, cfg)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert back.count() == n_events  # no dupes, no loss


def _objects(url):
    """key -> bytes of every committed object under `url`."""
    out = {}
    for d, _, names in os.walk(url):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, url)] = fh.read()
    return out


def _staging_left(url):
    return [d for d, _, _ in os.walk(url) if "_staging" in d]


@pytest.mark.parametrize("fault", ["before_moves", "after_some_moves"])
def test_commit_crash_replays_byte_identical(spark, stream, tmp_path,
                                             monkeypatch, fault):
    # C: the commit dies between its staged write and its moves, or after
    # some of its moves; restarting from the checkpoint replays the batch
    # and leaves exactly the objects of a clean run, byte for byte
    import shutil

    from kafka_connect_oss_spark import sinks

    def config(name):
        return PipelineConfig(
            url=str(tmp_path / name / "out"), format="parquet",
            flush_size=500, checkpoint_location=str(tmp_path / name / "ckpt"))

    clean = config("clean")
    IngestPipeline(clean).start(stream, available_now=True) \
        .awaitTermination(120)
    expected = _objects(clean.url)
    assert len(expected) > 2

    crash = config("crash")
    if fault == "before_moves":
        def promote(*args):
            raise RuntimeError("injected crash before the moves")

        monkeypatch.setattr(sinks, "_promote_staged", promote)
        landed = set()
    else:
        # a directory at one key's final path: that move fails, the
        # others land
        blocked = sorted(expected)[len(expected) // 2]
        os.makedirs(os.path.join(crash.url, blocked, "in_the_way"))
        landed = set(expected) - {blocked}
    q = IngestPipeline(crash).start(stream, available_now=True)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert _objects(crash.url) == {k: expected[k] for k in landed}
    assert not _staging_left(crash.url)

    # clear the fault and replay from the checkpoint
    if fault == "before_moves":
        monkeypatch.undo()
    else:
        shutil.rmtree(os.path.join(crash.url, blocked))
    IngestPipeline(crash).start(stream, available_now=True) \
        .awaitTermination(120)
    assert _objects(crash.url) == expected
    assert not _staging_left(crash.url)


def test_rate_limited_multi_batch_ingest(spark, sf_dir, tmp_path):
    # C3: maxFilesPerTrigger=1 over a multi-file source -> several
    # micro-batches (epochs); offsets never overlap across epochs, totals
    # match, and a rerun from scratch reproduces the identical key set
    from kafka_connect_oss_spark.sources.batch import load_table

    src = str(tmp_path / "src")
    (load_table(spark, sf_dir, "events")
     .repartition(4).write.mode("overwrite").parquet(src))

    def run(tag):
        from pyspark.sql import functions as F

        from kafka_connect_oss_spark.sources.batch import N_KAFKA_PARTITIONS

        cfg = PipelineConfig(url=str(tmp_path / f"out{tag}"), format="json",
                             flush_size=10_000,
                             checkpoint_location=str(tmp_path / f"ckpt{tag}"))
        pipe = IngestPipeline(cfg)
        schema = spark.read.parquet(src).schema
        ev = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
        if dict(ev.dtypes).get("ts") == "bigint":
            ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        stream = ev.select(
            F.lit("events").alias("topic"),
            (F.col("event_id") % N_KAFKA_PARTITIONS).cast("int").alias("partition"),
            F.floor(F.col("event_id") / N_KAFKA_PARTITIONS).cast("bigint").alias("offset"),
            "ts", F.col("user_id").cast("string").alias("key"),
            "event_id", "user_id", "event_type", "value", "props")
        q = pipe.start(stream, available_now=True)
        q.awaitTermination(180)
        return cfg, pipe

    cfg1, pipe1 = run("a")
    assert len(set(pipe1.epochs)) >= 2        # really multiple micro-batches
    back = read_committed(spark, cfg1.url, cfg1)
    n_events = load_table(spark, sf_dir, "events").count()
    assert back.count() == n_events
    # offset ranges across committed files never overlap per partition
    import re
    by_part: dict[str, list] = {}
    for k in sorted(set(pipe1.committed)):
        m = re.search(r"/events\+(\d+)\+(\d+)\.json$", k)
        by_part.setdefault(m.group(1), []).append(int(m.group(2)))
    for p, starts in by_part.items():
        assert starts == sorted(set(starts))


def test_kafka_stream_plan_contract(spark):
    """S1 contract pin WITHOUT a broker (none in the sandbox): kafka_stream
    must ask for format('kafka') with the configured bootstrap/subscribe/
    backpressure options and project the Kafka source's columns into the
    SinkRecord envelope (FIXTURES.md F-1: topic, partition, offset, ts,
    key, value). Drift in either the options dict or the envelope schema
    fails here. Reference: OSSSinkTask.java:160-175 (framework poll loop)."""
    from kafka_connect_oss_spark.config import PipelineConfig
    from kafka_connect_oss_spark.sources.kafka import kafka_stream

    class FakeKafkaReader:
        """Stands in for spark.readStream: records format/options, serves
        a frame with the Kafka source's documented schema on load()."""

        def __init__(self, real_spark):
            self._spark = real_spark
            self.fmt = None
            self.opts = {}

        def format(self, fmt):
            self.fmt = fmt
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self):
            return self._spark.createDataFrame(
                [],
                "key binary, value binary, topic string, partition int, "
                "offset long, timestamp timestamp, timestampType int")

    class FakeSpark:
        def __init__(self, real_spark):
            self.reader = FakeKafkaReader(real_spark)

        @property
        def readStream(self):
            return self.reader

    cfg = PipelineConfig(url="/tmp/unused", format="parquet",
                         topics=("events", "audit"),
                         kafka_bootstrap_servers="broker-1:9092,broker-2:9092",
                         max_offsets_per_trigger=12345)
    fake = FakeSpark(spark)
    env = kafka_stream(fake, cfg)

    assert fake.reader.fmt == "kafka"
    assert fake.reader.opts == {
        "kafka.bootstrap.servers": "broker-1:9092,broker-2:9092",
        "subscribe": "events,audit",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "12345",
    }
    assert [(f.name, f.dataType.simpleString()) for f in env.schema.fields] == [
        ("topic", "string"), ("partition", "int"), ("offset", "bigint"),
        ("ts", "timestamp"), ("key", "string"), ("value", "binary")]

    # no broker configured -> hard error, not a silent fallback
    import pytest as _pytest
    with _pytest.raises(ValueError):
        kafka_stream(fake, PipelineConfig(url="/tmp/unused", format="parquet"))
