"""F2/E5 Avro container format through the deterministic-commit pipeline,
mirroring TestDataWriterAvro.java:110-604: round-trip equality, the codec
matrix (:154-167 — null/deflate/snappy/bzip2/xz exercised), byte-identical
re-upload (:226-247), and the §1.3 type table through avro encoding.

Runs against the pure-Python container implementation (formats/avro_py)
when the spark-avro jar is absent — i.e. always, in this environment."""

import zlib
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_oss_spark.config import PipelineConfig
from kafka_connect_oss_spark.formats import avro_py
from kafka_connect_oss_spark.functions import partition as P
from kafka_connect_oss_spark.sinks import commit_batch, read_committed
from kafka_connect_oss_spark.sources.batch import sink_records


def _default_enc():
    return P.default_partition(F.col("partition"))


def test_avro_commit_roundtrip(spark, sf_dir, tmp_path):
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=500)
    rec = sink_records(spark, sf_dir)
    keys = commit_batch(rec, _default_enc(), cfg)
    assert keys and all(k.endswith(".avro") for k in keys)
    back = read_committed(spark, cfg.url, cfg)
    assert back.count() == rec.count()
    a = sorted(map(tuple, rec.select("partition", "offset", "event_id")
                   .collect()))
    b = sorted(map(tuple, back.select("partition", "offset", "event_id")
                   .collect()))
    assert a == b


def test_avro_deflate_codec_roundtrip(spark, sf_dir, tmp_path):
    # the reference's codec config case (TestDataWriterAvro.java:154-167)
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=1000, avro_codec="deflate")
    rec = sink_records(spark, sf_dir)
    keys = commit_batch(rec, _default_enc(), cfg)
    back = read_committed(spark, cfg.url, cfg)
    assert back.count() == rec.count()
    # container headers must carry the codec
    first = tmp_path / "out" / keys[0]
    schema, codec, _, _ = avro_py.read_header(first.read_bytes())
    assert codec == "deflate"
    assert schema["type"] == "record"


def test_avro_idempotent_reupload_byte_identical(spark, sf_dir, tmp_path):
    # determinism contract (README.md:119-125; TestDataWriterAvro.java:226-247):
    # re-running the same batch must reproduce identical bytes per key,
    # for the default codec and for snappy
    rec = sink_records(spark, sf_dir)
    for codec in ("deflate", "snappy"):
        out = tmp_path / codec
        cfg = PipelineConfig(url=str(out), format="avro",
                             flush_size=2000, avro_codec=codec)
        keys1 = commit_batch(rec, _default_enc(), cfg)
        before = {k: (out / k).read_bytes() for k in keys1}
        keys2 = commit_batch(rec, _default_enc(), cfg)
        assert keys1 == keys2, codec
        for k in keys1:
            assert (out / k).read_bytes() == before[k], (codec, k)


@pytest.mark.parametrize("codec", ["bzip2", "xz", "snappy"])
def test_avro_stdlib_codec_roundtrip(spark, sf_dir, tmp_path, codec):
    # remaining spec codecs (TestDataWriterAvro.java:154-167 codec matrix;
    # snappy is the reference's explicitly tested codec, here pyarrow's
    # raw block format + the spec's CRC32 suffix)
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=1500, avro_codec=codec)
    rec = sink_records(spark, sf_dir)
    keys = commit_batch(rec, _default_enc(), cfg)
    back = read_committed(spark, cfg.url, cfg)
    assert back.count() == rec.count()
    first = tmp_path / "out" / keys[0]
    schema, got_codec, _, _ = avro_py.read_header(first.read_bytes())
    assert got_codec == codec
    # blocks must really be compressed, not just labeled
    raw_cfg = PipelineConfig(url=str(tmp_path / "raw"), format="avro",
                             flush_size=1500, avro_codec="null")
    raw_keys = commit_batch(rec, _default_enc(), raw_cfg)
    assert (first.stat().st_size
            < (tmp_path / "raw" / raw_keys[0]).stat().st_size)


def test_avro_unknown_codec_gated(spark, sf_dir, tmp_path):
    # CodecFactory analog: unknown/unavailable codecs fail loudly
    # (zstandard is in the Avro spec but not implemented here); the typed
    # config rejects it at construction, like ConfigDef validators
    with pytest.raises(Exception, match="zstandard"):
        PipelineConfig(url=str(tmp_path / "out"), format="avro",
                       flush_size=5000, avro_codec="zstandard")
    with pytest.raises(Exception, match="zstandard"):
        avro_py.write_container([{"a": 1}], {
            "type": "record", "name": "r",
            "fields": [{"name": "a", "type": "long"}]}, codec="zstandard")


def test_avro_snappy_block_crc_rejected(spark):
    # Avro spec: snappy blocks end with a big-endian CRC32 of the
    # uncompressed data; a flipped payload byte must fail the read
    rows = [{"a": i} for i in range(50)]
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "a", "type": "long"}]}
    data = bytearray(avro_py.write_container(rows, schema, codec="snappy"))
    # corrupt one byte inside the block payload (past the header; the
    # container layout puts blocks after the 16-byte sync at header end)
    _, _, body_off, _ = avro_py.read_header(bytes(data))
    data[body_off + 4] ^= 0xFF
    with pytest.raises(Exception, match="snappy|corrupt|sync"):
        avro_py.read_container(bytes(data))


#: a 12-row snappy container written by the earlier pure-Python snappy
#: encoder (its blocks use literal and 1-byte-offset copy elements, which
#: pyarrow's encoder emits differently); the pyarrow-backed reader must
#: still decode it
_LEGACY_SNAPPY_CONTAINER = bytes.fromhex(
    "4f626a0104166176726f2e736368656d61de017b226669656c6473223a205b7b"
    "226e616d65223a20226964222c202274797065223a20226c6f6e67227d2c207b"
    "226e616d65223a2022776f7264222c202274797065223a2022737472696e6722"
    "7d5d2c20226e616d65223a202272222c202274797065223a20227265636f7264"
    "227d146176726f2e636f6465630c736e6170707900f47275d9559bdbdb33fc39"
    "baee7a4abd18a401960128000e736e617070792d02121a09000c61620416220b"
    "000c6162061a2a0d000c6162081e320f000861620a1e4100000c264100000e2e"
    "4100001036410000123e410000141e41000016264100491e234af47275d9559b"
    "dbdb33fc39baee7a4abd")


def test_avro_snappy_legacy_container_decodes():
    schema, rows = avro_py.read_container(_LEGACY_SNAPPY_CONTAINER)
    assert [f["name"] for f in schema["fields"]] == ["id", "word"]
    assert rows == [{"id": i, "word": "snappy-" + "ab" * (i % 5)}
                    for i in range(12)]


@pytest.mark.parametrize("block", [
    b"",                           # no length prefix at all
    b"\x80\x80",                   # varint runs off the end
    b"\xff\xff\xff\xff\xff\x01",   # varint longer than 5 bytes
    b"\xff\xff\xff\xff\x7f\x00",   # claims far more than it can expand to
    b"\x05\x0e\x01",               # copy before any literal: codec error
])
def test_avro_snappy_malformed_block_rejected(block):
    payload = block + (zlib.crc32(b"") & 0xFFFFFFFF).to_bytes(4, "big")
    with pytest.raises(ValueError, match="snappy"):
        avro_py._snappy_dec(payload)


def test_avro_type_table_roundtrip(spark, tmp_path):
    # §1.3 type table (TestDataWriterParquetJson.java:88-161 analog) through
    # avro encoding: primitives, logical types, array/map/struct, nulls
    rows = []
    for o in range(40):
        rows.append((
            "events", o % 2, o,
            o % 3 == 0, o, o * 10_000_000_000, float(o) / 4, o / 8,
            None if o % 7 == 0 else f"s{o}",
            bytes([o % 256, 255 - o % 256]),
            datetime(2024, 1, 1 + o % 28, 12, o % 60, 30, 250_000),
            date(2024, 1, 1 + o % 28),
            Decimal(o * 100 + o) / Decimal(100),
            [o, None, o + 2] if o % 5 else None,
            {"k1": f"v{o}", "k2": None},
            (o, f"n{o}"),
        ))
    schema = T.StructType([
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("c_bool", T.BooleanType(), False),
        T.StructField("c_int", T.IntegerType(), True),
        T.StructField("c_long", T.LongType(), False),
        T.StructField("c_float", T.FloatType(), True),
        T.StructField("c_double", T.DoubleType(), False),
        T.StructField("c_str", T.StringType(), True),
        T.StructField("c_bytes", T.BinaryType(), True),
        T.StructField("c_ts", T.TimestampType(), True),
        T.StructField("c_date", T.DateType(), True),
        T.StructField("c_dec", T.DecimalType(10, 2), True),
        T.StructField("c_arr", T.ArrayType(T.LongType(), True), True),
        T.StructField("c_map", T.MapType(T.StringType(), T.StringType(),
                                         True), True),
        T.StructField("c_struct", T.StructType([
            T.StructField("x", T.LongType(), True),
            T.StructField("y", T.StringType(), True)]), True),
    ])
    df = spark.createDataFrame(rows, schema)
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=8)
    keys = commit_batch(df, _default_enc(), cfg)
    assert len(keys) == 6                       # 20 rows/partition, flush 8
    back = read_committed(spark, cfg.url, cfg)
    cols = sorted(df.columns)

    def norm(r):
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, Row := type(r)):
                v = tuple(v)
            vals.append(str(v))
        return tuple(vals)

    a = sorted(norm(r) for r in df.collect())
    b = sorted(norm(r) for r in back.collect())
    assert a == b


def test_avro_streaming_ingest(spark, sf_dir, tmp_path):
    # the full reference flow with the avro format: file-stream ->
    # foreachBatch two-phase commit -> avro containers with offset-named
    # keys -> independent read-back (TestDataWriterAvro end-to-end analog)
    from kafka_connect_oss_spark.sources.files import events_file_stream
    from kafka_connect_oss_spark.streaming.pipeline import IngestPipeline

    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=600, avro_codec="deflate",
                         checkpoint_location=str(tmp_path / "ckpt"))
    pipe = IngestPipeline(cfg)
    q = pipe.start(events_file_stream(spark, sf_dir), available_now=True)
    q.awaitTermination(300)
    assert pipe.committed and all(k.endswith(".avro") for k in pipe.committed)
    back = read_committed(spark, cfg.url, cfg)
    n = sink_records(spark, sf_dir).count()
    assert back.count() == n
    assert back.select("offset").distinct().count() * \
        back.select("partition").distinct().count() >= n


def test_avro_interleaved_field_partitions(spark, sf_dir, tmp_path):
    # TestDataWriterAvro.java:140-153 mirror through the avro format with
    # rotation OFF: interleaved field-partitioned records share commit
    # groups, one container per (group, encodedPartition), rows in offset
    # order inside each container
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=400, partitioner="field",
                         partition_field_name="event_type")
    rec = sink_records(spark, sf_dir)
    from kafka_connect_oss_spark.streaming.pipeline import (
        encoded_partition_column)
    keys = commit_batch(rec, encoded_partition_column(cfg), cfg)
    assert keys and all("/event_type=" in k for k in keys)
    back = read_committed(spark, cfg.url, cfg)
    assert back.count() == rec.count()
    # per-container offset ordering (the reference's FIFO write order)
    first = tmp_path / "out" / keys[0]
    _, records = avro_py.read_container(first.read_bytes())
    offs = [r["offset"] for r in records]
    assert offs == sorted(offs)


def test_avro_corrupt_container_rejected(spark, sf_dir, tmp_path):
    # bad magic and broken sync must fail loudly, never decode garbage
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=1000)
    rec = sink_records(spark, sf_dir).limit(50)
    keys = commit_batch(rec, _default_enc(), cfg)
    data = bytearray((tmp_path / "out" / keys[0]).read_bytes())
    with pytest.raises(ValueError, match="magic"):
        avro_py.read_container(b"NOPE" + bytes(data[4:]))
    data[-1] ^= 0xFF                       # clobber the trailing sync
    with pytest.raises(ValueError, match="sync"):
        avro_py.read_container(bytes(data))


def test_avro_schema_evolution_read(spark, tmp_path):
    # BACKWARD evolution across commits: a later batch adds a field; the
    # reader targets the newest file's schema and older files' missing
    # fields decode as NULL (mergeSchema-lite, avro_py.read_avro)
    import time as _time

    v1 = spark.createDataFrame(
        [("events", 0, o, f"u{o}") for o in range(20)],
        "topic string, partition int, offset long, name string")
    v2 = spark.createDataFrame(
        [("events", 0, o, f"u{o}", o * 10) for o in range(20, 40)],
        "topic string, partition int, offset long, name string, score long")
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=50)
    commit_batch(v1, _default_enc(), cfg)
    _time.sleep(1.1)                     # newest-file rule needs mtime order
    commit_batch(v2, _default_enc(), cfg)
    back = read_committed(spark, cfg.url, cfg)
    assert set(back.columns) >= {"topic", "partition", "offset", "name",
                                 "score"}
    assert back.count() == 40
    old = back.where(F.col("offset") < 20)
    assert old.where(F.col("score").isNull()).count() == 20
    new = back.where(F.col("offset") >= 20)
    assert new.where(F.col("score") == F.col("offset") * 10).count() == 20


def test_avro_compaction(spark, sf_dir, tmp_path):
    # small-file compaction through the avro read+write paths: rewrite to
    # fewer containers, identical rows, idempotent keys (the parquet
    # compaction contract, exercised against the pure-Python format)
    from kafka_connect_oss_spark.sinks import compact_committed

    cfg = PipelineConfig(url=str(tmp_path), format="avro", flush_size=100)
    rec = sink_records(spark, sf_dir)
    small = commit_batch(rec, _default_enc(), cfg)
    assert len(small) >= 8
    new_keys = compact_committed(spark, str(tmp_path), cfg,
                                 target_records_per_file=10_000)
    assert len(new_keys) < len(small)
    back = read_committed(spark, str(tmp_path), cfg)
    assert back.count() == rec.count()
    assert back.agg(F.sum("offset")).first()[0] == \
        rec.agg(F.sum("offset")).first()[0]


def test_avro_container_parses_with_reference_layout(spark, sf_dir, tmp_path):
    # structural check of the public container spec: magic, metadata keys,
    # block framing with trailing sync per block
    cfg = PipelineConfig(url=str(tmp_path / "out"), format="avro",
                         flush_size=3000)
    rec = sink_records(spark, sf_dir).limit(500)
    keys = commit_batch(rec, _default_enc(), cfg)
    data = (tmp_path / "out" / keys[0]).read_bytes()
    assert data[:4] == b"Obj\x01"
    schema, codec, body_pos, sync = avro_py.read_header(data)
    assert codec == "null" and len(sync) == 16
    assert {f["name"] for f in schema["fields"]} >= {"topic", "partition",
                                                     "offset"}
    _, records = avro_py.read_container(data)
    assert 0 < len(records) <= 3000
    assert records == sorted(records, key=lambda r: r["offset"])
