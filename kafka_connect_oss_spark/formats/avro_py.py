"""Pure-Python Avro object-container format (SURVEY.md §2 F2, E5).

reference: AvroRecordWriterProvider.java:60-101 (DataFileWriter +
GenericDatumWriter, codec from avro.codec via CodecFactory) exercised by
TestDataWriterAvro.java:110-604 including the codec matrix at :154-167.

This module is the engine's one Avro path, for writing and reading alike.
It implements the public Avro 1.x specification directly
(https://avro.apache.org/docs/current/specification/):

* binary encoding — zigzag varint ints/longs, length-prefixed
  bytes/strings, IEEE-754 little-endian floats, block-encoded arrays/maps,
  union branch indexes, logical types (timestamp-micros, date, decimal);
* the object container layout — ``Obj\\x01`` magic, metadata map carrying
  avro.schema / avro.codec, 16-byte sync marker, record blocks framed as
  (count, byteSize, payload, sync);
* codecs ``null``, ``deflate`` (raw RFC-1951 via zlib, wbits=-15),
  ``snappy`` (pyarrow's raw block codec with the spec's big-endian
  CRC32-of-uncompressed suffix — the reference's explicitly tested
  codec, TestDataWriterAvro.java:154-167), ``bzip2``
  (stdlib bz2) and ``xz`` (stdlib lzma, FORMAT_XZ).

Scale posture: ``write_container`` is the sink's Avro encoder
(``sinks._encoder``), called on executors with one committed file's rows
(one Arrow group per object), so payload bytes never visit the driver;
the sink writes the bytes through ``pyarrow.fs``. Reads are
distributed too: ``binaryFile`` scan + ``mapInPandas`` decode (the driver
only peeks one header for the schema). The sync marker derives from
md5(schema ‖ codec ‖ payload), keeping re-uploads byte-identical — the
reference's determinism contract (README.md:119-125).

The spark-avro connector is deliberately not used, even where its jar is
present: it writes through Avro's Java ``DataFileWriter``, which draws a
random sync marker for every file, so a replayed batch would no longer
reproduce its objects byte for byte.
"""

from __future__ import annotations

import bz2
import datetime
import io
import json
import lzma
import struct
import zlib
from hashlib import md5

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
#: codecs the pure-Python writer supports (CodecFactory analog)
SUPPORTED_CODECS = ("null", "deflate", "snappy", "bzip2", "xz")
_BLOCK_RECORDS = 4096
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


# --------------------------------------------------------------------------
# Spark <-> Avro schema mapping
# --------------------------------------------------------------------------

def spark_to_avro_schema(schema: T.StructType,
                         name: str = "SinkRecord") -> dict:
    """Spark StructType -> Avro record schema (nullable -> union[null, T])."""
    n_records = [0]

    def conv(dt: T.DataType):
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # Reference timestamps are timezone-less epoch millis
            # (TopicPartitionWriter.java:186-191); both Spark flavors carry
            # naive-UTC wall values here (session TZ pinned UTC), and the
            # encoder's explicit UTC-epoch delta produces identical micros
            # for either, so one Avro logical type covers both.
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.DecimalType):
            return {"type": "bytes", "logicalType": "decimal",
                    "precision": dt.precision, "scale": dt.scale}
        if isinstance(dt, T.ArrayType):
            item = conv(dt.elementType)
            return {"type": "array",
                    "items": ["null", item] if dt.containsNull else item}
        if isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise TypeError("avro map keys must be strings")
            val = conv(dt.valueType)
            return {"type": "map",
                    "values": ["null", val] if dt.valueContainsNull else val}
        if isinstance(dt, T.StructType):
            n_records[0] += 1
            return {
                "type": "record",
                "name": f"{name}_r{n_records[0]}",
                "fields": [
                    {"name": f.name,
                     "type": ["null", conv(f.dataType)] if f.nullable
                     else conv(f.dataType)}
                    for f in dt.fields],
            }
        raise TypeError(f"no avro mapping for Spark type {dt}")

    top = conv(schema)
    top["name"] = name
    return top


def avro_to_spark_schema(avro) -> T.DataType:
    """Avro schema -> Spark type (the reader side)."""
    prim = {"null": T.NullType(), "boolean": T.BooleanType(),
            "int": T.IntegerType(), "long": T.LongType(),
            "float": T.FloatType(), "double": T.DoubleType(),
            "string": T.StringType(), "bytes": T.BinaryType()}
    if isinstance(avro, str):
        return prim[avro]
    if isinstance(avro, list):                      # union
        branches = [b for b in avro if b != "null"]
        if len(branches) != 1:
            raise TypeError(f"only unions of [null, T] supported: {avro}")
        return avro_to_spark_schema(branches[0])
    t = avro["type"]
    lt = avro.get("logicalType")
    if lt == "timestamp-micros":
        return T.TimestampType()
    if lt == "date":
        return T.DateType()
    if lt == "decimal":
        return T.DecimalType(avro["precision"], avro["scale"])
    if t in prim:
        return prim[t]
    if t == "record":
        return T.StructType([
            T.StructField(f["name"], avro_to_spark_schema(f["type"]),
                          _is_nullable(f["type"]))
            for f in avro["fields"]])
    if t == "array":
        return T.ArrayType(avro_to_spark_schema(avro["items"]),
                           _is_nullable(avro["items"]))
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_schema(avro["values"]),
                         _is_nullable(avro["values"]))
    if t == "enum":                                  # enum -> closed string set
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    raise TypeError(f"no Spark mapping for avro schema {avro}")


def _is_nullable(avro) -> bool:
    return isinstance(avro, list) and "null" in avro


# --------------------------------------------------------------------------
# binary encoding (Avro spec §Binary Encoding)
# --------------------------------------------------------------------------

def _write_long(buf: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63)                        # zigzag (arithmetic >>)
    while n & ~0x7F:
        buf.append((n & 0x7F) | 0x80)
        n >>= 7
    buf.append(n)


def _write_bytes(buf: bytearray, b: bytes) -> None:
    _write_long(buf, len(b))
    buf += b


def _is_null(v) -> bool:
    # a NaN in a nullable float column is written as null
    return v is None or (isinstance(v, float) and v != v)


def make_encoder(avro):
    """Compile an avro schema node into enc(buf, value)."""
    if isinstance(avro, str):
        if avro == "null":
            return lambda buf, v: None
        if avro == "boolean":
            return lambda buf, v: buf.append(1 if v else 0)
        if avro in ("int", "long"):
            return lambda buf, v: _write_long(buf, int(v))
        if avro == "float":
            return lambda buf, v: buf.extend(struct.pack("<f", float(v)))
        if avro == "double":
            return lambda buf, v: buf.extend(struct.pack("<d", float(v)))
        if avro == "string":
            return lambda buf, v: _write_bytes(buf, str(v).encode("utf-8"))
        if avro == "bytes":
            return lambda buf, v: _write_bytes(buf, bytes(v))
        raise TypeError(avro)
    if isinstance(avro, list):                      # union: [null, T]
        null_idx = avro.index("null") if "null" in avro else -1
        branches = [(i, make_encoder(b)) for i, b in enumerate(avro)
                    if b != "null"]
        if len(branches) != 1 or null_idx < 0:
            raise TypeError(f"only [null, T] unions supported: {avro}")
        val_idx, val_enc = branches[0]

        def enc_union(buf, v):
            if _is_null(v):
                _write_long(buf, null_idx)
            else:
                _write_long(buf, val_idx)
                val_enc(buf, v)
        return enc_union
    t = avro["type"]
    lt = avro.get("logicalType")
    if lt == "timestamp-micros":
        def enc_ts(buf, v):
            # an explicit epoch delta: .timestamp() would read a naive
            # datetime in the executor's local timezone and round through
            # float. Aware datetimes count from the UTC epoch, naive ones
            # (TIMESTAMP_NTZ) from the naive epoch.
            epoch = _EPOCH if v.tzinfo is None else _EPOCH_UTC
            _write_long(buf, (v - epoch) // datetime.timedelta(microseconds=1))
        return enc_ts
    if lt == "date":
        def enc_date(buf, v):
            days = getattr(v, "toordinal", lambda: None)()
            if days is None:
                raise TypeError(f"not a date: {v!r}")
            _write_long(buf, days - 719163)         # 1970-01-01 ordinal
        return enc_date
    if lt == "decimal":
        scale = avro["scale"]

        def enc_dec(buf, v):
            unscaled = int(v.scaleb(scale).to_integral_value())
            width = max(1, (unscaled.bit_length() + 8) // 8)
            _write_bytes(buf, unscaled.to_bytes(width, "big", signed=True))
        return enc_dec
    if t == "record":
        field_encs = [(f["name"], make_encoder(f["type"]))
                      for f in avro["fields"]]

        def enc_record(buf, v):
            for fname, fe in field_encs:
                fe(buf, v[fname])
        return enc_record
    if t == "array":
        item_enc = make_encoder(avro["items"])

        def enc_array(buf, v):
            items = list(v) if v is not None else []
            if items:
                _write_long(buf, len(items))
                for it in items:
                    item_enc(buf, it)
            _write_long(buf, 0)
        return enc_array
    if t == "map":
        val_enc = make_encoder(avro["values"])

        def enc_map(buf, v):
            entries = dict(v) if v is not None else {}
            if entries:
                _write_long(buf, len(entries))
                for k, val in entries.items():
                    _write_bytes(buf, str(k).encode("utf-8"))
                    val_enc(buf, val)
            _write_long(buf, 0)
        return enc_map
    if t == "enum":
        symbols = {s: i for i, s in enumerate(avro["symbols"])}
        return lambda buf, v: _write_long(buf, symbols[str(v)])
    if t == "fixed":
        size = avro["size"]

        def enc_fixed(buf, v):
            b = bytes(v)
            if len(b) != size:
                raise ValueError(f"fixed({size}) got {len(b)} bytes")
            buf += b
        return enc_fixed
    if t in ("int", "long", "float", "double", "string", "bytes", "boolean",
             "null"):
        return make_encoder(t)                      # annotated primitive
    raise TypeError(f"unsupported avro schema {avro}")


# --------------------------------------------------------------------------
# binary decoding
# --------------------------------------------------------------------------

class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def read_long(self) -> int:
        shift, acc = 0, 0
        while True:
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)              # un-zigzag

    def read_bytes(self) -> bytes:
        n = self.read_long()
        out = self.data[self.pos:self.pos + n]
        self.pos += n
        return out

    def read_raw(self, n: int) -> bytes:
        out = self.data[self.pos:self.pos + n]
        self.pos += n
        return out


def make_decoder(avro):
    """Compile an avro schema node into dec(reader) -> python value."""
    if isinstance(avro, str):
        if avro == "null":
            return lambda r: None
        if avro == "boolean":
            return lambda r: r.read_raw(1) == b"\x01"
        if avro in ("int", "long"):
            return lambda r: r.read_long()
        if avro == "float":
            return lambda r: struct.unpack("<f", r.read_raw(4))[0]
        if avro == "double":
            return lambda r: struct.unpack("<d", r.read_raw(8))[0]
        if avro == "string":
            return lambda r: r.read_bytes().decode("utf-8")
        if avro == "bytes":
            return lambda r: bytes(r.read_bytes())
        raise TypeError(avro)
    if isinstance(avro, list):
        branch_decs = [make_decoder(b) for b in avro]
        return lambda r: branch_decs[r.read_long()](r)
    t = avro["type"]
    lt = avro.get("logicalType")
    if lt == "timestamp-micros":
        from datetime import datetime, timedelta

        epoch = datetime(1970, 1, 1)

        def dec_ts(r):
            return epoch + timedelta(microseconds=r.read_long())
        return dec_ts
    if lt == "date":
        from datetime import date, timedelta

        def dec_date(r):
            return date(1970, 1, 1) + timedelta(days=r.read_long())
        return dec_date
    if lt == "decimal":
        from decimal import Decimal
        scale = avro["scale"]

        def dec_dec(r):
            raw = r.read_bytes()
            unscaled = int.from_bytes(raw, "big", signed=True)
            return Decimal(unscaled).scaleb(-scale)
        return dec_dec
    if t == "record":
        fields = [(f["name"], make_decoder(f["type"])) for f in avro["fields"]]
        return lambda r: {name: fd(r) for name, fd in fields}
    if t == "array":
        item_dec = make_decoder(avro["items"])

        def dec_array(r):
            out = []
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:                           # block with byte size
                    n = -n
                    r.read_long()
                out.extend(item_dec(r) for _ in range(n))
        return dec_array
    if t == "map":
        val_dec = make_decoder(avro["values"])

        def dec_map(r):
            out = {}
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    k = r.read_bytes().decode("utf-8")
                    out[k] = val_dec(r)
        return dec_map
    if t == "enum":
        symbols = avro["symbols"]
        return lambda r: symbols[r.read_long()]
    if t == "fixed":
        size = avro["size"]
        return lambda r: bytes(r.read_raw(size))
    if t in ("int", "long", "float", "double", "string", "bytes", "boolean",
             "null"):
        return make_decoder(t)
    raise TypeError(f"unsupported avro schema {avro}")


# --------------------------------------------------------------------------
# object container file (Avro spec §Object Container Files)
# --------------------------------------------------------------------------

def write_container(rows: list[dict], avro_schema: dict,
                    codec: str = "null") -> bytes:
    """Serialize rows into one Avro container file (bytes).

    Deterministic: identical (schema, codec, rows) => identical bytes —
    the sync marker is content-derived, not random, preserving the
    reference's byte-identical re-upload property (S5).
    """
    if codec not in SUPPORTED_CODECS:
        raise RuntimeError(
            f"avro codec {codec!r} not supported; "
            f"supported: {SUPPORTED_CODECS}")
    schema_json = json.dumps(avro_schema, sort_keys=True)
    enc = make_encoder(avro_schema)

    raw_blocks: list[tuple[int, bytes]] = []
    for i in range(0, max(len(rows), 1), _BLOCK_RECORDS):
        chunk = rows[i:i + _BLOCK_RECORDS]
        if not chunk:
            break
        block = bytearray()
        for row in chunk:
            enc(block, row)
        raw_blocks.append((len(chunk), bytes(block)))

    digest = md5(schema_json.encode())
    digest.update(codec.encode())
    for _, b in raw_blocks:
        digest.update(b)
    sync = digest.digest()                           # 16 bytes

    out = bytearray()
    out += MAGIC
    _write_long(out, 2)                              # metadata map: 2 entries
    _write_bytes(out, b"avro.schema")
    _write_bytes(out, schema_json.encode())
    _write_bytes(out, b"avro.codec")
    _write_bytes(out, codec.encode())
    _write_long(out, 0)                              # end of map
    out += sync
    for count, raw in raw_blocks:
        payload = _CODEC_ENCODE[codec](raw)
        _write_long(out, count)
        _write_long(out, len(payload))
        out += payload
        out += sync
    return bytes(out)


def _deflate(raw: bytes) -> bytes:
    c = zlib.compressobj(9, zlib.DEFLATED, -15)      # raw RFC-1951
    return c.compress(raw) + c.flush()


def _snappy_enc(raw: bytes) -> bytes:
    # Avro spec: snappy blocks carry a 4-byte BIG-ENDIAN CRC32 of the
    # UNCOMPRESSED data after the compressed bytes
    import pyarrow as pa

    return (pa.Codec("snappy").compress(raw, asbytes=True)
            + (zlib.crc32(raw) & 0xFFFFFFFF).to_bytes(4, "big"))


def _snappy_uncompressed_len(block: bytes) -> int:
    """The raw snappy preamble: the uncompressed length as a
    little-endian base-128 varint of at most 5 bytes (< 2**32)."""
    n = 0
    for i, b in enumerate(block[:5]):
        n |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            # no snappy element expands more than 64/3-fold, so a larger
            # claim is corrupt (and would size a huge output buffer)
            if n >= 1 << 32 or n > 22 * len(block):
                break
            return n
    raise ValueError("snappy block has a malformed length prefix")


def _snappy_dec(payload: bytes) -> bytes:
    import pyarrow as pa

    if len(payload) < 4:
        raise ValueError("snappy block too short for CRC suffix")
    block = payload[:-4]
    n = _snappy_uncompressed_len(block)
    try:
        raw = pa.Codec("snappy").decompress(block, decompressed_size=n,
                                            asbytes=True)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"corrupt snappy block: {e}") from e
    if (zlib.crc32(raw) & 0xFFFFFFFF).to_bytes(4, "big") != payload[-4:]:
        raise ValueError("snappy block CRC mismatch (corrupt container)")
    return raw


# block transforms per the Avro 1.11 container spec (all deterministic:
# fixed compression parameters, no timestamps in any of these formats)
_CODEC_ENCODE = {
    "null": lambda raw: raw,
    "deflate": _deflate,
    "snappy": _snappy_enc,
    "bzip2": lambda raw: bz2.compress(raw, 9),
    "xz": lambda raw: lzma.compress(raw, format=lzma.FORMAT_XZ, preset=6),
}
_CODEC_DECODE = {
    "null": lambda payload: payload,
    "deflate": lambda payload: zlib.decompress(payload, -15),
    "snappy": _snappy_dec,
    "bzip2": bz2.decompress,
    "xz": lzma.decompress,
}


def read_header(data: bytes) -> tuple[dict, str, int, bytes]:
    """Parse container header -> (schema, codec, body_offset, sync)."""
    if data[:4] != MAGIC:
        raise ValueError("not an avro container file (bad magic)")
    r = _Reader(data, 4)
    meta: dict[str, bytes] = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_bytes().decode("utf-8")
            meta[k] = bytes(r.read_bytes())
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = bytes(r.read_raw(16))
    return schema, codec, r.pos, sync


def read_container(data: bytes) -> tuple[dict, list]:
    """Parse a container file -> (schema, decoded records)."""
    schema, codec, pos, sync = read_header(data)
    dec = make_decoder(schema)
    records: list = []
    r = _Reader(data, pos)
    while r.pos < len(data):
        count = r.read_long()
        size = r.read_long()
        payload = r.read_raw(size)
        if bytes(r.read_raw(16)) != sync:
            raise ValueError("sync marker mismatch (corrupt container)")
        if codec not in _CODEC_DECODE:
            raise RuntimeError(f"cannot decode avro codec {codec!r}")
        payload = _CODEC_DECODE[codec](payload)
        br = _Reader(payload)
        for _ in range(count):
            records.append(dec(br))
    return schema, records


# --------------------------------------------------------------------------
# Spark plumbing: distributed read
# --------------------------------------------------------------------------

def read_avro(spark: SparkSession, glob: str) -> DataFrame:
    """Distributed container read: binaryFile scan + mapInPandas decode.

    The driver reads ONE header — the most recently written file's — to
    fix the target schema; record payloads are decoded on executors.
    Schema-evolved layouts (BACKWARD adds fields over time) therefore
    read like parquet's mergeSchema-lite: every file projects onto the
    newest schema, older files' missing fields decode as NULL and fields
    the target dropped are ignored. (A full union-of-all-schemas read
    would need every header — O(files) driver reads — which the newest-
    file rule avoids while matching BACKWARD evolution semantics.)
    """
    import pandas as pd

    from kafka_connect_oss_spark.shipping import ensure_package_on_executors
    ensure_package_on_executors(spark)

    files = spark.read.format("binaryFile").load(glob)
    head = (files.orderBy(F.col("modificationTime").desc(), F.col("path"))
            .select("content").limit(1).collect())
    if not head:
        raise FileNotFoundError(f"no avro files match {glob}")
    avro_schema, _, _, _ = read_header(bytes(head[0].content))
    out_schema = avro_to_spark_schema(avro_schema)
    names = [f.name for f in out_schema.fields]

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                _, records = read_container(bytes(content))
                # reindex onto the target schema: evolution-added fields
                # absent in old files come back as nulls, dropped fields
                # are discarded
                out = pd.DataFrame(records, columns=names)
                yield out.astype(object).where(out.notna(), None)

    return files.select("content").mapInPandas(decode, out_schema)
