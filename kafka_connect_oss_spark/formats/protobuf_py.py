"""Pure-Python protobuf wire-format codec (SURVEY.md §2 E4 native path).

reference: ParquetJsonRecordWriterProvider.java:85-122 parses the JSON
payload into a protobuf ``Message`` (schema class per topic from
``parquet.protobuf.schema.class``) and writes it with ProtoParquetWriter;
the schema is src/main/proto/parquet.proto:1-13 (TestMessage: optional
bool/int32/int64/float/double, two map<string,string>, two repeated
string).

Neither spark-protobuf jars nor the google.protobuf Python package exist in
this environment, so this module implements the public protobuf wire
format (https://protobuf.dev/programming-guides/encoding/) for declared
field specs:

* varint (bool/int32/int64, negatives as 64-bit two's complement),
* fixed32 (float) / fixed64 (double), IEEE-754 little-endian,
* length-delimited (string/bytes),
* ``repeated`` as one tagged element per value,
* ``map<string,string>`` as repeated entry submessages (key=1, value=2),
* unknown-field skipping on decode (forward compatibility).

Spark integration is Arrow-batched pandas UDFs — bytes in/out per record,
no JVM round-trip, executor-side only. This is the only protobuf path; the
Catalyst-native ``from_protobuf``/``to_protobuf`` would need the
spark-protobuf jar and a compiled descriptor set.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import types as T

_VARINT_TYPES = ("bool", "int32", "int64")
_LEN_TYPES = ("string", "bytes")


@dataclass(frozen=True)
class ProtoField:
    """One declared field of a message (mirror of a .proto line)."""

    number: int
    name: str
    type: str                     # bool|int32|int64|float|double|string|bytes
    repeated: bool = False
    is_map: bool = False          # map<string,string>


#: mirror of src/main/proto/parquet.proto:1-13 (TestMessage)
TEST_MESSAGE_SPEC = (
    ProtoField(1, "boolean", "bool"),
    ProtoField(2, "int", "int32"),
    ProtoField(3, "long", "int64"),
    ProtoField(4, "float", "float"),
    ProtoField(5, "double", "double"),
    ProtoField(6, "map1", "string", is_map=True),
    ProtoField(7, "map2", "string", is_map=True),
    ProtoField(8, "list1", "string", repeated=True),
    ProtoField(9, "list2", "string", repeated=True),
)


# --------------------------------------------------------------------------
# wire-format primitives
# --------------------------------------------------------------------------

def _write_varint(buf: bytearray, n: int) -> None:
    n &= 0xFFFFFFFFFFFFFFFF                     # 64-bit two's complement
    while n > 0x7F:
        buf.append((n & 0x7F) | 0x80)
        n >>= 7
    buf.append(n)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return acc, pos


def _tag(number: int, wire_type: int) -> int:
    return (number << 3) | wire_type


def _wire_type(ftype: str) -> int:
    if ftype in _VARINT_TYPES:
        return 0
    if ftype == "double":
        return 1
    if ftype in _LEN_TYPES:
        return 2
    if ftype == "float":
        return 5
    raise TypeError(ftype)


def _encode_scalar(buf: bytearray, ftype: str, v) -> None:
    if ftype == "bool":
        _write_varint(buf, 1 if v else 0)
    elif ftype in ("int32", "int64"):
        _write_varint(buf, int(v))
    elif ftype == "float":
        buf += struct.pack("<f", float(v))
    elif ftype == "double":
        buf += struct.pack("<d", float(v))
    elif ftype == "string":
        b = str(v).encode("utf-8")
        _write_varint(buf, len(b))
        buf += b
    elif ftype == "bytes":
        b = bytes(v)
        _write_varint(buf, len(b))
        buf += b
    else:
        raise TypeError(ftype)


def _decode_scalar(ftype: str, data: bytes, pos: int):
    if ftype == "bool":
        n, pos = _read_varint(data, pos)
        return bool(n), pos
    if ftype == "int32":
        n, pos = _read_varint(data, pos)
        if n >= 1 << 63:
            n -= 1 << 64                        # sign-extend
        return int(n), pos
    if ftype == "int64":
        n, pos = _read_varint(data, pos)
        if n >= 1 << 63:
            n -= 1 << 64
        return int(n), pos
    if ftype == "float":
        return struct.unpack("<f", data[pos:pos + 4])[0], pos + 4
    if ftype == "double":
        return struct.unpack("<d", data[pos:pos + 8])[0], pos + 8
    if ftype == "string":
        n, pos = _read_varint(data, pos)
        return data[pos:pos + n].decode("utf-8"), pos + n
    if ftype == "bytes":
        n, pos = _read_varint(data, pos)
        return bytes(data[pos:pos + n]), pos + n
    raise TypeError(ftype)


def _is_missing(v) -> bool:
    if v is None:
        return True
    if isinstance(v, (list, tuple, dict, str, bytes, bytearray)):
        return False
    if type(v).__name__ == "ndarray":
        return False
    try:
        return bool(v != v)                     # NaN from pandas
    except (ValueError, TypeError):
        return False


# --------------------------------------------------------------------------
# message encode / decode
# --------------------------------------------------------------------------

def encode_message(spec: tuple[ProtoField, ...], value: dict) -> bytes:
    """dict -> protobuf wire bytes; None/absent fields are not emitted
    (proto `optional` presence semantics)."""
    buf = bytearray()
    for f in spec:
        v = value.get(f.name)
        if _is_missing(v):
            continue
        if f.is_map:
            for k, mv in dict(v).items():
                entry = bytearray()
                _write_varint(entry, _tag(1, 2))
                _encode_scalar(entry, "string", k)
                if mv is not None:
                    _write_varint(entry, _tag(2, _wire_type(f.type)))
                    _encode_scalar(entry, f.type, mv)
                _write_varint(buf, _tag(f.number, 2))
                _write_varint(buf, len(entry))
                buf += entry
        elif f.repeated:
            for item in list(v):
                _write_varint(buf, _tag(f.number, _wire_type(f.type)))
                _encode_scalar(buf, f.type, item)
        else:
            _write_varint(buf, _tag(f.number, _wire_type(f.type)))
            _encode_scalar(buf, f.type, v)
    return bytes(buf)


def _skip_field(wire_type: int, data: bytes, pos: int) -> int:
    if wire_type == 0:
        _, pos = _read_varint(data, pos)
        return pos
    if wire_type == 1:
        return pos + 8
    if wire_type == 2:
        n, pos = _read_varint(data, pos)
        return pos + n
    if wire_type == 5:
        return pos + 4
    raise ValueError(f"cannot skip wire type {wire_type}")


def decode_message(spec: tuple[ProtoField, ...], data: bytes) -> dict:
    """protobuf wire bytes -> dict. Unset optionals decode to None, unset
    repeated/map to empty list/dict (protobuf presence semantics); unknown
    field numbers are skipped."""
    by_number = {f.number: f for f in spec}
    out: dict = {}
    for f in spec:
        out[f.name] = {} if f.is_map else ([] if f.repeated else None)
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        number, wire_type = key >> 3, key & 7
        f = by_number.get(number)
        if f is None:
            pos = _skip_field(wire_type, data, pos)
            continue
        if f.is_map:
            n, pos = _read_varint(data, pos)
            entry = data[pos:pos + n]
            pos += n
            k, mv, epos = "", None, 0
            while epos < len(entry):
                ekey, epos = _read_varint(entry, epos)
                enum_, ewt = ekey >> 3, ekey & 7
                if enum_ == 1:
                    k, epos = _decode_scalar("string", entry, epos)
                elif enum_ == 2:
                    mv, epos = _decode_scalar(f.type, entry, epos)
                else:
                    epos = _skip_field(ewt, entry, epos)
            out[f.name][k] = mv
        elif f.repeated:
            if wire_type == 2 and f.type not in _LEN_TYPES:
                # packed encoding of scalar repeated fields
                n, pos = _read_varint(data, pos)
                end = pos + n
                while pos < end:
                    v, pos = _decode_scalar(f.type, data, pos)
                    out[f.name].append(v)
            else:
                v, pos = _decode_scalar(f.type, data, pos)
                out[f.name].append(v)
        else:
            v, pos = _decode_scalar(f.type, data, pos)
            out[f.name] = v
    return out


# --------------------------------------------------------------------------
# Spark integration
# --------------------------------------------------------------------------

_SPARK_TYPES = {"bool": T.BooleanType(), "int32": T.IntegerType(),
                "int64": T.LongType(), "float": T.FloatType(),
                "double": T.DoubleType(), "string": T.StringType(),
                "bytes": T.BinaryType()}


def spec_to_spark_schema(spec: tuple[ProtoField, ...]) -> T.StructType:
    fields = []
    for f in spec:
        if f.is_map:
            dt: T.DataType = T.MapType(T.StringType(), _SPARK_TYPES[f.type])
        elif f.repeated:
            dt = T.ArrayType(_SPARK_TYPES[f.type])
        else:
            dt = _SPARK_TYPES[f.type]
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def proto_encode_col(spec: tuple[ProtoField, ...]):
    """pandas UDF: struct column -> binary protobuf column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BinaryType())
    def enc(s: pd.DataFrame) -> pd.Series:
        obj = s.astype(object).where(s.notna(), None)
        return pd.Series([encode_message(spec, row)
                          for row in obj.to_dict("records")])
    return enc


def proto_decode_col(spec: tuple[ProtoField, ...]):
    """pandas UDF: binary protobuf column -> struct column."""
    from pyspark.sql.functions import pandas_udf

    schema = spec_to_spark_schema(spec)

    @pandas_udf(schema)
    def dec(s: pd.Series) -> pd.DataFrame:
        rows = [decode_message(spec, bytes(b)) for b in s]
        return pd.DataFrame(rows, columns=[f.name for f in spec])
    return dec
