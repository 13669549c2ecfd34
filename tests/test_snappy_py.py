"""Unit tests for the Avro snappy block codec (formats/avro_py.py
``_snappy_enc``/``_snappy_dec``): pyarrow's raw snappy block format
(public spec google/snappy format_description.txt) followed by the Avro
spec's 4-byte big-endian CRC32 of the uncompressed data."""

import random
import zlib

import pyarrow as pa
import pytest

from kafka_connect_oss_spark.formats import avro_py


def _crc(data: bytes) -> bytes:
    return (zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "big")


def compress(data: bytes) -> bytes:
    return avro_py._snappy_enc(data)


def decompress(payload: bytes) -> bytes:
    return avro_py._snappy_dec(payload)


@pytest.mark.parametrize("data", [
    b"",
    b"a",
    b"abc",
    b"abcd",                                  # exactly MIN_MATCH
    b"the quick brown fox " * 3,
    b"\x00" * 1000,                           # RLE-ish: overlapping copies
    b"ab" * 5000,
    bytes(range(256)) * 10,                   # no matches beyond table hits
])
def test_roundtrip_small(data):
    comp = compress(data)
    assert comp[-4:] == _crc(data)
    assert decompress(comp) == data


def test_roundtrip_random_and_fragment_boundary():
    rnd = random.Random(7)
    # spans multiple 64 KiB fragments; mixes compressible + random spans
    parts = []
    for _ in range(40):
        if rnd.random() < 0.5:
            parts.append(bytes(rnd.getrandbits(8) for _ in range(rnd.randint(1, 4000))))
        else:
            parts.append(rnd.choice([b"lorem ipsum ", b"spark", b"\x00\x01"])
                         * rnd.randint(1, 2000))
    data = b"".join(parts) * 2
    assert len(data) > 3 * 65536
    comp = compress(data)
    assert decompress(comp) == data
    # repetitive content must actually compress (~3 bytes per 64-byte
    # max-length copy on RLE input)
    rep = b"x" * 100000
    assert len(compress(rep)) < len(rep) // 20


@pytest.mark.parametrize("n", [64, 65, 66, 67, 68, 69, 131, 4097])
def test_long_match_split_boundaries(n):
    # a literal head then a match of exactly n bytes — exercises the
    # 64/65-67 copy-splitting edge of the block format
    data = b"HEADERXYZ" + b"Q" * n + b"TAIL"
    assert decompress(compress(data)) == data


def test_decodes_one_and_four_byte_offset_copies():
    # the reader must accept the full format, not only what one encoder
    # emits. Hand-craft: literal "abcd", copy-1 (len 4, off 4), then
    # copy-4 (len 4, off 4).
    stream = bytearray()
    stream.append(12)                         # varint 12 = output length
    stream += bytes([3 << 2]) + b"abcd"       # literal len 4
    stream.append(((4 - 4) << 2) | (0 << 5) | 0b01)   # copy-1: len 4
    stream.append(4)                          # offset low byte = 4
    stream.append(((4 - 1) << 2) | 0b11)      # copy-4: len 4
    stream += (4).to_bytes(4, "little")
    want = b"abcdabcdabcd"
    assert decompress(bytes(stream) + _crc(want)) == want


@pytest.mark.parametrize("bad", [
    b"",                                       # no preamble
    b"\x05" + bytes([3 << 2]) + b"ab",         # truncated literal body
    b"\x04" + bytes([0b10 | (3 << 2)]) + b"\x01",   # truncated copy offset
    b"\x08" + bytes([(3 << 2)]) + b"abcd"
    + bytes([0b10 | (3 << 2)]) + b"\x10\x00",  # copy offset 16 > written 4
    b"\x09" + bytes([3 << 2]) + b"abcd"
    + bytes([0b10 | (3 << 2)]) + b"\x04\x00",  # length mismatch vs preamble
])
def test_corrupt_streams_rejected(bad):
    # the CRC is of the bytes the stream claims to hold, so the rejection
    # must come from the block decoder, not from the checksum
    with pytest.raises(ValueError, match="malformed|corrupt snappy"):
        decompress(bad + _crc(b"abcdabcd"))


def test_interop_with_pyarrow_snappy():
    # the Avro framing around pyarrow's raw block is exactly the raw
    # snappy bytes plus the checksum, readable by any raw snappy codec
    rnd = random.Random(11)
    for data in [b"", b"abc", b"spark " * 4000,
                 bytes(rnd.getrandbits(8) for _ in range(70000))]:
        theirs = pa.compress(data, codec="snappy", asbytes=True)
        assert decompress(theirs + _crc(data)) == data
        ours = compress(data)
        back = pa.decompress(ours[:-4], decompressed_size=len(data),
                             codec="snappy", asbytes=True)
        assert back == data


def test_compress_is_deterministic():
    data = (b"deterministic " * 999) + bytes(range(256))
    assert compress(data) == compress(data)
