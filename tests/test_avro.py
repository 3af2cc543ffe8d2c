"""Avro object-container decoding (``AvroFileReader``) and its block
codecs: null, deflate, snappy and zstandard.

The tests WRITE container bytes through the hardcoded encoder below
and read them back through the reader's schema-driven decoder. Snappy
fixture blocks are hand-built literal-tag streams; zstandard blocks
come from pyarrow's libzstd. Needs no Spark, so it runs in the default
tier; tests/test_iceberg.py reuses the encoder for its manifests.
"""

import json
import struct
import zlib

import pyarrow as pa
import pytest

from algebraicdb_spark.operators.iceberg import (
    AvroFileReader,
    _snappy_decompress,
)

SYNC = b"\xde\xad\xbe\xef" * 4


def zz(n: int) -> bytes:
    """Zigzag + varint encode (Avro int/long wire form)."""
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def av_bytes(b: bytes) -> bytes:
    return zz(len(b)) + b


def leb128(n: int) -> bytes:
    """Plain unsigned varint (snappy's length header — NOT zigzag)."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def snappy_literals(data: bytes) -> bytes:
    """A valid snappy stream using only LITERAL tags — a legal
    encoding of any input per the format spec, hand-built so fixture
    compression never touches the decoder under test."""
    out = bytearray(leb128(len(data)))
    pos = 0
    while pos < len(data):
        chunk = data[pos:pos + 50]
        pos += len(chunk)
        out.append((len(chunk) - 1) << 2)  # literal, len ≤ 60 inline
        out += chunk
    return bytes(out)


def av_str(s: str) -> bytes:
    return av_bytes(s.encode("utf-8"))


def avro_container(
    schema: dict,
    record_bufs: list[bytes],
    codec: str = "null",
    payload: bytes | None = None,
) -> bytes:
    """One-block Avro object-container file around pre-encoded records.
    ``payload`` replaces the coded block bytes (corrupt-block tests)."""
    meta = (
        zz(2)
        + av_str("avro.schema")
        + av_bytes(json.dumps(schema).encode())
        + av_str("avro.codec")
        + av_bytes(codec.encode())
        + zz(0)
    )
    if payload is None:
        payload = b"".join(record_bufs)
        if codec == "deflate":
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = c.compress(payload) + c.flush()
        elif codec == "snappy":
            # hand-built snappy stream (literal tags only — spec-legal,
            # and independent of the reader's decoder) + the Avro
            # codec's big-endian crc32-of-uncompressed trailer
            payload = snappy_literals(payload) + zlib.crc32(
                payload
            ).to_bytes(4, "big")
        elif codec == "zstandard":
            payload = pa.Codec("zstd").compress(payload, asbytes=True)
    return (
        b"Obj\x01"
        + meta
        + SYNC
        + zz(len(record_bufs))
        + zz(len(payload))
        + payload
        + SYNC
    )


_LONG_SCHEMA = {"type": "record", "name": "r",
                "fields": [{"name": "x", "type": "long"}]}


def _refusal(tmp_path, name: str, container: bytes) -> str:
    """Read a container that must refuse; returns the ValueError text."""
    p = tmp_path / name
    p.write_bytes(container)
    with pytest.raises(ValueError) as exc:
        AvroFileReader(str(p))
    assert str(p) in str(exc.value)
    return str(exc.value)


class TestAvroDecoder:
    def test_all_types_roundtrip_hand_encoded(self, tmp_path):
        """Every Avro type the decoder claims, against hand-laid bytes:
        record, union, array (incl. the negative-count skippable block
        form), map, enum, fixed, all primitives."""
        schema = {
            "type": "record",
            "name": "t",
            "fields": [
                {"name": "b", "type": "boolean"},
                {"name": "i", "type": "int"},
                {"name": "l", "type": "long"},
                {"name": "f", "type": "float"},
                {"name": "d", "type": "double"},
                {"name": "s", "type": "string"},
                {"name": "by", "type": "bytes"},
                {"name": "u", "type": ["null", "string"]},
                {"name": "arr", "type": {"type": "array", "items": "long"}},
                {"name": "m", "type": {"type": "map", "values": "int"}},
                {
                    "name": "e",
                    "type": {"type": "enum", "name": "col",
                             "symbols": ["RED", "GREEN"]},
                },
                {
                    "name": "fx",
                    "type": {"type": "fixed", "name": "f4", "size": 4},
                },
                {
                    "name": "ts",
                    "type": {"type": "long",
                             "logicalType": "timestamp-micros"},
                },
            ],
        }
        rec = (
            b"\x01"  # true
            + zz(-7)
            + zz(2**40 + 3)
            + struct.pack("<f", 1.5)
            + struct.pack("<d", -2.25)
            + av_str("héllo")
            + av_bytes(b"\x00\xff")
            + zz(1) + av_str("set")  # union branch 1
            # array in two blocks, second in negative-count form
            + zz(2) + zz(10) + zz(20)
            + zz(-1) + zz(len(zz(30))) + zz(30)
            + zz(0)
            + zz(1) + av_str("k") + zz(42) + zz(0)
            + zz(1)  # GREEN
            + b"ABCD"
            + zz(123456789)
        )
        p = tmp_path / "t.avro"
        p.write_bytes(avro_container(schema, [rec, rec]))
        rows = AvroFileReader(str(p)).records
        assert len(rows) == 2
        r = rows[0]
        assert r["b"] is True and r["i"] == -7 and r["l"] == 2**40 + 3
        assert r["f"] == 1.5 and r["d"] == -2.25
        assert r["s"] == "héllo" and r["by"] == b"\x00\xff"
        assert r["u"] == "set"
        assert r["arr"] == [10, 20, 30]
        assert r["m"] == {"k": 42}
        assert r["e"] == "GREEN" and r["fx"] == b"ABCD"
        assert r["ts"] == 123456789

    def test_deflate_codec_and_corruption_refusals(self, tmp_path):
        schema = _LONG_SCHEMA
        p = tmp_path / "d.avro"
        p.write_bytes(avro_container(schema, [zz(5), zz(6)], codec="deflate"))
        assert [r["x"] for r in AvroFileReader(str(p)).records] == [5, 6]
        # bad magic
        bad = tmp_path / "bad.avro"
        bad.write_bytes(b"PAR1" + b"\x00" * 32)
        with pytest.raises(ValueError, match="not an avro"):
            AvroFileReader(str(bad))
        # flipped sync marker
        buf = bytearray(avro_container(schema, [zz(5)]))
        buf[-1] ^= 0xFF
        (tmp_path / "sync.avro").write_bytes(bytes(buf))
        with pytest.raises(ValueError, match="sync marker"):
            AvroFileReader(str(tmp_path / "sync.avro"))
        # a REAL zstd frame as the block payload reads back — while an
        # unknown codec refuses
        zs = tmp_path / "zs.avro"
        zs.write_bytes(avro_container(schema, [zz(5)], codec="zstandard"))
        assert [r["x"] for r in AvroFileReader(str(zs)).records] == [5]
        lz = avro_container(schema, [zz(5)], codec="null").replace(
            av_str("avro.codec") + av_bytes(b"null"),
            av_str("avro.codec") + av_bytes(b"lz4!"),
        )
        (tmp_path / "lz.avro").write_bytes(lz)
        with pytest.raises(NotImplementedError, match="lz4"):
            AvroFileReader(str(tmp_path / "lz.avro"))

    def test_snappy_codec_reads_hand_written_container(self, tmp_path):
        """Snappy is Avro's default codec in several Iceberg writers
        (Java's manifest writer among them) — the reader decodes it
        from a HAND-BUILT literal-tag stream that never touched the
        decoder under test."""
        schema = {"type": "record", "name": "r",
                  "fields": [{"name": "x", "type": "long"},
                             {"name": "s", "type": "string"}]}
        p = tmp_path / "sn.avro"
        recs = [zz(5) + av_str("hello"), zz(-7) + av_str("world" * 30)]
        p.write_bytes(avro_container(schema, recs, codec="snappy"))
        rows = AvroFileReader(str(p)).records
        assert [(r["x"], len(r["s"])) for r in rows] == [(5, 5), (-7, 150)]

    def test_snappy_crc_mismatch_refuses(self, tmp_path):
        buf = bytearray(avro_container(_LONG_SCHEMA, [zz(5)], codec="snappy"))
        # the crc32 trailer sits just before the trailing sync marker
        buf[-17] ^= 0xFF
        (tmp_path / "crc.avro").write_bytes(bytes(buf))
        with pytest.raises(ValueError, match="crc32"):
            AvroFileReader(str(tmp_path / "crc.avro"))

    def test_snappy_block_decoder_handles_copies(self):
        """Back-references, including the OVERLAPPING repeat idiom
        (offset < length), against hand-assembled tag streams with
        independently known expansions."""
        # literal "abc" + copy(offset=3, len=6) → "abc" * 3
        s = leb128(9) + bytes([(3 - 1) << 2]) + b"abc" + bytes(
            [((6 - 4) << 2) | 0x01, 3]
        )
        assert _snappy_decompress(s) == b"abcabcabc"
        # 2-byte-offset copy: 8 literals then re-emit the first 5
        s2 = (
            leb128(13)
            + bytes([(8 - 1) << 2]) + b"ABCDEFGH"
            + bytes([((5 - 1) << 2) | 0x02]) + (8).to_bytes(2, "little")
        )
        assert _snappy_decompress(s2) == b"ABCDEFGHABCDE"
        # corrupt offset refuses
        bad = leb128(4) + bytes([(1 - 1) << 2]) + b"a" + bytes(
            [((4 - 4) << 2) | 0x01, 9]
        )
        with pytest.raises(ValueError, match="snappy"):
            _snappy_decompress(bad)
        # length-header disagreement refuses
        short = leb128(99) + bytes([(3 - 1) << 2]) + b"abc"
        with pytest.raises(ValueError, match="snappy"):
            _snappy_decompress(short)
        # a LONG literal exercises the 61-tag two-byte-length form
        blob = bytes(range(256)) * 2
        s3 = (
            leb128(len(blob)) + bytes([61 << 2])
            + (len(blob) - 1).to_bytes(2, "little") + blob
        )
        assert _snappy_decompress(s3) == blob

    def test_snappy_oversize_length_header_refuses(self, tmp_path):
        """A header declaring more than any valid stream of this size
        could expand to is refused before anything is allocated."""
        huge = leb128(2**40) + bytes([0]) + b"a"
        with pytest.raises(ValueError, match="snappy: header declares"):
            _snappy_decompress(huge)
        # the bound is 32x the block: just inside still reaches the
        # codec (and fails there as corrupt), just outside never does
        body = bytes([0]) + b"a" * 20  # 21 bytes; each header takes 2
        with pytest.raises(ValueError, match="snappy: Corrupt"):
            _snappy_decompress(leb128(32 * 23) + body)
        with pytest.raises(ValueError, match="header declares"):
            _snappy_decompress(leb128(32 * 23 + 1) + body)
        crc = zlib.crc32(b"a").to_bytes(4, "big")
        msg = _refusal(tmp_path, "big.avro", avro_container(
            _LONG_SCHEMA, [zz(5)], codec="snappy", payload=huge + crc,
        ))
        assert "snappy: header declares" in msg

    def test_corrupt_snappy_block_refuses(self, tmp_path):
        bad = leb128(4) + bytes([0]) + b"a" + bytes([0x01, 9])  # offset 9
        crc = zlib.crc32(b"aaaa").to_bytes(4, "big")
        msg = _refusal(tmp_path, "sn.avro", avro_container(
            _LONG_SCHEMA, [zz(5)], codec="snappy", payload=bad + crc,
        ))
        assert "snappy" in msg

    def test_corrupt_zstd_block_refuses(self, tmp_path):
        frame = pa.Codec("zstd").compress(zz(5) * 200, asbytes=True)
        for name, payload in [
            ("trunc.avro", frame[:-3]),
            ("junk.avro", b"not a zstd frame"),
        ]:
            msg = _refusal(tmp_path, name, avro_container(
                _LONG_SCHEMA, [zz(5)] * 200, codec="zstandard",
                payload=payload,
            ))
            assert "zstd" in msg
