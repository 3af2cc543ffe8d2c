"""Round 13: zstd- and snappy-coded Avro manifests.

Avro ``zstandard`` blocks decode through pyarrow's bundled libzstd
(``iceberg._zstd_decompress``). The frame tests feed it frames from
independent producers — libzstd and the zstd CLI at levels 1-19 —
and check that corrupt and dictionary frames refuse with ``ValueError``. The end-to-end tests
recode a real Iceberg table's Avro metadata to ``avro.codec:
zstandard`` (what Rust/Go manifest writers emit) or ``snappy`` (Java's
manifest writer) and scan it back through ``IcebergTable``."""

import json
import os
import random
import shutil
import subprocess
import zlib

import pyarrow as pa
import pytest

from algebraicdb_spark.operators.iceberg import _zstd_decompress
from tests.test_avro import zz

# Two tests shell out to the standalone zstd CLI as a SECOND
# independent compressor (pyarrow's bundled libzstd is the first);
# sandboxes without the binary still run the libzstd round-trips.
needs_zstd_cli = pytest.mark.skipif(
    shutil.which("zstd") is None, reason="zstd CLI not installed"
)


def _zc(data: bytes) -> bytes:
    return pa.Codec("zstd").compress(data, asbytes=True)


class TestZstdFrames:
    def test_round_trips_against_libzstd(self):
        random.seed(13)
        cases = [
            b"",
            b"x",
            b"hello world " * 200,                # predefined FSE tables
            bytes(range(256)) * 40,               # written FSE tables
            os.urandom(4096),                     # raw blocks
            b"\x00" * 65536,                      # RLE block
            bytes(random.choice(b"abcdef") for _ in range(150000)),
            json.dumps(
                [{"k": i, "n": f"u{i % 97}"} for i in range(20000)]
            ).encode(),                           # 4-stream literals
        ]
        for i, d in enumerate(cases):
            assert _zstd_decompress(_zc(d)) == d, f"case {i}"

    @needs_zstd_cli
    def test_round_trips_against_the_cli_at_high_levels(self, tmp_path):
        """Level 19 exercises repeat-mode tables, treeless literals,
        and long matches; the CLI also writes content checksums."""
        data = (
            open("algebraicdb_spark/operators/txnlog.py", "rb").read()
            + os.urandom(1000)
        )
        src = tmp_path / "doc"
        src.write_bytes(data)
        for lvl in ("-1", "-19"):
            out = tmp_path / f"doc{lvl}.zst"
            subprocess.run(
                ["zstd", lvl, "-f", "-q", str(src), "-o", str(out)],
                check=True,
            )
            assert _zstd_decompress(out.read_bytes()) == data

    @needs_zstd_cli
    def test_checksum_detects_corruption(self, tmp_path):
        src = tmp_path / "d"
        src.write_bytes(b"the spammish repetition " * 4000)
        out = tmp_path / "d.zst"
        subprocess.run(
            ["zstd", "-3", "-f", "-q", str(src), "-o", str(out)],
            check=True,
        )
        comp = bytearray(out.read_bytes())
        comp[len(comp) // 2] ^= 0x40
        with pytest.raises(ValueError, match="zstd"):
            _zstd_decompress(bytes(comp))

    def test_multi_frame_and_skippable(self):
        a, b = b"first frame " * 50, b"second frame " * 50
        skippable = (
            (0x184D2A50).to_bytes(4, "little")
            + (7).to_bytes(4, "little") + b"ignored"
        )
        assert _zstd_decompress(_zc(a) + skippable + _zc(b)) == a + b

    def test_dictionary_frames_refuse(self):
        # hand-build a frame header demanding dictionary id 7:
        # magic + FHD(did_flag=1) + window + did byte
        frame = (
            (0xFD2FB528).to_bytes(4, "little")
            + bytes([0x01, 0x00, 0x07])
        )
        with pytest.raises(ValueError, match="zstd: .*Dictionary"):
            _zstd_decompress(frame)


def _recode_avro(path: str, codec: bytes) -> None:
    """Rewrite an Avro object-container file in place with
    ``avro.codec: <codec>`` — byte-level surgery (magic, metadata
    map, sync, blocks) so no decoder code writes any byte the decoder
    later reads. zstandard and snappy blocks are compressed with
    pyarrow's codecs (snappy plus Avro's big-endian CRC32 trailer);
    any other codec name leaves the blocks as they are."""
    raw = open(path, "rb").read()
    pos = 4
    assert raw[:4] == b"Obj\x01"

    def zz_read(p):
        shift = acc = 0
        while True:
            b = raw[p]
            p += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1), p

    meta = {}
    while True:
        n, pos = zz_read(pos)
        if n == 0:
            break
        if n < 0:
            n = -n
            _sz, pos = zz_read(pos)
        for _ in range(n):
            kl, pos = zz_read(pos)
            k = raw[pos:pos + kl]
            pos += kl
            vl, pos = zz_read(pos)
            meta[k] = raw[pos:pos + vl]
            pos += vl
    sync = raw[pos:pos + 16]
    pos += 16
    assert meta.get(b"avro.codec", b"null") == b"null"
    meta[b"avro.codec"] = codec
    out = bytearray(b"Obj\x01")
    out += zz(len(meta))
    for k, v in meta.items():
        out += zz(len(k)) + k + zz(len(v)) + v
    out += zz(0)
    out += sync
    while pos < len(raw):
        n_rec, pos = zz_read(pos)
        n_bytes, pos = zz_read(pos)
        payload = raw[pos:pos + n_bytes]
        pos += n_bytes
        assert raw[pos:pos + 16] == sync
        pos += 16
        if codec == b"zstandard":
            comp = _zc(payload)
        elif codec == b"snappy":
            comp = pa.Codec("snappy").compress(payload, asbytes=True)
            comp += zlib.crc32(payload).to_bytes(4, "big")
        else:
            comp = payload
        out += zz(n_rec) + zz(len(comp)) + comp + sync
    with open(path, "wb") as f:
        f.write(out)


def _scan_recoded_table(spark, root: str, codec: bytes) -> None:
    """Write a two-commit Iceberg table, recode every Avro file of its
    metadata (manifest lists AND manifests) to ``codec``, then scan it
    and walk its change feed through the recoded manifests."""
    from algebraicdb_spark.operators.iceberg import IcebergTable
    from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter

    w = IcebergTableWriter(root)
    w.append(spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "k long, v double",
    ).coalesce(1))
    w.delete(spark, "k = 3")
    recoded = 0
    for fn in os.listdir(os.path.join(root, "metadata")):
        if fn.endswith(".avro"):
            _recode_avro(os.path.join(root, "metadata", fn), codec)
            recoded += 1
    assert recoded >= 3
    t = IcebergTable(root)
    snap = t.snapshot(spark)
    assert sorted(r["k"] for r in snap.collect()) == [0, 1, 2, 4, 5, 6, 7]
    first = t.snapshots()[0]["snapshot-id"]
    feed = t.changes_cdf(spark, first)
    assert sorted(
        (r["k"], r["_change_type"]) for r in feed.collect()
    ) == [(3, "delete")]


class TestZstdManifests:
    def test_iceberg_table_with_zstd_metadata_scans(self, spark, tmp_path):
        _scan_recoded_table(spark, str(tmp_path / "z"), b"zstandard")

    def test_iceberg_table_with_snappy_metadata_scans(self, spark, tmp_path):
        _scan_recoded_table(spark, str(tmp_path / "s"), b"snappy")

    def test_unknown_codec_still_refuses(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg import AvroFileReader
        from algebraicdb_spark.operators.iceberg_writer import (
            AvroFileWriter,
            _manifest_schema,
        )

        p = str(tmp_path / "m.avro")
        AvroFileWriter.write(p, _manifest_schema([]), [])
        _recode_avro(p, codec=b"lz4")
        with pytest.raises(NotImplementedError, match="lz4"):
            AvroFileReader(p)
