"""Round 14: fixes prescribed by the round-13 ADVICE.

1. zstd sequence-count long form (RFC 8878 §3.1.1.3.2.1): the count is
   ``byte1 + (byte2<<8) + 0x7F00`` — *addition*, not bitwise OR. The OR
   form silently mis-decodes any block carrying >= 0x8000 sequences
   (the low bits overlap 0x7F00). libzstd rarely emits such blocks, so
   the test hand-crafts a spec-valid frame with exactly 0x8000
   sequences (RLE sequence tables, zero extra bits) and feeds it to the
   Avro zstandard block decoder.

2. Session-config hygiene: the Delta column-mapping id-mode read/write
   paths flip ``spark.sql.parquet.fieldId.{read,write}.enabled`` — they
   must restore the prior value instead of leaking it to unrelated
   reads/writes for the session's lifetime.
"""

from algebraicdb_spark.operators.iceberg import _zstd_decompress


def _craft_longform_frame() -> tuple[bytes, bytes]:
    """A frame whose single compressed block carries 0x8000 sequences,
    each {lit_len=1, match_len=3, offset=rep0=1} with RLE tables (no
    FSE bits), so the only long-form-count ambiguity is the header
    arithmetic itself."""
    n = 0x8000
    lits = bytes((i * 37 + 11) & 0xFF for i in range(n))
    exp = bytearray()
    for b in lits:
        exp.append(b)
        exp += bytes([b]) * 3  # match len 3 at offset 1 = 3 copies

    block = bytearray()
    block += bytes([0x0C | ((n & 0xF) << 4), (n >> 4) & 0xFF, n >> 12])
    block += lits                       # raw literals, 20-bit size form
    x = n - 0x7F00
    block += bytes([255, x & 0xFF, x >> 8])   # long-form count
    block += bytes([0x54])              # LL/OF/ML all RLE mode
    block += bytes([1, 0, 0])           # ll_code=1, of_code=0, ml_code=0
    block += bytes([0x01])              # backward-bitstream sentinel

    frame = bytearray()
    frame += (0xFD2FB528).to_bytes(4, "little")
    frame += bytes([0xA0])              # single-segment, 4-byte FCS
    frame += (131072).to_bytes(4, "little")
    frame += (((len(block) << 3) | (2 << 1) | 1)).to_bytes(3, "little")
    frame += block
    return bytes(frame), bytes(exp)


class TestZstdLongFormSequenceCount:
    def test_count_is_addition_not_or(self):
        # 0x8000 = (0x00 | 0x01<<8) + 0x7F00; the OR form yields 0x7F00
        # and a decoder would abort on a not-fully-consumed bitstream.
        frame, exp = _craft_longform_frame()
        assert len(exp) == 4 * 0x8000
        assert _zstd_decompress(frame) == exp


_KEYS = (
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.fieldId.write.enabled",
)


class TestFieldIdConfHygiene:
    def test_id_mode_read_does_not_leak_session_conf(self, spark, tmp_path):
        from tests.test_round13_id_mapping import _id_table
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        before = {k: spark.conf.get(k, None) for k in _KEYS}
        root = _id_table(tmp_path, name="hygiene_r")
        snap = DeltaLogTable(root).snapshot(spark)
        # id resolution still works (the scoped clone carries the conf)
        assert sorted(r["k"] for r in snap.collect()) == [1, 2, 3, 4]
        after = {k: spark.conf.get(k, None) for k in _KEYS}
        assert after == before

    def test_id_mode_write_restores_prior_conf(self, spark, tmp_path):
        from tests.test_round13_id_mapping import _id_table
        from algebraicdb_spark.operators.delta_writer import DeltaTableWriter
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        before = {k: spark.conf.get(k, None) for k in _KEYS}
        root = _id_table(tmp_path, name="hygiene_w")
        w = DeltaTableWriter(root)
        w.append(spark.createDataFrame([(9, 9.0)], "k long, v double"))
        after = {k: spark.conf.get(k, None) for k in _KEYS}
        assert after == before
        # and the appended file is still id-resolvable
        got = sorted(r["k"] for r in DeltaLogTable(root).snapshot(spark).collect())
        assert got == [1, 2, 3, 4, 9]
