"""Read-only Iceberg interop (operators/iceberg.py).

Methodology mirrors the multimodal codecs: the test WRITES Avro
object-container bytes through a hardcoded, schema-specific encoder
(tests/test_avro.py), and the engine reads them back through its independent
schema-DRIVEN decoder — two code paths that only agree if both match
the public Avro spec. The Iceberg layout (metadata JSON, manifest
list, manifests, statuses, time travel) follows the public spec at
https://iceberg.apache.org/spec/; fixtures carry a minimal field
subset, which the schema-driven reader treats no differently from a
full 30-field production manifest.
"""

import json
import os
import struct

import pytest

# Heavyweight lakehouse interop e2e tier: excluded from the
# default pytest run (see pyproject [tool.pytest.ini_options]);
# run explicitly with `pytest -m interop`.
pytestmark = pytest.mark.interop
from pyspark.sql import functions as F

from algebraicdb_spark.operators.iceberg import AvroFileReader, IcebergTable
from tests.test_avro import av_str, avro_container, zz


# ---- minimal Iceberg manifest schemas (field subset of the spec) ----

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def manifest_list_rec(path: str, snap_id: int, content: int = 0) -> bytes:
    return av_str(path) + zz(os.path.getsize(path)) + zz(0) + zz(content) + zz(
        snap_id
    )


def manifest_rec(
    status: int, snap_id: int, file_path: str, n_rows: int, content: int = 0
) -> bytes:
    return (
        zz(status)
        + zz(1)  # union branch: long
        + zz(snap_id)
        + zz(content)
        + av_str(file_path)
        + av_str("PARQUET")
        + zz(n_rows)
        + zz(os.path.getsize(file_path))
    )


def write_parquet_file(spark, df, dest: str) -> int:
    """Write df as ONE concrete parquet file at dest; returns rowcount."""
    tmp = dest + ".stage"
    df.coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), dest)
    return df.count()


class TestIcebergTable:
    def _build(self, spark, sf_dir, root: str) -> dict:
        """Two-snapshot table over orders subsets:
        snap1 = {A, C} (both ADDED); snap2 rewrites C away
        (A EXISTING, C DELETED) and appends B."""
        o = __import__(
            "algebraicdb_spark.sources.catalog", fromlist=["load_tables"]
        ).load_tables(spark, sf_dir)["orders"]
        data = os.path.join(root, "data")
        meta = os.path.join(root, "metadata")
        os.makedirs(data)
        os.makedirs(meta)
        fa = os.path.join(data, "a.parquet")
        fb = os.path.join(data, "b.parquet")
        fc = os.path.join(data, "c.parquet")
        na = write_parquet_file(spark, o.where(F.col("o_orderkey") % 3 == 0), fa)
        nb = write_parquet_file(spark, o.where(F.col("o_orderkey") % 3 == 1), fb)
        nc = write_parquet_file(spark, o.where(F.col("o_orderkey") % 3 == 2), fc)
        s1, s2 = 1001, 1002
        m1 = os.path.join(meta, "m1.avro")
        with open(m1, "wb") as f:
            f.write(
                avro_container(
                    MANIFEST_SCHEMA,
                    [manifest_rec(1, s1, fa, na), manifest_rec(1, s1, fc, nc)],
                )
            )
        m2a = os.path.join(meta, "m2a.avro")
        with open(m2a, "wb") as f:
            f.write(
                avro_container(
                    MANIFEST_SCHEMA,
                    [manifest_rec(0, s1, fa, na), manifest_rec(2, s2, fc, nc)],
                    codec="deflate",  # prove codec path inside a manifest
                )
            )
        m2b = os.path.join(meta, "m2b.avro")
        with open(m2b, "wb") as f:
            f.write(
                avro_container(MANIFEST_SCHEMA, [manifest_rec(1, s2, fb, nb)])
            )
        ml1 = os.path.join(meta, "snap-1001.avro")
        with open(ml1, "wb") as f:
            f.write(
                avro_container(
                    MANIFEST_LIST_SCHEMA, [manifest_list_rec(m1, s1)]
                )
            )
        ml2 = os.path.join(meta, "snap-1002.avro")
        with open(ml2, "wb") as f:
            f.write(
                avro_container(
                    MANIFEST_LIST_SCHEMA,
                    [manifest_list_rec(m2a, s2), manifest_list_rec(m2b, s2)],
                )
            )
        md = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000001",
            "location": root,
            "current-snapshot-id": s2,
            "snapshots": [
                {"snapshot-id": s1, "timestamp-ms": 1, "manifest-list": ml1},
                {"snapshot-id": s2, "timestamp-ms": 2, "manifest-list": ml2},
            ],
        }
        with open(os.path.join(meta, "v2.metadata.json"), "w") as f:
            json.dump(md, f)
        # a stale v1 that must NOT be picked without a version hint
        md1 = dict(md, **{"current-snapshot-id": s1,
                          "snapshots": md["snapshots"][:1]})
        with open(os.path.join(meta, "v1.metadata.json"), "w") as f:
            json.dump(md1, f)
        return {"na": na, "nb": nb, "nc": nc, "s1": s1, "s2": s2,
                "fa": fa, "fb": fb, "fc": fc, "meta": meta}

    def test_snapshot_and_time_travel(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "ice")
        os.makedirs(root)
        ctx = self._build(spark, sf_dir, root)
        t = IcebergTable(root)
        assert t.current_snapshot_id() == ctx["s2"]
        # current: A + B (C's DELETED entry dropped)
        assert t.live_paths() == sorted([ctx["fa"], ctx["fb"]])
        cur = t.snapshot(spark)
        assert cur.count() == ctx["na"] + ctx["nb"]
        assert cur.where(F.col("o_orderkey") % 3 == 2).count() == 0
        # time travel: snapshot 1 = A + C
        past = t.snapshot(spark, snapshot_id=ctx["s1"])
        assert past.count() == ctx["na"] + ctx["nc"]
        assert past.where(F.col("o_orderkey") % 3 == 1).count() == 0
        with pytest.raises(ValueError, match="not in metadata"):
            t.snapshot(spark, snapshot_id=999)

    def test_version_hint_pins_metadata(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "ice")
        os.makedirs(root)
        ctx = self._build(spark, sf_dir, root)
        hint = os.path.join(ctx["meta"], "version-hint.text")
        with open(hint, "w") as f:
            f.write("1\n")
        t = IcebergTable(root)  # hint wins over highest file
        assert t.current_snapshot_id() == ctx["s1"]
        assert t.snapshot(spark).count() == ctx["na"] + ctx["nc"]

    def test_merge_on_read_refusals(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "ice")
        os.makedirs(root)
        ctx = self._build(spark, sf_dir, root)
        # (a) a DELETE manifest whose entry claims data content — the
        # layout is self-contradictory, refuse as corrupt
        bad_ml = os.path.join(ctx["meta"], "snap-1002.avro")
        with open(bad_ml, "wb") as f:
            f.write(
                avro_container(
                    MANIFEST_LIST_SCHEMA,
                    [manifest_list_rec(
                        os.path.join(ctx["meta"], "m2b.avro"),
                        ctx["s2"], content=1,
                    )],
                )
            )
        with pytest.raises(ValueError, match="DELETE manifest"):
            IcebergTable(root).live_paths()
        # (b) delete DATA FILE inside a data manifest (data_file.content=1)
        with open(os.path.join(ctx["meta"], "m2b.avro"), "wb") as f:
            f.write(
                avro_container(
                    MANIFEST_SCHEMA,
                    [manifest_rec(1, ctx["s2"], ctx["fb"], ctx["nb"],
                                  content=1)],
                )
            )
        with open(bad_ml, "wb") as f:
            f.write(
                avro_container(
                    MANIFEST_LIST_SCHEMA,
                    [manifest_list_rec(
                        os.path.join(ctx["meta"], "m2b.avro"), ctx["s2"]
                    )],
                )
            )
        with pytest.raises(NotImplementedError, match="delete file"):
            IcebergTable(root).live_paths()

    def test_missing_metadata_refuses(self, tmp_path):
        with pytest.raises(ValueError, match="metadata"):
            IcebergTable(str(tmp_path / "nope"))
        os.makedirs(str(tmp_path / "empty" / "metadata"))
        with pytest.raises(ValueError, match="metadata.json"):
            IcebergTable(str(tmp_path / "empty"))


class TestIcebergChanges:
    """Incremental append scan between snapshots — the adds-only
    change feed over an EXTERNAL Iceberg table, completing the
    TxnLog/Delta/Iceberg interop triplet."""

    def _extend_chain(self, spark, sf_dir, root: str, ctx: dict) -> dict:
        """Grow the 2-snapshot `_build` table into a 4-snapshot parent
        chain: s3 appends D (summary append), s4 compacts (summary
        replace, adds E). Metadata v3 carries parent ids + summaries."""
        o = __import__(
            "algebraicdb_spark.sources.catalog", fromlist=["load_tables"]
        ).load_tables(spark, sf_dir)["orders"]
        meta, data = ctx["meta"], os.path.join(root, "data")
        s1, s2, s3, s4 = ctx["s1"], ctx["s2"], 1003, 1004
        fd = os.path.join(data, "d.parquet")
        fe = os.path.join(data, "e.parquet")
        nd = write_parquet_file(spark, o.where(F.col("o_orderkey") % 5 == 4), fd)
        write_parquet_file(spark, o.limit(7), fe)
        m3 = os.path.join(meta, "m3.avro")
        with open(m3, "wb") as f:
            f.write(avro_container(MANIFEST_SCHEMA, [manifest_rec(1, s3, fd, nd)]))
        m4 = os.path.join(meta, "m4.avro")
        with open(m4, "wb") as f:
            f.write(avro_container(MANIFEST_SCHEMA, [manifest_rec(1, s4, fe, 7)]))
        ml3 = os.path.join(meta, "snap-1003.avro")
        with open(ml3, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA,
                [manifest_list_rec(os.path.join(meta, "m2a.avro"), s2),
                 manifest_list_rec(os.path.join(meta, "m2b.avro"), s2),
                 manifest_list_rec(m3, s3)],
            ))
        ml4 = os.path.join(meta, "snap-1004.avro")
        with open(ml4, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA, [manifest_list_rec(m4, s4)]
            ))
        md = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000001",
            "location": root,
            "current-snapshot-id": s4,
            "snapshots": [
                {"snapshot-id": s1, "timestamp-ms": 1,
                 "manifest-list": os.path.join(meta, "snap-1001.avro")},
                {"snapshot-id": s2, "timestamp-ms": 2,
                 "parent-snapshot-id": s1,
                 "manifest-list": os.path.join(meta, "snap-1002.avro")},
                {"snapshot-id": s3, "timestamp-ms": 3,
                 "parent-snapshot-id": s2,
                 "summary": {"operation": "append"},
                 "manifest-list": ml3},
                {"snapshot-id": s4, "timestamp-ms": 4,
                 "parent-snapshot-id": s3,
                 "summary": {"operation": "replace"},
                 "manifest-list": ml4},
            ],
        }
        with open(os.path.join(meta, "v3.metadata.json"), "w") as f:
            json.dump(md, f)
        return dict(ctx, s3=s3, s4=s4, nd=nd)

    def test_incremental_append_scan(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "ice")
        os.makedirs(root)
        ctx = self._extend_chain(
            spark, sf_dir, root,
            TestIcebergTable()._build(spark, sf_dir, root),
        )
        t = IcebergTable(root)
        assert t.current_snapshot_id() == ctx["s4"]
        # (s2, s3]: exactly s3's appended file — carried-forward
        # EXISTING/DELETED entries in s3's manifests are not new info
        got = t.changes(spark, ctx["s2"], ctx["s3"])
        assert got.count() == ctx["nd"]
        assert got.where(F.col("o_orderkey") % 5 != 4).count() == 0
        # (s3, s4]: a replace (compaction) snapshot — content
        # unchanged, the feed skips it entirely
        assert t.changes(spark, ctx["s3"], ctx["s4"]) is None
        # (s2, current]: append + skipped replace = the append alone
        assert t.changes(spark, ctx["s2"]).count() == ctx["nd"]
        # (s1, s2]: s2 deleted C — adds-only breach, rebuild instead
        with pytest.raises(ValueError, match="adds-only"):
            t.changes(spark, ctx["s1"], ctx["s2"])
        # a snapshot outside the parent chain has no incremental path
        with pytest.raises(ValueError, match="not an ancestor"):
            t.changes(spark, 999, ctx["s3"])


class TestIcebergPositionDeletes:
    """v2 merge-on-read: position delete files (parquet rows of
    (file_path, pos)) applied at scan time via an anti-join on Spark's
    _metadata file-path/row-index — the round-3 refusal narrowed to
    equality deletes only. The delete manifest and delete parquet are
    hand-written (two-path methodology); expectations are computed by
    reading the data file's actual row order back independently."""

    def _build(self, spark, sf_dir, root: str) -> dict:
        o = __import__(
            "algebraicdb_spark.sources.catalog", fromlist=["load_tables"]
        ).load_tables(spark, sf_dir)["orders"]
        data = os.path.join(root, "data")
        meta = os.path.join(root, "metadata")
        os.makedirs(data)
        os.makedirs(meta)
        fa = os.path.join(data, "a.parquet")
        fb = os.path.join(data, "b.parquet")
        na = write_parquet_file(spark, o.where(F.col("o_orderkey") % 3 == 0), fa)
        nb = write_parquet_file(spark, o.where(F.col("o_orderkey") % 3 == 1), fb)
        # position delete: rows 0, 2 and 5 of file A, plus a stale row
        # targeting a path not in the snapshot (must be a no-op)
        fdel = os.path.join(data, "del1.parquet")
        del_rows = [(fa, 0), (fa, 2), (fa, 5), (fa + ".gone", 1)]
        write_parquet_file(
            spark,
            spark.createDataFrame(del_rows, "file_path string, pos long"),
            fdel,
        )
        s1 = 3001
        m_data = os.path.join(meta, "mdata.avro")
        with open(m_data, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA,
                [manifest_rec(1, s1, fa, na), manifest_rec(1, s1, fb, nb)],
            ))
        m_del = os.path.join(meta, "mdel.avro")
        with open(m_del, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA,
                [manifest_rec(1, s1, fdel, 4, content=1)],
            ))
        ml = os.path.join(meta, "snap-3001.avro")
        with open(ml, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA,
                [manifest_list_rec(m_data, s1),
                 manifest_list_rec(m_del, s1, content=1)],
            ))
        md = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000003",
            "location": root,
            "current-snapshot-id": s1,
            "snapshots": [
                {"snapshot-id": s1, "timestamp-ms": 1, "manifest-list": ml},
            ],
        }
        with open(os.path.join(meta, "v1.metadata.json"), "w") as f:
            json.dump(md, f)
        return {"fa": fa, "fb": fb, "na": na, "nb": nb, "s1": s1,
                "meta": meta, "m_del": m_del, "ml": ml, "fdel": fdel}

    def test_position_deletes_apply_at_scan(self, spark, sf_dir, tmp_path):
        # the space in the root exercises _metadata.file_path percent-
        # encoding: without url-decoding the join key, the anti-join's
        # inner mapping join would match NOTHING and silently drop
        # every row of the encoded files
        root = str(tmp_path / "ice pd")
        os.makedirs(root)
        ctx = self._build(spark, sf_dir, root)
        t = IcebergTable(root)
        snap = t.snapshot(spark)
        # 3 real deletes hit file A; the stale path is a no-op
        assert snap.count() == ctx["na"] + ctx["nb"] - 3
        # the EXACT rows at positions 0/2/5 of A are the ones gone —
        # recompute them independently from the file's physical order
        doomed = [
            r["o_orderkey"]
            for r in spark.read.parquet(ctx["fa"])
            .select("o_orderkey", F.col("_metadata.row_index").alias("i"))
            .where(F.col("i").isin([0, 2, 5]))
            .collect()
        ]
        assert len(doomed) == 3
        got = set(r["o_orderkey"] for r in snap.collect())
        assert not (set(doomed) & got)
        # every surviving A-row and all of B intact
        assert snap.where(F.col("o_orderkey") % 3 == 1).count() == ctx["nb"]
        # a raw path list would resurrect the deleted rows — refuse
        with pytest.raises(ValueError, match="delete files"):
            t.live_paths()

    def test_equality_delete_refuses(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "ice_eq")
        os.makedirs(root)
        ctx = self._build(spark, sf_dir, root)
        # rewrite the delete manifest claiming EQUALITY content (2)
        with open(ctx["m_del"], "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA,
                [manifest_rec(1, ctx["s1"], ctx["fdel"], 4, content=2)],
            ))
        with pytest.raises(NotImplementedError, match="equality delete"):
            IcebergTable(root).snapshot(spark)

    def test_in_window_delete_manifest_breaks_the_feed(
        self, spark, sf_dir, tmp_path
    ):
        """changes() must refuse a window whose snapshot committed a
        delete manifest — the feed is adds-only."""
        root = str(tmp_path / "ice_pd_feed")
        os.makedirs(root)
        ctx = self._build(spark, sf_dir, root)
        meta = ctx["meta"]
        s1, s2 = ctx["s1"], 3002
        # s2 appends a delete manifest on top of s1's files
        ml2 = os.path.join(meta, "snap-3002.avro")
        m_del2 = os.path.join(meta, "mdel2.avro")
        with open(m_del2, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA,
                [manifest_rec(1, s2, ctx["fdel"], 4, content=1)],
            ))
        with open(ml2, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA,
                [manifest_list_rec(
                    os.path.join(meta, "mdata.avro"), s1),
                 manifest_list_rec(m_del2, s2, content=1)],
            ))
        md = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000003",
            "location": root,
            "current-snapshot-id": s2,
            "snapshots": [
                {"snapshot-id": s1, "timestamp-ms": 1,
                 "manifest-list": ctx["ml"]},
                {"snapshot-id": s2, "timestamp-ms": 2,
                 "parent-snapshot-id": s1,
                 "summary": {"operation": "append"},
                 "manifest-list": ml2},
            ],
        }
        with open(os.path.join(meta, "v2.metadata.json"), "w") as f:
            json.dump(md, f)
        with pytest.raises(ValueError, match="adds-only"):
            IcebergTable(root).changes(spark, s1, s2)


# ---- v2 sequence-numbered schemas (the equality-delete fixtures) ----

MANIFEST_LIST_SCHEMA_SEQ = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

MANIFEST_SCHEMA_SEQ = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}]},
                ],
            },
        },
    ],
}


def manifest_list_rec_seq(
    path: str, snap_id: int, seq: int, content: int = 0
) -> bytes:
    return (
        av_str(path) + zz(os.path.getsize(path)) + zz(0) + zz(content)
        + zz(seq) + zz(snap_id)
    )


def manifest_rec_seq(
    status: int,
    snap_id: int,
    seq: int | None,
    file_path: str,
    n_rows: int,
    content: int = 0,
    equality_ids: list[int] | None = None,
) -> bytes:
    buf = zz(status) + zz(1) + zz(snap_id)
    buf += zz(0) if seq is None else zz(1) + zz(seq)  # union null|long
    buf += (
        zz(content)
        + av_str(file_path)
        + av_str("PARQUET")
        + zz(n_rows)
        + zz(os.path.getsize(file_path))
    )
    if equality_ids is None:
        buf += zz(0)  # union branch: null
    else:
        buf += zz(1) + zz(len(equality_ids))  # array: one block
        buf += b"".join(zz(i) for i in equality_ids) + zz(0)
    return buf


class TestIcebergMixedMorCdf:
    """Round-12 review finding, pinned: a conformant engine's MoR
    DELETE commits ONE snapshot that marks fully-matched data files
    status-DELETED AND adds position-delete files for the partially-
    matched ones. ``changes_cdf`` must emit BOTH preimage sets — the
    first cut handled only the delete files and silently dropped the
    wholly-removed files' rows. Hand-written fixture (two-path
    methodology)."""

    def test_mixed_snapshot_emits_both_preimage_sets(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "mixed")
        data = os.path.join(root, "data")
        meta = os.path.join(root, "metadata")
        os.makedirs(data)
        os.makedirs(meta)
        fa = os.path.join(data, "a.parquet")
        fb = os.path.join(data, "b.parquet")
        write_parquet_file(spark, spark.createDataFrame(
            [(1, "a1"), (2, "a2")], "k long, v string"), fa)
        write_parquet_file(spark, spark.createDataFrame(
            [(3, "b1"), (4, "b2")], "k long, v string"), fb)
        s1, s2 = 3001, 3002
        # s1: A and B ADDED
        m1 = os.path.join(meta, "m1.avro")
        with open(m1, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA,
                [manifest_rec(1, s1, fa, 2), manifest_rec(1, s1, fb, 2)],
            ))
        ml1 = os.path.join(meta, "snap1.avro")
        with open(ml1, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA, [manifest_list_rec(m1, s1)],
            ))
        # s2: A DELETED (whole file matched) + B EXISTING, plus a
        # position delete of B's row 0 — one mixed MoR DELETE commit
        fdel = os.path.join(data, "del.parquet")
        write_parquet_file(spark, spark.createDataFrame(
            [(fb, 0)], "file_path string, pos long"), fdel)
        m2 = os.path.join(meta, "m2.avro")
        with open(m2, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA,
                [manifest_rec(2, s2, fa, 2), manifest_rec(0, s1, fb, 2)],
            ))
        mdel = os.path.join(meta, "mdel.avro")
        with open(mdel, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA,
                [manifest_rec(1, s2, fdel, 1, content=1)],
            ))
        ml2 = os.path.join(meta, "snap2.avro")
        with open(ml2, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA,
                [manifest_list_rec(m2, s2),
                 manifest_list_rec(mdel, s2, content=1)],
            ))
        md = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-00000000mix1",
            "location": root,
            "current-snapshot-id": s2,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "k", "required": False,
                 "type": "long"},
                {"id": 2, "name": "v", "required": False,
                 "type": "string"}]}],
            "current-schema-id": 0,
            "snapshots": [
                {"snapshot-id": s1, "timestamp-ms": 1,
                 "summary": {"operation": "append"},
                 "manifest-list": ml1},
                {"snapshot-id": s2, "timestamp-ms": 2,
                 "parent-snapshot-id": s1,
                 "summary": {"operation": "delete"},
                 "manifest-list": ml2},
            ],
        }
        with open(os.path.join(meta, "v1.metadata.json"), "w") as f:
            json.dump(md, f)
        t = IcebergTable(root)
        got = {
            (r["k"], r["v"], r["_change_type"])
            for r in t.changes_cdf(spark, s1, s2).collect()
        }
        # BOTH the wholly-removed file's rows AND the position-deleted
        # row surface as deletes
        assert got == {(1, "a1", "delete"), (2, "a2", "delete"),
                       (3, "b1", "delete")}
    """v2 equality deletes applied with the spec's sequence-number
    rule: a delete file at sequence s removes matching rows ONLY from
    data files with data sequence < s — a later re-insert of the same
    key survives. Fixtures are hand-encoded Avro (two-path
    methodology); the refusals narrow to genuinely unorderable inputs."""

    def _build(self, spark, root: str) -> dict:
        data = os.path.join(root, "data")
        meta = os.path.join(root, "metadata")
        os.makedirs(data)
        os.makedirs(meta)
        f1 = os.path.join(data, "f1.parquet")
        f2 = os.path.join(data, "f2.parquet")
        write_parquet_file(
            spark,
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
            ).coalesce(1).sortWithinPartitions("k"),
            f1,
        )
        write_parquet_file(
            spark,
            spark.createDataFrame([(2, "B"), (6, "f")], "k long, v string"),
            f2,
        )
        # position delete: row 0 of f1 (k=1, by the sorted write)
        fpos = os.path.join(data, "pos.parquet")
        write_parquet_file(
            spark,
            spark.createDataFrame([(f1, 0)], "file_path string, pos long"),
            fpos,
        )
        # equality deletes on field id 1 (column k): E1 at seq 2
        # removes k∈{2,5} from seq<2; E2 at seq 10 removes k=3
        e1 = os.path.join(data, "eq1.parquet")
        write_parquet_file(
            spark, spark.createDataFrame([(2,), (5,)], "k long"), e1)
        e2 = os.path.join(data, "eq2.parquet")
        write_parquet_file(spark, spark.createDataFrame([(3,)], "k long"), e2)
        s = 7001
        m_data = os.path.join(meta, "mdata.avro")
        with open(m_data, "wb") as f:
            # f1 rides with an EXPLICIT seq 1; f2 is ADDED with a null
            # seq INHERITING the manifest's 3 (the spec's rule)
            f.write(avro_container(
                MANIFEST_SCHEMA_SEQ,
                [manifest_rec_seq(0, s, 1, f1, 4),
                 manifest_rec_seq(1, s, None, f2, 2)],
            ))
        m_del = os.path.join(meta, "mdel.avro")
        with open(m_del, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA_SEQ,
                [manifest_rec_seq(1, s, 2, fpos, 1, content=1),
                 manifest_rec_seq(1, s, 2, e1, 2, content=2,
                                  equality_ids=[1]),
                 manifest_rec_seq(1, s, 10, e2, 1, content=2,
                                  equality_ids=[1])],
            ))
        ml = os.path.join(meta, f"snap-{s}.avro")
        with open(ml, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA_SEQ,
                [manifest_list_rec_seq(m_data, s, 3),
                 manifest_list_rec_seq(m_del, s, 10, content=1)],
            ))
        md = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000007",
            "location": root,
            "current-schema-id": 0,
            "schemas": [{
                "schema-id": 0,
                "type": "struct",
                "fields": [
                    {"id": 1, "name": "k", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "v", "required": False,
                     "type": "string"},
                ],
            }],
            "current-snapshot-id": s,
            "snapshots": [
                {"snapshot-id": s, "timestamp-ms": 1, "manifest-list": ml},
            ],
        }
        with open(os.path.join(meta, "v1.metadata.json"), "w") as f:
            json.dump(md, f)
        return {"s": s, "meta": meta, "f1": f1, "f2": f2,
                "m_data": m_data, "m_del": m_del, "ml": ml,
                "e1": e1, "fpos": fpos}

    def test_mixed_position_and_equality_deletes_resolve(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "ice eq")  # space exercises URI decoding
        os.makedirs(root)
        self._build(spark, root)
        t = IcebergTable(root)
        got = {(r["k"], r["v"]) for r in t.snapshot(spark).collect()}
        # f1 (seq 1): k=1 gone (position), k=2 gone (E1 seq 2 > 1),
        # k=3 gone (E2 seq 10 > 1), k=4 stays; E1's k=5 matches nothing.
        # f2 (seq 3): k=2 SURVIVES E1 (3 ≥ 2 — strictly-lower rule) and
        # is absent from E2; k=6 untouched.
        assert got == {(4, "d"), (2, "B"), (6, "f")}
        # raw path list refuses — it would resurrect deleted rows
        with pytest.raises(ValueError, match="delete files"):
            t.live_paths()

    def test_unknown_equality_field_refuses(self, spark, tmp_path):
        root = str(tmp_path / "ice_eq_bad")
        os.makedirs(root)
        ctx = self._build(spark, root)
        with open(ctx["m_del"], "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA_SEQ,
                [manifest_rec_seq(1, ctx["s"], 2, ctx["e1"], 2, content=2,
                                  equality_ids=[99])],
            ))
        with pytest.raises(NotImplementedError, match="nested or unknown"):
            IcebergTable(root).snapshot(spark)

    def test_unsequenced_data_under_equality_delete_refuses(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "ice_eq_noseq")
        os.makedirs(root)
        ctx = self._build(spark, root)
        with open(ctx["m_data"], "wb") as f:
            # an EXISTING entry with a null seq cannot inherit — with a
            # live equality delete the ordering is undecidable
            f.write(avro_container(
                MANIFEST_SCHEMA_SEQ,
                [manifest_rec_seq(0, ctx["s"], None, ctx["f1"], 4),
                 manifest_rec_seq(1, ctx["s"], 3, ctx["f2"], 2)],
            ))
        with pytest.raises(NotImplementedError, match="no resolvable"):
            IcebergTable(root).snapshot(spark)


def manifest_rec_nullsid(status: int, file_path: str, n_rows: int) -> bytes:
    """A manifest entry whose snapshot_id is the union's NULL branch —
    the spec says readers inherit it from the manifest-list row's
    added_snapshot_id (v2 writers rely on this)."""
    return (
        zz(status)
        + zz(0)  # union branch: null
        + zz(0)  # data_file.content
        + av_str(file_path)
        + av_str("PARQUET")
        + zz(n_rows)
        + zz(os.path.getsize(file_path))
    )


class TestIcebergNullSidInheritance:
    def test_reused_nullsid_manifest_not_double_counted(
        self, spark, sf_dir, tmp_path
    ):
        """A manifest with null-snapshot_id ADDED entries, written at
        s1 and REUSED by s2's manifest list: the entries inherit s1
        from the list row's added_snapshot_id, so an incremental read
        of (s1, s2] must return ONLY s2's file — attributing null-sid
        entries to every walked snapshot would duplicate rows."""
        root = str(tmp_path / "ice_null")
        data = os.path.join(root, "data")
        meta = os.path.join(root, "metadata")
        os.makedirs(data)
        os.makedirs(meta)
        o = __import__(
            "algebraicdb_spark.sources.catalog", fromlist=["load_tables"]
        ).load_tables(spark, sf_dir)["orders"]
        ff = os.path.join(data, "f.parquet")
        fg = os.path.join(data, "g.parquet")
        nf = write_parquet_file(spark, o.where(F.col("o_orderkey") % 2 == 0), ff)
        ng = write_parquet_file(spark, o.where(F.col("o_orderkey") % 2 == 1), fg)
        s1, s2 = 2001, 2002
        m1 = os.path.join(meta, "m1.avro")
        with open(m1, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA, [manifest_rec_nullsid(1, ff, nf)]
            ))
        m2 = os.path.join(meta, "m2.avro")
        with open(m2, "wb") as f:
            f.write(avro_container(
                MANIFEST_SCHEMA, [manifest_rec_nullsid(1, fg, ng)]
            ))
        ml1 = os.path.join(meta, "snap-2001.avro")
        with open(ml1, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA, [manifest_list_rec(m1, s1)]
            ))
        ml2 = os.path.join(meta, "snap-2002.avro")
        with open(ml2, "wb") as f:
            # s2 REUSES m1 (added at s1) alongside its own m2
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA,
                [manifest_list_rec(m1, s1), manifest_list_rec(m2, s2)],
            ))
        md = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000002",
            "location": root,
            "current-snapshot-id": s2,
            "snapshots": [
                {"snapshot-id": s1, "timestamp-ms": 1, "manifest-list": ml1},
                {"snapshot-id": s2, "timestamp-ms": 2,
                 "parent-snapshot-id": s1,
                 "summary": {"operation": "append"},
                 "manifest-list": ml2},
            ],
        }
        with open(os.path.join(meta, "v1.metadata.json"), "w") as f:
            json.dump(md, f)
        t = IcebergTable(root)
        # snapshot read sees both files exactly once
        assert t.snapshot(spark).count() == nf + ng
        # incremental (s1, s2]: only g, each row exactly once
        got = t.changes(spark, s1, s2)
        assert got.count() == ng
        assert got.where(F.col("o_orderkey") % 2 == 0).count() == 0


class TestIcebergDuplicateManifestListings:
    def test_existing_carry_folds_with_added_entry(self, spark, tmp_path):
        """The same data file listed in TWO manifests — the original
        ADDED entry with an explicit sequence number next to an
        EXISTING carry whose sequence is unresolvable (null) — must
        fold to ONE scan entry carrying the resolved sequence: a
        plain set would both double-scan the file (duplicate rows)
        and crash sorting None against int on the seq slot."""
        root = str(tmp_path / "ice_dup")
        data = os.path.join(root, "data")
        meta = os.path.join(root, "metadata")
        os.makedirs(data)
        os.makedirs(meta)
        f1 = os.path.join(data, "f1.parquet")
        write_parquet_file(
            spark,
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
            f1,
        )
        s = 9001
        m_a = os.path.join(meta, "mA.avro")
        with open(m_a, "wb") as f:  # ADDED, explicit seq 1
            f.write(avro_container(
                MANIFEST_SCHEMA_SEQ, [manifest_rec_seq(1, s, 1, f1, 2)]
            ))
        m_b = os.path.join(meta, "mB.avro")
        with open(m_b, "wb") as f:  # EXISTING carry, null seq → None
            f.write(avro_container(
                MANIFEST_SCHEMA_SEQ, [manifest_rec_seq(0, s, None, f1, 2)]
            ))
        ml = os.path.join(meta, f"snap-{s}.avro")
        with open(ml, "wb") as f:
            f.write(avro_container(
                MANIFEST_LIST_SCHEMA_SEQ,
                [manifest_list_rec_seq(m_a, s, 1),
                 manifest_list_rec_seq(m_b, s, 2)],
            ))
        md = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000009",
            "location": root,
            "current-schema-id": 0,
            "schemas": [{
                "schema-id": 0, "type": "struct",
                "fields": [
                    {"id": 1, "name": "k", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "v", "required": False,
                     "type": "string"},
                ],
            }],
            "current-snapshot-id": s,
            "snapshots": [
                {"snapshot-id": s, "timestamp-ms": 1, "manifest-list": ml},
            ],
        }
        with open(os.path.join(meta, "v1.metadata.json"), "w") as f:
            json.dump(md, f)
        t = IcebergTable(root)
        assert t.snapshot(spark).count() == 2  # once, not twice
        assert sorted(p for p in t.live_paths()) == [f1]


class TestIcebergWriter:
    """Append-only Iceberg v2 writer round-trips: every read goes back
    through IcebergTable — the reader validated against hand-written
    fixtures, never against this writer — so agreement is evidence
    both speak the spec. The dialect surface (ATTACH / DESCRIBE
    HISTORY / COPY FROM) completes the interop triplet."""

    def test_append_round_trips_with_time_travel(
        self, spark, sf_dir, tmp_path
    ):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        o = __import__(
            "algebraicdb_spark.sources.catalog", fromlist=["load_tables"]
        ).load_tables(spark, sf_dir)["region"]
        root = str(tmp_path / "it")
        w = IcebergTableWriter(root)
        s1 = w.append(o.limit(2))
        s2 = w.append(o.limit(3))
        t = IcebergTable(root)
        assert t.current_snapshot_id() == s2
        assert t.snapshot(spark).count() == 5
        # time travel by snapshot id — the carried-forward manifest
        # list means s1 is fully reconstructable
        assert t.snapshot(spark, snapshot_id=s1).count() == 2
        # the snapshot chain carries parentage + sequence numbers
        snaps = {s["snapshot-id"]: s for s in t.snapshots()}
        assert snaps[s2]["parent-snapshot-id"] == s1
        assert snaps[s2]["sequence-number"] == 2
        # schema round-trips (reader pins nothing — parquet footers
        # agree because the writer never mixes schemas)
        assert t.snapshot(spark).schema == o.limit(1).schema
        # incremental scan over our own output
        inc = t.changes(spark, s1, s2)
        assert inc.count() == 3

    def test_append_onto_uri_recorded_metadata(
        self, spark, sf_dir, tmp_path
    ):
        """Foreign metadata records manifest-list / manifest paths as
        absolute URIs (file://…); the APPEND path must resolve them
        like every read path does — a raw open() of the URI string
        broke appends onto any table we didn't write ourselves."""
        import json as _json

        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        o = __import__(
            "algebraicdb_spark.sources.catalog", fromlist=["load_tables"]
        ).load_tables(spark, sf_dir)["region"]
        root = str(tmp_path / "it")
        w = IcebergTableWriter(root)
        w.append(o.limit(2))
        # rewrite the current metadata the way a URI-based catalog
        # records it: every location becomes a file:// URI
        meta_dir = os.path.join(root, "metadata")
        mfile = sorted(
            f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")
        )[-1]
        with open(os.path.join(meta_dir, mfile)) as f:
            md = _json.load(f)
        for s in md["snapshots"]:
            s["manifest-list"] = "file://" + s["manifest-list"]
        with open(os.path.join(meta_dir, mfile), "w") as f:
            _json.dump(md, f)
        s2 = w.append(o.limit(3))  # was: FileNotFoundError on the URI
        t = IcebergTable(root)
        assert t.current_snapshot_id() == s2
        assert t.snapshot(spark).count() == 5

    def test_schema_gate_and_nested_refusal(self, spark, sf_dir, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        root = str(tmp_path / "it")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame([(1, "a")], "id long, s string"))
        with pytest.raises(ValueError, match="differs from the table's"):
            w.append(spark.createDataFrame([(2,)], "id long"))
        # a refused batch leaves no orphan data files: everything on
        # disk is manifest-referenced
        t = IcebergTable(root)
        on_disk = {
            os.path.join(root, "data", f)
            for f in os.listdir(os.path.join(root, "data"))
        }
        assert on_disk == set(t.live_paths())
        # nested columns WRITE now (round 12 lifted the flat-only
        # refusal — see test_round12_fixes.TestNestedIcebergWrites);
        # only spec-unmappable types still refuse
        w2 = IcebergTableWriter(str(tmp_path / "it2"))
        w2.append(spark.createDataFrame(
            [(1, [1, 2])], "id long, xs array<long>"))
        assert [
            (r["id"], list(r["xs"]))
            for r in IcebergTable(w2.path).snapshot(spark).collect()
        ] == [(1, [1, 2])]
        with pytest.raises(NotImplementedError, match="no spec mapping"):
            IcebergTableWriter(str(tmp_path / "it3")).append(
                spark.range(1).select(
                    F.make_ym_interval(F.lit(1), F.lit(2)).alias("ym")
                )
            )

    def test_publish_race_one_winner_and_no_leaks(
        self, spark, sf_dir, tmp_path
    ):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )
        from algebraicdb_spark.operators.txnlog import ConcurrentWriteError

        root = str(tmp_path / "it")
        a, b = IcebergTableWriter(root), IcebergTableWriter(root)
        a.append(spark.createDataFrame([(1,)], "id long"))
        # freeze b's view of the metadata head (simulates a racer
        # landing between b's read and publish) — every publish
        # collides, retries exhaust, staging must not leak
        stale = b._current()
        b._current = lambda: stale
        a.append(spark.createDataFrame([(2,)], "id long"))
        with pytest.raises(ConcurrentWriteError, match="rebase|contention"):
            b.append(spark.createDataFrame([(3,)], "id long"))
        t = IcebergTable(root)
        assert t.snapshot(spark).count() == 2
        on_disk = {
            os.path.join(root, "data", f)
            for f in os.listdir(os.path.join(root, "data"))
        }
        assert on_disk == set(t.live_paths()), "loser's staging leaked"
        # the loser's manifest/list avros were reclaimed too: every
        # .avro under metadata/ is referenced by some snapshot
        referenced = set()
        for s in t.snapshots():
            referenced.add(s["manifest-list"])
            for mp, _sid, _c, _seq in t._manifests(s):
                referenced.add(mp)
        avros = {
            os.path.join(root, "metadata", f)
            for f in os.listdir(os.path.join(root, "metadata"))
            if f.endswith(".avro")
        }
        assert avros == referenced

    def test_attach_describe_history_and_copy(self, spark, sf_dir, tmp_path):
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.functions.adt import AdtError
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        o = __import__(
            "algebraicdb_spark.sources.catalog", fromlist=["load_tables"]
        ).load_tables(spark, sf_dir)["region"]
        root = str(tmp_path / "it")
        w = IcebergTableWriter(root)
        s1 = w.append(o.limit(2))
        s2 = w.append(o.limit(3))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE ice FROM iceberg LOCATION '{root}'")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ice").collect()[0]["n"] == 5
        hist = eng.sql("DESCRIBE HISTORY ice").collect()
        assert [(h["snapshot_id"], h["parent_snapshot_id"], h["operation"])
                for h in hist] == [
            (s1, None, "append"), (s2, s1, "append"),
        ]
        # VERSION pin = snapshot id, straight from ATTACH
        eng.sql(
            f"ATTACH TABLE ice1 FROM iceberg LOCATION '{root}' VERSION {s1}"
        )
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ice1").collect()[0]["n"] == 2
        # COPY FROM lands as a REAL iceberg append (round 11 — the
        # triplet's last read-only leg becomes writable for appends)
        batch_dir = str(tmp_path / "batch")
        o.limit(4).write.parquet(batch_dir)
        eng.sql(f"COPY ice FROM '{batch_dir}' (FORMAT parquet)")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ice").collect()[0]["n"] == 9
        assert len(IcebergTable(root).snapshots()) == 3
        # row mutation graduated later in round 11: DELETE commits a
        # real COW snapshot (TestIcebergCowMutation pins the format);
        # this surface test checks the SQL routing end-to-end
        eng.sql("DELETE FROM ice WHERE r_regionkey = 0")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ice WHERE r_regionkey = 0"
        ).collect()[0]["n"] == 0
        assert len(IcebergTable(root).snapshots()) == 4


class TestIcebergWriterBounds:
    """Writer-side manifest bounds (round 11, second half): every
    staged file's manifest entry carries per-column [min, max] in the
    spec's single-value binary serialization — the stats every
    Iceberg planner data-skips on. Proof is the two-path methodology:
    the bounds are DECODED by the reader validated against
    hand-written fixtures, never by this writer."""

    def test_append_emits_prunable_bounds(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        root = str(tmp_path / "it")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame(
            [(1, 1.5, "aa"), (2, 2.5, "bb")], "k long, v double, s string"
        ).coalesce(1))
        w.append(spark.createDataFrame(
            [(100, 9.5, "zz")], "k long, v double, s string"
        ).coalesce(1))
        t = IcebergTable(root)
        st = t._prunable_state()
        assert len(st) == 2
        bounds = sorted(b["k"] for b, *_pv in st.values())
        assert bounds == [[1, 2], [100, 100]]
        # string and double bounds decode too
        small = next(b for b, *_pv in st.values() if b["k"] == [1, 2])
        assert small["s"] == ["aa", "bb"] and small["v"] == [1.5, 2.5]
        # the skip tier now prunes OUR OWN tables
        assert len(t.live_paths(skip=[("k", 0, 10)])) == 1
        assert t.snapshot(spark, skip=[("k", 50, 200)]).count() == 1

    def test_zorder_optimize_cuts_file_opens(self, spark, tmp_path):
        """OPTIMIZE ZORDER on iceberg (was: refusal): Morton-clustered
        rewrite + per-file bounds → a narrow range on EITHER
        clustering column opens at most half the files, row-identical."""
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        root = str(tmp_path / "z")
        w = IcebergTableWriter(root)
        rows = [(i % 50, (i * 7) % 50) for i in range(2000)]
        w.append(spark.createDataFrame(rows, "a long, b long")
                 .repartition(8))
        sid = w.optimize(spark, target_files=8, zorder_by=["a", "b"])
        assert sid is not None
        t = IcebergTable(root)
        n = len(t.live_paths())
        assert n >= 4
        for col in ("a", "b"):
            kept = len(t.live_paths(skip=[(col, 0, 5)]))
            assert kept <= n // 2, (col, kept, n)
        assert t.snapshot(spark).count() == 2000
        # the replace snapshot is invisible to the incremental feed
        assert (
            (t.snapshots()[-1].get("summary") or {}).get("operation")
            == "replace"
        )

    def test_survivor_bounds_carry_through_cow(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        root = str(tmp_path / "c")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string").coalesce(1))
        w.append(spark.createDataFrame([(50, "x")], "k long, v string"))
        w.delete(spark, "k = 50")  # rewrites that file's manifest
        t = IcebergTable(root)
        st = t._prunable_state()
        # the untouched survivor kept its bounds through the rewrite
        assert any(b.get("k") == [1, 2] for b, *_pv in st.values())

    def test_sql_zorder_on_iceberg_attachment(self, spark, tmp_path):
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "q"))
        w.append(spark.createDataFrame(
            [(i % 20, i) for i in range(200)], "a long, b long"
        ).repartition(4))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE ic FROM iceberg LOCATION '{w.path}'")
        eng.sql("OPTIMIZE TABLE ic ZORDER BY (a, b)")  # was: refusal
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ic"
        ).collect()[0]["n"] == 200


class TestIcebergMergeOnRead:
    """MoR mutation via standard v2 POSITION-DELETE files — the
    iceberg twin of the Delta deletion-vector work: O(changed rows)
    committed, zero rewrite, consumed by any v2 client. Two-path
    proof: every read goes through IcebergTable, whose position-delete
    apply was validated on HAND-WRITTEN fixtures
    (TestIcebergPositionDeletes), never this writer."""

    @staticmethod
    def _table(spark, tmp_path, name="m"):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / name))
        w.append(spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, v double"
        ).coalesce(1))
        return w

    def test_mor_delete_unions_and_never_rematches(self, spark, tmp_path):
        w = self._table(spark, tmp_path)
        r1 = w.delete(spark, "k IN (1, 4)", mode="mor")
        assert r1["rows_deleted"] == 2 and r1["delete_files"] == 1
        t = IcebergTable(w.path)
        assert sorted(
            r["k"] for r in t.snapshot(spark).collect()
        ) == [0, 2, 3, 5, 6, 7, 8, 9]
        # second delete composes; an already-deleted row never rematches
        assert w.delete(spark, "k <= 2", mode="mor")["rows_deleted"] == 2
        assert w.delete(spark, "k = 2", mode="mor")["version"] is None
        t = IcebergTable(w.path)
        assert sorted(
            r["k"] for r in t.snapshot(spark).collect()
        ) == [3, 5, 6, 7, 8, 9]
        # time travel below the deletes reads the full content
        assert t.snapshot(spark, snapshot_id=r1["version"]).count() == 8

    def test_mor_update_and_merge(self, spark, tmp_path):
        import pytest as _pytest

        w = self._table(spark, tmp_path)
        r = w.update(spark, {"v": "v + 100"}, "k = 3", mode="mor")
        assert r["rows_updated"] == 1
        rows = {
            x["k"]: x["v"]
            for x in IcebergTable(w.path).snapshot(spark).collect()
        }
        assert rows[3] == 103.0 and len(rows) == 10
        src = spark.createDataFrame(
            [(2, 99.0), (77, 7.0)], "k long, nv double")
        rm = w.merge(spark, src, "t.k = s.k", {"v": "s.nv"},
                     ["s.k", "s.nv"], mode="mor")
        assert (rm["rows_matched"], rm["rows_inserted"]) == (1, 1)
        rows = {
            x["k"]: x["v"]
            for x in IcebergTable(w.path).snapshot(spark).collect()
        }
        assert rows[2] == 99.0 and rows[77] == 7.0 and len(rows) == 11
        # a multi-matching source refuses UPDATE merges…
        dup = spark.createDataFrame(
            [(5, 0.0), (5, 1.0)], "k long, x double")
        with _pytest.raises(ValueError, match="multiple source rows"):
            w.merge(spark, dup, "t.k = s.k", {"v": "s.x"}, None,
                    mode="mor")
        # …and is harmless for DELETE merges (the delete set dedups)
        rd = w.merge(spark, dup, "t.k = s.k", None, None,
                     delete_matched=True, mode="mor")
        assert rd["rows_matched"] == 1
        assert IcebergTable(w.path).snapshot(spark).where(
            "k = 5").count() == 0

    def test_auto_mode_honors_table_property(self, spark, tmp_path):
        import json as _json
        import os as _os

        w = self._table(spark, tmp_path)
        mdir = _os.path.join(w.path, "metadata")
        mf = sorted(
            f for f in _os.listdir(mdir) if f.endswith(".metadata.json")
        )[-1]
        with open(_os.path.join(mdir, mf)) as f:
            md = _json.load(f)
        md["properties"] = {"write.delete.mode": "merge-on-read"}
        with open(_os.path.join(mdir, mf), "w") as f:
            _json.dump(md, f)
        w.delete(spark, "k = 1")  # auto → MoR via the iceberg property
        t = IcebergTable(w.path)
        _d, pos, _e, _dv = t._files(None)
        assert len(pos) == 1
        assert t.snapshot(spark).count() == 9

    def test_optimize_purges_position_deletes(self, spark, tmp_path):
        w = self._table(spark, tmp_path)
        w.delete(spark, "k IN (1, 4)", mode="mor")
        w.update(spark, {"v": "v * 2"}, "k = 7", mode="mor")
        before = {
            x["k"]: x["v"]
            for x in IcebergTable(w.path).snapshot(spark).collect()
        }
        sid = w.optimize(spark, target_files=2)
        assert sid is not None
        t = IcebergTable(w.path)
        data, pos, eq, _dv = t._files(None)
        assert pos == [] and eq == []
        assert len(data) <= 2
        after = {
            x["k"]: x["v"] for x in t.snapshot(spark).collect()
        }
        assert after == before  # content-preserving purge
        # a raw path list works again (no live deletes)
        assert len(t.live_paths()) == len(data)
        assert (
            (t.snapshots()[-1].get("summary") or {}).get("operation")
            == "replace"
        )

    def test_upsert_by_key_via_equality_deletes(self, spark, tmp_path):
        """Keyed upsert as ONE snapshot: an equality-delete file of
        the batch's keys + the batch itself at the SAME sequence — the
        spec's strictly-lower rule makes it atomic, with NO probe scan
        (O(batch) regardless of table size; the shape streaming CDC
        sinks use). Reads resolve through the reader's fixture-
        validated stratum ordering."""
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "u"))
        w.append(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).coalesce(1))
        r = w.upsert_by_key(spark, spark.createDataFrame(
            [(2, "B"), (4, "d")], "k long, v string"
        ).coalesce(1), ["k"])
        assert (r["rows_upserted"], r["keys_deleted"]) == (2, 2)
        t = IcebergTable(w.path)
        assert {
            (x["k"], x["v"]) for x in t.snapshot(spark).collect()
        } == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
        # strata compose: a second upsert re-targets the first's rows
        w.upsert_by_key(spark, spark.createDataFrame(
            [(4, "D"), (1, "A")], "k long, v string"
        ).coalesce(1), ["k"])
        assert {
            (x["k"], x["v"])
            for x in IcebergTable(w.path).snapshot(spark).collect()
        } == {(1, "A"), (2, "B"), (3, "c"), (4, "D")}
        # exactly-once marks: a redelivered (app, version) no-ops
        r1 = w.upsert_by_key(
            spark,
            spark.createDataFrame([(9, "z")], "k long, v string")
            .coalesce(1),
            ["k"], app_id="cdc", txn_version=7,
        )
        r2 = w.upsert_by_key(
            spark,
            spark.createDataFrame([(9, "z")], "k long, v string")
            .coalesce(1),
            ["k"], app_id="cdc", txn_version=7,
        )
        assert r1["version"] is not None and r2["version"] is None
        assert IcebergTable(w.path).snapshot(spark).where(
            "k = 9").count() == 1

    def test_upsert_refuses_duplicate_keys_in_batch(
        self, spark, tmp_path
    ):
        """Two source rows sharing a key would BOTH survive the
        same-sequence delete — silent key-uniqueness corruption;
        refuse loudly and leave no staged orphans."""
        import os as _os

        import pytest as _pytest

        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "dup"))
        w.append(spark.createDataFrame(
            [(1, "a")], "k long, v string").coalesce(1))
        before = set(_os.listdir(_os.path.join(w.path, "data")))
        with _pytest.raises(ValueError, match="share a key"):
            w.upsert_by_key(spark, spark.createDataFrame(
                [(1, "x"), (1, "y")], "k long, v string"
            ).coalesce(1), ["k"])
        assert set(_os.listdir(_os.path.join(w.path, "data"))) == before
        assert IcebergTable(w.path).snapshot(spark).count() == 1

    def test_mor_composes_with_live_equality_deletes(
        self, spark, tmp_path
    ):
        """Position-delete mutations APPLY live equality deletes in
        the probe (an UPDATE postimage of an equality-deleted row
        would resurrect it), and OPTIMIZE purges BOTH delete kinds."""
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "c"))
        w.append(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).coalesce(1))
        w.upsert_by_key(spark, spark.createDataFrame(
            [(2, "B")], "k long, v string").coalesce(1), ["k"])
        w.delete(spark, "k = 3", mode="mor")
        # the UPDATE touches every LIVE row — the eq-deleted old (2,b)
        # must not come back
        r = w.update(spark, {"v": "upper(v)"}, None, mode="mor")
        assert r["rows_updated"] == 2
        t = IcebergTable(w.path)
        assert {
            (x["k"], x["v"]) for x in t.snapshot(spark).collect()
        } == {(1, "A"), (2, "B")}
        # purge drops BOTH delete kinds, content identical
        assert w.optimize(spark, target_files=1) is not None
        t = IcebergTable(w.path)
        _d, pos, eq, _dv = t._files(None)
        assert pos == [] and eq == []
        assert {
            (x["k"], x["v"]) for x in t.snapshot(spark).collect()
        } == {(1, "A"), (2, "B")}

    def test_no_match_mutations_leave_no_orphans(self, spark, tmp_path):
        """A MoR mutation matching nothing must not leave 0-row staged
        parquet behind in data/ — nothing reclaims unreferenced files
        (expire_snapshots walks manifest trees, never the directory)."""
        import os as _os

        w = self._table(spark, tmp_path)
        data_dir = _os.path.join(w.path, "data")
        before = set(_os.listdir(data_dir))
        assert w.delete(spark, "k = 999", mode="mor")["version"] is None
        assert w.update(
            spark, {"v": "v"}, "k = 999", mode="mor"
        )["version"] is None
        src = spark.createDataFrame([(999, 0.0)], "k long, x double")
        # matched-nothing merge with a BAD insert arity: refusal must
        # also unstage whatever landed
        import pytest as _pytest

        with _pytest.raises(ValueError, match="expressions for"):
            w.merge(spark, src, "t.k = s.k", {"v": "s.x"}, ["s.k"],
                    mode="mor")
        assert set(_os.listdir(data_dir)) == before

    def test_zorder_on_emptied_table_is_a_noop(self, spark, tmp_path):
        w = self._table(spark, tmp_path)
        w.delete(spark, "TRUE")  # COW: every file drops, live set empty
        assert w.optimize(spark, zorder_by=["k"]) is None  # not a crash

    def test_mor_refuses_partitioned_tables(self, spark, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "p"))
        w.append(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "k long, r string"),
            partition_by=["r"],
        )
        with _pytest.raises(NotImplementedError, match="PARTITIONED"):
            w.delete(spark, "k = 1", mode="mor")
        # cow still handles it
        assert w.delete(spark, "k = 1")["rows_deleted"] == 1


class TestIcebergRollback:
    def test_rollback_restores_and_preserves_history(
        self, spark, tmp_path
    ):
        """rollback_to_snapshot: the current pointer moves back in a
        NEW metadata version (CAS publish), the snapshot chain stays
        (time travel above the rollback still works), expired targets
        refuse."""
        import pytest as _pytest

        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        root = str(tmp_path / "it")
        w = IcebergTableWriter(root)
        s1 = w.append(spark.createDataFrame(
            [(1, "a")], "k long, v string"))
        s2 = w.append(spark.createDataFrame(
            [(2, "b")], "k long, v string"))
        t = IcebergTable(root)
        assert t.snapshot(spark).count() == 2
        w.rollback(s1)
        t = IcebergTable(root)  # fresh metadata read
        assert t.current_snapshot_id() == s1
        assert t.snapshot(spark).count() == 1
        # the undone snapshot is still readable by id
        assert t.snapshot(spark, snapshot_id=s2).count() == 2
        # rollback to the current snapshot is a no-op (same metadata v)
        v = w.rollback(s1)
        assert w.rollback(s1) == v
        # an unknown / expired snapshot refuses
        with _pytest.raises(ValueError, match="not in the"):
            w.rollback(999999)
        # appends continue from the rolled-back state
        w.append(spark.createDataFrame([(3, "c")], "k long, v string"))
        assert IcebergTable(root).snapshot(spark).count() == 2


class TestIcebergCowMutation:
    """Round-11 second half: copy-on-write DELETE/UPDATE as real
    Iceberg v2 snapshots — manifest surgery (EXISTING survivors with
    explicit sequence numbers, DELETED casualties recording the
    mutating snapshot), verified by reading back through the
    fixture-validated reader."""

    @staticmethod
    def _table(spark, tmp_path, name="ic"):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / name))
        for base in (0, 10, 20):
            w.append(
                spark.createDataFrame(
                    [(base + i, float(base + i)) for i in range(4)],
                    "k long, v double",
                ).coalesce(1)
            )
        return w

    def test_delete_round_trips_with_time_travel(self, spark, tmp_path):
        w = self._table(spark, tmp_path)
        t0 = IcebergTable(w.path)
        pre = t0.current_snapshot_id()
        # k=1 is one row of the first file (partial rewrite); k 10-13
        # is the ENTIRE second file (pure DELETED entry, no rewrite)
        res = w.delete(spark, "k = 1 OR (k >= 10 AND k < 20)")
        assert res["rows_deleted"] == 5
        assert res["files_removed"] == 2 and res["files_rewritten"] == 1
        t = IcebergTable(w.path)
        assert t.current_snapshot_id() == res["version"]
        snap = t.snapshot(spark)
        assert sorted(r["k"] for r in snap.collect()) == [
            0, 2, 3, 20, 21, 22, 23,
        ]
        # time travel: the pre-delete snapshot's manifest tree is
        # untouched and reads the original 12 rows
        assert t.snapshot(spark, snapshot_id=pre).count() == 12
        # the delete snapshot records parentage + its operation
        snaps = {s["snapshot-id"]: s for s in t.snapshots()}
        assert snaps[res["version"]]["parent-snapshot-id"] == pre
        assert snaps[res["version"]]["summary"]["operation"] == "delete"
        # the partial file was REPLACED (DELETED + rewrite under the
        # new sequence); the untouched third file carries verbatim
        data, _pd, _ed, _dv = t._files(None)
        seqs = sorted(s for _p, _u, s in data)
        assert seqs == [3, 4]  # file3 keeps seq 3; rewrite takes seq 4
        # NULL predicate keeps rows (SQL DELETE semantics)
        res2 = w.delete(spark, "v > 100.0")
        assert res2["rows_deleted"] == 0 and res2["version"] is None

    def test_existing_survivors_keep_original_sequence(
        self, spark, tmp_path
    ):
        """A manifest holding TWO files with only one affected: the
        survivor's entry rewrites as status EXISTING with its ORIGINAL
        data sequence number made explicit — the field the reader's
        equality-delete ordering depends on."""
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "surv"))
        # ONE append staged as two range-split files (k 0-3 | 100-103)
        # — both entries land in the SAME manifest
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(4)]
            + [(100 + i, float(100 + i)) for i in range(4)],
            "k long, v double",
        ).repartitionByRange(2, "k")
        w.append(df)
        res = w.delete(spark, "k >= 100")  # exactly the second file
        assert res["files_removed"] == 1 and res["files_rewritten"] == 0
        t = IcebergTable(w.path)
        assert sorted(r["k"] for r in t.snapshot(spark).collect()) == [
            0, 1, 2, 3,
        ]
        snap = t._snapshot(None)
        statuses = []
        for mpath, _sid, _c, _mseq in t._manifests(snap):
            for e in AvroFileReader(mpath).records:
                statuses.append(
                    (e.get("status"), e.get("sequence_number"))
                )
        # the rewritten manifest holds the casualty (status 2) AND the
        # survivor as EXISTING (status 0), BOTH with the original
        # explicit sequence number
        assert (2, 1) in statuses
        assert (0, 1) in statuses

    def test_update_round_trips(self, spark, tmp_path):
        w = self._table(spark, tmp_path)
        res = w.update(spark, {"v": "v * 2"}, "k >= 20")
        assert res["rows_updated"] == 4 and res["files_rewritten"] == 1
        t = IcebergTable(w.path)
        got = sorted(
            (r["k"], r["v"]) for r in t.snapshot(spark).collect()
        )
        assert got[-1] == (23, 46.0)
        assert got[0] == (0, 0.0)  # untouched files untouched
        assert t.snapshot(spark).count() == 12
        with pytest.raises(ValueError, match="unknown column"):
            w.update(spark, {"zz": "1"}, None)
        # declared-type cast: assigning an int expr keeps v a double
        w.update(spark, {"v": "7"}, "k = 0")
        assert [
            r["v"] for r in IcebergTable(w.path).snapshot(spark)
            .where("k = 0").collect()
        ] == [7.0]

    def test_scope_gates_refuse_loudly(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        # partitioned spec refuses (hand-written metadata)
        root = str(tmp_path / "part")
        os.makedirs(os.path.join(root, "metadata"))
        md = {
            "format-version": 2, "table-uuid": "u", "location": root,
            "last-sequence-number": 1, "last-updated-ms": 0,
            "last-column-id": 1,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "k", "required": False,
                 "type": "long"}]}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": "k_z", "transform": "zorder[2]",
                 "source-id": 1, "field-id": 1000}]}],
            "default-spec-id": 0, "last-partition-id": 1000,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0, "properties": {},
            "current-snapshot-id": 1001,
            "snapshots": [{"snapshot-id": 1001, "sequence-number": 1,
                           "timestamp-ms": 0, "manifest-list": "x",
                           "summary": {"operation": "append"},
                           "schema-id": 0}],
            "snapshot-log": [], "metadata-log": [],
        }
        with open(os.path.join(root, "metadata", "v1.metadata.json"),
                  "w") as f:
            json.dump(md, f)
        with open(os.path.join(root, "metadata", "version-hint.text"),
                  "w") as f:
            f.write("1")
        # identity-partitioned mutation graduated with partitioned
        # appends, and round 12 graduated bucket/truncate/temporal/
        # void transforms too; a transform with NO evaluator here (a
        # made-up future one) still refuses loudly
        with pytest.raises(NotImplementedError, match="transform"):
            IcebergTableWriter(root).delete(spark, "k = 1")

    def test_sql_delete_update_on_iceberg_attachment(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from algebraicdb_spark.engine import AdtError, Engine

        w = self._table(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE ic FROM iceberg LOCATION '{w.path}'")
        eng.sql("DELETE FROM ic WHERE k >= 20")
        eng.sql("REFRESH TABLE ic")  # survives re-resolution
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ic").collect()[0]["n"] == 8
        eng.sql("UPDATE ic SET v = 0.5 WHERE k = 0")
        assert eng.sql(
            "SELECT v FROM ic WHERE k = 0").collect()[0]["v"] == 0.5
        # MERGE routes through the writer too (upsert in ONE snapshot)
        spark.createDataFrame(
            [(0, 9.9), (99, 99.0)], "k long, v double"
        ).createOrReplaceTempView("icmsrc")
        eng.sql(
            "MERGE INTO ic USING icmsrc ON ic.k = icmsrc.k "
            "WHEN MATCHED THEN UPDATE SET v = icmsrc.v "
            "WHEN NOT MATCHED THEN INSERT VALUES (icmsrc.k, icmsrc.v)"
        )
        got = {
            r["k"]: r["v"]
            for r in eng.sql(
                "SELECT * FROM ic WHERE k IN (0, 99)").collect()
        }
        assert got == {0: 9.9, 99: 99.0}
        # VERSION-pinned attachments refuse mutation
        pre = IcebergTable(w.path).snapshots()[0]["snapshot-id"]
        eng.sql(
            f"ATTACH TABLE icp FROM iceberg LOCATION '{w.path}' "
            f"VERSION {pre}"
        )
        with _pytest.raises(AdtError, match="pinned"):
            eng.sql("DELETE FROM icp WHERE k = 0")

    def test_lost_publish_race_rederives_and_reclaims(
        self, spark, tmp_path
    ):
        """A racer taking the next metadata version forces a re-derive:
        the loser's manifest/list avros are reclaimed and the retry
        commits on the NEW head."""
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = self._table(spark, tmp_path)
        # count metadata avros before
        pre_avros = {
            f for f in os.listdir(w.meta_dir) if f.endswith(".avro")
        }
        # occupy the next metadata slot with a COPY of the current
        # metadata (a racer that committed a no-op rebase)
        base_v, cur = w._current()
        with open(os.path.join(
                w.meta_dir, f"v{base_v + 1}.metadata.json"), "w") as f:
            json.dump(cur, f)
        res = w.delete(spark, "k = 1")
        assert res["rows_deleted"] == 1
        # committed one slot past the racer
        assert w._current()[0] == base_v + 2
        t = IcebergTable(w.path)
        assert t.snapshot(spark).count() == 11
        # every avro on disk is referenced by SOME snapshot's tree:
        # the lost attempt's files were reclaimed
        referenced = set()
        for s in t.snapshots():
            ml = t._resolve(s["manifest-list"])
            referenced.add(os.path.basename(ml))
            for r in AvroFileReader(ml).records:
                referenced.add(os.path.basename(r["manifest_path"]))
        on_disk = {
            f for f in os.listdir(w.meta_dir) if f.endswith(".avro")
        }
        assert on_disk == referenced | pre_avros

    def test_merge_round_trips(self, spark, tmp_path):
        """MERGE as one COW snapshot: matched rows update in place,
        unmatched source rows insert, multi-matching sources refuse
        via the footer-count signal."""
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = self._table(spark, tmp_path, "mrg")
        src = spark.createDataFrame(
            [(1, 100.0), (11, 111.0), (50, 50.0)], "k long, nv double"
        )
        res = w.merge(
            spark, src, "t.k = s.k", {"v": "s.nv"}, ["s.k", "s.nv"],
        )
        assert res["rows_matched"] == 2 and res["rows_inserted"] == 1
        t = IcebergTable(w.path)
        got = {r["k"]: r["v"] for r in t.snapshot(spark).collect()}
        assert got[1] == 100.0 and got[11] == 111.0 and got[50] == 50.0
        assert got[0] == 0.0  # untouched
        assert len(got) == 13
        # WHEN MATCHED THEN DELETE: full file drops, partial rewrites
        res = w.merge(
            spark,
            spark.createDataFrame(
                [(20,), (21,), (22,), (23,), (2,)], "k long"
            ),
            "t.k = s.k", None, None, delete_matched=True,
        )
        assert res["rows_matched"] == 5
        assert IcebergTable(w.path).snapshot(spark).count() == 8
        # multi-matching source refuses loudly and leaves no orphans
        dup = spark.createDataFrame(
            [(1, 1.0), (1, 2.0)], "k long, nv double"
        )
        with pytest.raises(ValueError, match="matched multiple"):
            w.merge(spark, dup, "t.k = s.k", {"v": "s.nv"}, None)
        assert IcebergTable(w.path).snapshot(spark).count() == 8
        on_disk = {
            os.path.join(w.path, "data", f)
            for f in os.listdir(os.path.join(w.path, "data"))
        }
        # every data file on disk is referenced by SOME snapshot
        referenced = set()
        t = IcebergTable(w.path)
        for s in t.snapshots():
            for mpath, _sid, _c, _ms in t._manifests(s):
                for e in AvroFileReader(mpath).records:
                    referenced.add(
                        t._resolve(e["data_file"]["file_path"])
                    )
        assert on_disk <= referenced


class TestIcebergExactlyOnce:
    """Exactly-once appends into Iceberg: the (app_id, txn_version)
    replay mark rides the snapshot summary — the pattern streaming
    committers use on this format (the spec allows engine-specific
    summary entries), closing the sink's third format leg."""

    def test_append_txn_is_exactly_once(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "eo"))
        df = spark.createDataFrame([(1, 1.0)], "k long, v double")
        s0 = w.append_txn(df, "ingest", 0)
        assert s0 is not None
        # redelivered batch: no-op, no orphan data files
        before = set(os.listdir(os.path.join(w.path, "data")))
        assert w.append_txn(df, "ingest", 0) is None
        assert set(os.listdir(os.path.join(w.path, "data"))) == before
        assert w.last_txn_version("ingest") == 0
        assert w.last_txn_version("other") == -1
        s1 = w.append_txn(
            spark.createDataFrame([(2, 2.0)], "k long, v double"),
            "ingest", 1,
        )
        assert s1 is not None and w.last_txn_version("ingest") == 1
        t = IcebergTable(w.path)
        assert t.snapshot(spark).count() == 2
        # the mark is IN the committed snapshot summary — any client
        # reading the metadata sees it
        snaps = {s["snapshot-id"]: s for s in t.snapshots()}
        assert snaps[s1]["summary"]["txn-app-id"] == "ingest"
        assert snaps[s1]["summary"]["txn-version"] == "1"

    def test_sink_committer_targets_iceberg(self, spark, tmp_path):
        """The foreachBatch committer is duck-typed over append_txn —
        the SAME sink body drains into all three formats."""
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )
        from algebraicdb_spark.streaming.sink import txn_committer

        w = IcebergTableWriter(str(tmp_path / "sk"))
        commit = txn_committer(w, "stream")
        df1 = spark.createDataFrame([(1, 1.0)], "k long, v double")
        df2 = spark.createDataFrame([(2, 2.0), (3, 3.0)],
                                    "k long, v double")
        commit(df1, 0)
        commit(df2, 1)
        commit(df2, 1)  # redelivered
        t = IcebergTable(w.path)
        assert t.snapshot(spark).count() == 3
        assert len(t.snapshots()) == 2


    def test_upsert_committer_is_exactly_once_cdc(self, spark, tmp_path):
        """The CDC sink mode: each micro-batch lands as a keyed upsert
        (equality-delete keys + batch, one snapshot, no probe), a
        redelivered batch no-ops on its (app_id, batch_id) mark, and
        the final state is last-write-wins per key across batches."""
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )
        from algebraicdb_spark.streaming.sink import upsert_committer

        w = IcebergTableWriter(str(tmp_path / "cdc"))
        w.append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string").coalesce(1))
        commit = upsert_committer(w, "cdc", ["k"])
        b1 = spark.createDataFrame(
            [(2, "B"), (3, "c")], "k long, v string").coalesce(1)
        b2 = spark.createDataFrame(
            [(3, "C")], "k long, v string").coalesce(1)
        commit(b1, 0)
        commit(b1, 0)  # redelivered: no-op
        commit(b2, 1)
        t = IcebergTable(w.path)
        assert {
            (x["k"], x["v"]) for x in t.snapshot(spark).collect()
        } == {(1, "a"), (2, "B"), (3, "C")}
        # exactly one snapshot per DISTINCT batch (the replay no-op'd)
        assert len(t.snapshots()) == 3


class TestIcebergMaintenance:
    """rewrite_data_files (OPTIMIZE) + expire_snapshots (VACUUM) —
    the maintenance loop on the third format, closing parity with
    txnlog/delta."""

    def test_optimize_compacts_as_replace_snapshot(self, spark, tmp_path):
        w = TestIcebergCowMutation._table(spark, tmp_path, "opt")
        t0 = IcebergTable(w.path)
        pre = t0.current_snapshot_id()
        sid = w.optimize(spark)
        assert sid is not None
        t = IcebergTable(w.path)
        assert t.snapshot(spark).count() == 12
        # one live data file now
        assert len(t.live_paths()) == 1
        snaps = {s["snapshot-id"]: s for s in t.snapshots()}
        assert snaps[sid]["summary"]["operation"] == "replace"
        # the incremental feed SKIPS the compaction traffic
        assert t.changes(spark, pre, sid) is None
        # below min_inputs: no-op
        assert w.optimize(spark) is None
        # time travel still reads the pre-compaction snapshot
        assert t.snapshot(spark, snapshot_id=pre).count() == 12

    def test_expire_snapshots_reclaims_unreachable(self, spark, tmp_path):
        w = TestIcebergCowMutation._table(spark, tmp_path, "exp")
        w.delete(spark, "k = 1")    # rewrites file 1's remainder
        w.optimize(spark)           # rewrites everything
        t = IcebergTable(w.path)
        n_snaps = len(t.snapshots())
        assert n_snaps == 5
        gone = w.expire_snapshots(retain_last=1)
        assert gone, "pre-compaction files were reclaimed"
        t = IcebergTable(w.path)
        assert len(t.snapshots()) == 1
        # the surviving snapshot still reads in full
        assert t.snapshot(spark).count() == 11
        # the current snapshot's files were NOT touched
        assert all(os.path.exists(p) for p in t.live_paths())
        # retention keeps everything when nothing is expirable
        assert w.expire_snapshots(retain_last=5) == []

    def test_sql_maintenance_on_iceberg_attachment(self, spark, tmp_path):
        from algebraicdb_spark.engine import Engine

        w = TestIcebergCowMutation._table(spark, tmp_path, "sqlm")
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE im FROM iceberg LOCATION '{w.path}'")
        eng.sql("OPTIMIZE TABLE im")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM im").collect()[0]["n"] == 12
        assert len(IcebergTable(w.path).live_paths()) == 1
        eng.sql("VACUUM im RETAIN 1")
        assert len(IcebergTable(w.path).snapshots()) == 1
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM im").collect()[0]["n"] == 12
        # ZORDER graduated with writer-side manifest bounds (round 11
        # second half) — see TestIcebergWriterBounds for the span pin
        eng.sql("OPTIMIZE TABLE im ZORDER BY (k)")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM im").collect()[0]["n"] == 12


class TestIcebergPartitionedAppend:
    """Identity-partitioned appends: partition VALUES land typed in
    the manifest entries (what foreign engines prune by) while the
    COLUMNS stay in the data files — iceberg's model, unlike
    hive/delta. The spec is pinned after the first commit."""

    def test_partitioned_append_round_trips(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "pa"))
        df = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0), (4, None, 4.0)],
            "k long, g string, v double",
        )
        w.append(df, partition_by=["g"])
        t = IcebergTable(w.path)
        # the spec is in the metadata: identity on g, field-id 1000
        spec = t.meta["partition-specs"][0]["fields"]
        assert spec == [{"name": "g", "transform": "identity",
                         "source-id": 2, "field-id": 1000}]
        # the COLUMNS are in the data files — a full read round-trips,
        # null partition included
        snap = t.snapshot(spark)
        assert sorted(
            (r["k"], r["g"]) for r in snap.collect()
        ) == [(1, "a"), (2, "b"), (3, "a"), (4, None)]
        # each file holds ONE partition tuple, and its typed value is
        # in the manifest entry's partition record
        seen = set()
        for mpath, _sid, _c, _ms in t._manifests(t._snapshot(None)):
            for e in AvroFileReader(mpath).records:
                pv = e["data_file"]["partition"]
                seen.add(pv.get("g"))
                assert e["data_file"]["record_count"] >= 1
        assert seen == {"a", "b", None}
        # later appends INHERIT the spec (the committer never states
        # one); an explicit different spec refuses
        w.append(spark.createDataFrame(
            [(5, "c", 5.0)], "k long, g string, v double"))
        assert IcebergTable(w.path).snapshot(spark).count() == 5
        with pytest.raises(ValueError, match="spec is pinned"):
            w.append(df, partition_by=["k"])
        # an unsupported partition value type refuses before staging
        w2 = IcebergTableWriter(str(tmp_path / "pb"))
        with pytest.raises(NotImplementedError, match="serialize"):
            w2.append(df, partition_by=["v"])
        # COW mutation graduated to identity-partitioned tables later
        # the same round (TestIcebergPartitionedCow pins the format)
        res = w.delete(spark, "k = 1")
        assert res["rows_deleted"] == 1
        assert IcebergTable(w.path).snapshot(spark).count() == 4

    def test_exactly_once_sink_inherits_partitioning(
        self, spark, tmp_path
    ):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "ps"))
        w.append(
            spark.createDataFrame([(1, 10)], "id long, bucket int"),
            partition_by=["bucket"],
        )
        assert w.append_txn(
            spark.createDataFrame([(2, 20)], "id long, bucket int"),
            "ingest", 0,
        ) is not None
        t = IcebergTable(w.path)
        assert t.snapshot(spark).count() == 2
        vals = set()
        for mpath, _sid, _c, _ms in t._manifests(t._snapshot(None)):
            for e in AvroFileReader(mpath).records:
                vals.add(e["data_file"]["partition"].get("bucket"))
        assert vals == {10, 20}


class TestIcebergDataSkipping:
    """Manifest-side two-tier pruning: identity partition values
    (authoritative) then the spec's binary lower/upper bounds — what
    an Iceberg client's scan planning does before reading a byte."""

    def test_partition_tier_over_own_output(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "pp"))
        w.append(
            spark.createDataFrame(
                [(1, 10, "a"), (2, 10, "b"), (3, 20, "c"), (4, None, "d")],
                "id long, bucket int, s string",
            ),
            partition_by=["bucket"],
        )
        t = IcebergTable(w.path)
        n_all = len(t.live_paths())
        assert len(t.live_paths(skip=[("bucket", 20, 25)])) < n_all
        snap = t.snapshot(spark, skip=[("bucket", 10, 25)])
        # null partition prunes against ranges; others kept
        assert sorted(r["id"] for r in snap.collect()) == [1, 2, 3]
        # everything pruned: empty frame under the table shape, no scan
        empty = t.snapshot(spark, skip=[("bucket", 999, 1000)])
        assert empty.count() == 0
        assert empty.columns == ["id", "bucket", "s"]

    def test_bounds_tier_over_foreign_manifest(self, spark, tmp_path):
        """A foreign-shaped manifest carrying lower/upper bounds keyed
        by FIELD ID in the spec's single-value binary serialization:
        the stats tier prunes on the decoded values; undecodable or
        absent bounds keep the file."""
        import struct as _struct

        from algebraicdb_spark.operators.iceberg_writer import (
            AvroFileWriter,
        )

        root = str(tmp_path / "fb")
        os.makedirs(os.path.join(root, "metadata"))
        os.makedirs(os.path.join(root, "data"))
        # two data files with disjoint k ranges
        p1 = os.path.join(root, "data", "f1.parquet")
        p2 = os.path.join(root, "data", "f2.parquet")
        write_parquet_file(
            spark,
            spark.createDataFrame(
                [(i, f"r{i}") for i in range(10)], "k long, s string"),
            p1,
        )
        write_parquet_file(
            spark,
            spark.createDataFrame(
                [(100 + i, f"r{i}") for i in range(10)],
                "k long, s string"),
            p2,
        )
        kv = {"type": "array", "items": {
            "type": "record", "name": "kvp", "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": "bytes"},
            ]}}
        mschema = {
            "type": "record", "name": "manifest_entry", "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"]},
                {"name": "data_file", "type": {
                    "type": "record", "name": "r2", "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {"name": "lower_bounds", "type": kv},
                        {"name": "upper_bounds", "type": kv},
                    ]}},
            ]}

        def entry(path, lo, hi):
            b = {"content": 0, "file_path": path,
                 "file_format": "PARQUET", "record_count": 10,
                 "file_size_in_bytes": os.path.getsize(path)}
            # field id 1 = k (long, little-endian single-value form)
            b["lower_bounds"] = [
                {"key": 1, "value": _struct.pack("<q", lo)}]
            b["upper_bounds"] = [
                {"key": 1, "value": _struct.pack("<q", hi)}]
            return {"status": 1, "snapshot_id": 1001, "data_file": b}

        mpath = os.path.join(root, "metadata", "m1.avro")
        AvroFileWriter.write(
            mpath, mschema, [entry(p1, 0, 9), entry(p2, 100, 109)])
        mlpath = os.path.join(root, "metadata", "snap1.avro")
        AvroFileWriter.write(mlpath, {
            "type": "record", "name": "manifest_file", "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "partition_spec_id", "type": "int"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": "long"},
            ]}, [{
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0, "content": 0,
                "added_snapshot_id": 1001,
            }])
        md = {
            "format-version": 2, "table-uuid": "u", "location": root,
            "last-sequence-number": 1, "last-updated-ms": 0,
            "last-column-id": 2,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "s", "required": False,
                 "type": "string"}]}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0, "last-partition-id": 999,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0, "properties": {},
            "current-snapshot-id": 1001,
            "snapshots": [{"snapshot-id": 1001, "sequence-number": 1,
                           "timestamp-ms": 0, "manifest-list": mlpath,
                           "summary": {"operation": "append"},
                           "schema-id": 0}],
            "snapshot-log": [], "metadata-log": [],
        }
        with open(os.path.join(root, "metadata", "v1.metadata.json"),
                  "w") as f:
            json.dump(md, f)
        with open(os.path.join(root, "metadata", "version-hint.text"),
                  "w") as f:
            f.write("1")
        t = IcebergTable(root)
        assert len(t.live_paths()) == 2
        # bounds tier: a point range opens one file
        assert t.live_paths(skip=[("k", 3, 5)]) == [p1]
        assert t.live_paths(skip=[("k", 101, 101)]) == [p2]
        snap = t.snapshot(spark, skip=[("k", 3, 5)])
        assert snap.count() == 10  # superset; residual filters below
        assert snap.where("k BETWEEN 3 AND 5").count() == 3
        # a column with NO bounds keeps everything (cannot prune)
        assert len(t.live_paths(skip=[("s", "a", "z")])) == 2


class TestIcebergPartitionedCow:
    """COW mutation on identity-partitioned tables (graduated with
    partitioned appends): rewrites restage under the pinned spec,
    surviving entries keep their ORIGINAL partition values, and
    pruning keeps working across the mutation."""

    def test_partitioned_delete_update_round_trip(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        w = IcebergTableWriter(str(tmp_path / "pc"))
        df = spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(8)],
            "id long, bucket int, v double",
        ).repartition(1)
        w.append(df, partition_by=["bucket"])
        res = w.delete(spark, "id IN (2, 3)")
        assert res["rows_deleted"] == 2
        t = IcebergTable(w.path)
        assert sorted(r["id"] for r in t.snapshot(spark).collect()) == [
            0, 1, 4, 5, 6, 7,
        ]
        # every live entry still carries its partition value — the
        # rewrite restaged under the spec, survivors kept theirs
        vals = []
        for mpath, _sid, _c, _ms in t._manifests(t._snapshot(None)):
            for e in AvroFileReader(mpath).records:
                if e.get("status") != 2:
                    vals.append(e["data_file"]["partition"].get("bucket"))
        assert set(vals) == {0, 1}
        # partition pruning still fires post-mutation
        assert sorted(
            r["id"] for r in t.snapshot(
                spark, skip=[("bucket", 1, 1)]).collect()
        ) == [1, 5, 7]
        # UPDATE restages partition-aware too
        w.update(spark, {"v": "v + 10"}, "id = 4")
        t = IcebergTable(w.path)
        assert t.snapshot(spark).where("id = 4").collect()[0]["v"] == 14.0
        assert t.snapshot(spark).count() == 6
        # OPTIMIZE compacts per partition (one file each after
        # partition-aware restaging)
        w.optimize(spark, min_inputs=1)
        t = IcebergTable(w.path)
        assert t.snapshot(spark).count() == 6
        assert len(t.live_paths()) == 2
