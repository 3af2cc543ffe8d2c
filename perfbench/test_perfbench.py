"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, stats, workloads  # noqa: E402


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([5.0]) == pytest.approx(5.0)
    assert stats.geomean([1.0, 10.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        stats.geomean([])
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_tail_ratio_leaves_ten_samples_beyond():
    # one op, 100 samples 1..100: median 50.5; the percentile with 10
    # samples beyond it is the 90th sample (value 90)
    samples = [("a", float(i)) for i in range(1, 101)]
    tail = stats.tail_ratio(samples)
    assert tail["samples"] == 100
    assert tail["percentile"] == pytest.approx(90.0)
    assert tail["value"] == pytest.approx(90 / 50.5)
    ratios = sorted(s / 50.5 for _, s in samples)
    assert sum(r > tail["value"] for r in ratios) == stats.TAIL_MIN_BEYOND


def test_tail_ratio_is_relative_to_each_ops_median():
    # two ops an order of magnitude apart: each sample is divided by
    # its own op's median, so the slow op does not dominate the tail
    fast = [("fast", 1.0)] * 10 + [("fast", 2.0)]
    slow = [("slow", 10.0)] * 10 + [("slow", 30.0)]
    tail = stats.tail_ratio(fast + slow)
    assert tail["samples"] == 22
    # 22 ratios: twenty 1.0, one 2.0, one 3.0; index 22-11 = 11 -> 1.0
    assert tail["value"] == pytest.approx(1.0)
    assert tail["percentile"] == pytest.approx(100 * 12 / 22)


def test_tail_ratio_with_too_few_samples_reports_the_median():
    tail = stats.tail_ratio([("a", 1.0), ("a", 2.0), ("a", 4.0)])
    assert tail["percentile"] == 50.0
    assert tail["value"] == pytest.approx(1.0)


def test_span_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},   # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 8.0, "end": 12.0},  # runs past 0
    ]
    selfs = stats.span_self_times(spans)
    # children of 0 cover [1, 6] and [8, 10] -> 7 of its 10 seconds
    assert selfs[0] == pytest.approx(3.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.0)
    assert selfs[4] == pytest.approx(4.0)
    assert all(v >= 0 for v in selfs.values())


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in datagen.TABLES:
        with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _files(datagen.generate(7, str(tmp_path / "a")))
    b = _files(datagen.generate(7, str(tmp_path / "b")))
    assert a == b
    c = _files(datagen.generate(8, str(tmp_path / "c")))
    # the dimension tables are shared; every fact table differs
    for name in ("region", "nation", "customer", "supplier", "part"):
        assert a[name] == c[name]
    for name in ("orders", "lineitem", "events", "documents", "embeddings"):
        assert a[name] != c[name]


def test_generated_tables_keep_key_invariants(tmp_path):
    import pyarrow.parquet as pq

    d = datagen.generate(3, str(tmp_path / "d"))
    t = {n: pq.read_table(os.path.join(d, f"{n}.parquet")).to_pydict() for n in datagen.TABLES}
    for name, rows in datagen.ROWS.items():
        assert len(next(iter(t[name].values()))) == rows
    assert set(t["lineitem"]["l_orderkey"]) <= set(t["orders"]["o_orderkey"])
    assert set(t["orders"]["o_custkey"]) <= set(t["customer"]["c_custkey"])
    assert max(t["lineitem"]["l_partkey"]) < datagen.ROWS["part"]
    assert max(t["lineitem"]["l_suppkey"]) < datagen.ROWS["supplier"]
    assert len(set(t["events"]["event_id"])) == datagen.ROWS["events"]
    assert t["documents"]["n_chars"] == [len(x) for x in t["documents"]["text"]]
    norms = [math.sqrt(sum(x * x for x in v)) for v in t["embeddings"]["embedding"][:50]]
    assert norms == pytest.approx([1.0] * 50, abs=1e-5)


def _rendered(seed: int) -> list[str]:
    s = workloads.stream(seed)
    ids = list(range(1001, 1020))
    return [
        workloads.render(op, s["params"], fmt, f"t_{fmt}", f"/lake/{fmt}", ids)
        for op in s["ops"] for fmt in op.get("formats", workloads.FORMATS)
    ]


def test_same_seed_gives_the_same_statement_stream():
    assert workloads.stream(5) == workloads.stream(5)
    assert _rendered(5) == _rendered(5)
    assert _rendered(5) != _rendered(6)


def test_stream_reads_name_iceberg_snapshots_by_id():
    stmts = _rendered(1)
    assert any("VERSION AS OF 1002" in s for s in stmts if "t_iceberg" in s)
    assert any("VERSION AS OF 1" in s for s in stmts if "t_txnlog" in s)
    assert any(s.startswith("UPSERT INTO t_iceberg") for s in stmts)
    assert not any(s.startswith("UPSERT") for s in stmts if "t_iceberg" not in s)
