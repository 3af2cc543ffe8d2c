"""Seeded sf0.1-shaped input tables for the benchmark.

The benchmark runs from a bare checkout, so it cannot read a shared
fixture directory: it writes its own copy of the ten fixture tables
(FIXTURES.md) from ``--seed``. Row counts, parquet types, value
domains and the key invariants the registry keys rely on follow the
sf0.1 fixtures:

- dense primary keys ``0..N-1`` on every table;
- every foreign key (lineitem → orders/part/supplier, orders →
  customer, customer/supplier → nation, nation → region) resolves;
- dimension tables (region, nation, customer, supplier, part) are
  the same for every seed, so only the fact tables (orders with their
  lineitems, events, documents, embeddings) vary with the seed;
- ``documents`` carries ~5% near duplicates (an earlier text with one
  extra token) and a few exact copies, like the fixture corpus;
- embeddings are 64-dim, L2-normalised float32.

Row counts are fixed, so every seed gives the engine the same amount
of work and only the values move. The same seed gives byte-identical
files (one row group per table, like the fixtures).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}

#: seed of the dimension tables — fixed so seeds vary only the facts
DIM_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(start: str, micros: np.ndarray) -> pa.Array:
    base = int(dt.datetime.fromisoformat(start).replace(
        tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    span = (dt.date.fromisoformat(hi) - dt.date.fromisoformat(lo)).days
    return _ts(lo, rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def dimension_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DIM_SEED)
    n_c, n_s, n_p = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
            "p_type": _pick(rng, PART_TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1)),
        }),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.03 else src + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def fact_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_o, n_l, n_e = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n_o)),
        "o_orderstatus": _pick(rng, STATUSES, n_o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": _pick(rng, PRIORITIES, n_o),
    })
    # lineitem keys are drawn from the orders' keys (about four lines per
    # order, some orders with none), so the FK always resolves
    l_orderkey = rng.integers(0, n_o, n_l)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_orderkey),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n_l)),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n_l)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(rng, ["F", "O"], n_l),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l),
    })
    events = pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))),
        "user_id": pa.array(rng.integers(0, 1500, n_e)),
        "event_type": _pick(rng, EVENT_TYPES, n_e),
        "value": pa.array(np.round(rng.exponential(50.0, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })
    return {
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, ROWS["documents"]),
        "embeddings": _embeddings(rng, ROWS["embeddings"]),
    }


def generate(seed: int, out_dir: str) -> str:
    """Write the seed's ten tables under ``out_dir`` (once) and return it."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    tables = {**dimension_tables(), **fact_tables(seed)}
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30, compression="snappy",
                       store_schema=False)
    open(marker, "w").close()   # written last: the tables are complete
    return out_dir
