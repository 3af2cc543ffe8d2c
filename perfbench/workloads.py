"""The benchmark's workloads: which ops a pass runs, and the
``lakehouse_session`` statement stream with its DuckDB replay.

``query_mix`` runs registry keys through the Python API.
``lakehouse_session`` is a seeded stream of SQL statements sent by one
``server.Client`` over one table per lakehouse format.
The stream is made of abstract ops; :func:`render` turns an op into
the statement for one format, and :func:`replay` computes with DuckDB
what every read must return and what each table must hold at the end.
"""

from __future__ import annotations

import random

#: registry keys per workload, in pass order: one or two keys per layer
#: the workload exists to measure (README.md says why the list is short)
REGISTRY_OPS = {
    "query_mix": [
        "tpch_q3",                # relational join/aggregate: Catalyst, execution
        "adt_dialect_match",      # ADT patterns through the dialect and Engine.sql
        "dialect_iterate_kcore",  # a WITH ITERATE fixpoint: jobs per round
        "dedup_exact",            # exact-hash dedup
        "sim_knn_cosine",         # embedding cosine pairs
        "sim_mmr_diversify",      # greedy MMR: a py4j-heavy driver build
    ],
}

#: the registry keys whose candidate and kept pairs the tracer counts
PAIR_OPS = ("dedup_exact", "sim_knn_cosine", "sim_mmr_diversify")

WORKLOADS = ("query_mix", "lakehouse_session")

FORMATS = ("txnlog", "delta", "iceberg")

COLS = ("k", "c", "s", "v")

#: ops that commit to the table; every other op is a read
WRITES = ("ctas", "insert", "update", "delete", "merge", "upsert", "optimize")


def stream(seed: int) -> dict:
    """The seed's statement stream: parameters plus the op sequence.

    Every format runs the same ops in the same order, so the three
    tables must end equal; an op with ``formats`` runs only on those.
    Reads sit between writes. ``version`` and ``changes`` name a
    commit by its ordinal (0 = the CTAS commit): txnlog and delta
    versions are those ordinals, iceberg snapshot ids come from
    ``DESCRIBE HISTORY`` at run time. The iceberg-only ``UPSERT INTO``
    re-writes rows the table already holds, so it commits real
    equality-delete and data files without making the tables differ.
    """
    rng = random.Random(seed)
    mod = 8
    base = 10_000_000
    p = {
        "mod": mod,
        "rem": rng.randrange(mod),
        "mul": rng.choice([7, 11, 13, 17]),
        "insert": [
            (base + i, rng.randrange(15_000), rng.choice("FOP"), rng.randrange(1000))
            for i in range(rng.randrange(20, 40))
        ],
        "upd_mod": rng.choice([5, 7, 9]),
        "upd_rem": rng.randrange(5),
        "upd_add": rng.randrange(1, 50),
        "del_mod": rng.choice([9, 11, 13]),
        "del_rem": rng.randrange(9),
        "del_status": rng.choice("FOP"),
        "merge_lo": rng.randrange(0, 140_000),
        "merge_len": rng.randrange(300, 600),
        "merge_mul": rng.choice([29, 31, 37]),
        "upsert_lo": rng.randrange(0, 140_000),
        "upsert_len": rng.randrange(2_000, 4_000),
    }
    ops = [
        {"op": "ctas"},
        {"op": "insert"},
        {"op": "update"},
        {"op": "delete"},
        {"op": "history", "formats": ("iceberg",)},
        {"op": "version", "at": 1},
        {"op": "merge"},
        {"op": "changes", "since": 1},
        {"op": "upsert", "formats": ("iceberg",)},
        {"op": "optimize"},
        {"op": "final"},
    ]
    return {"params": p, "ops": ops}


def source_sql(p: dict) -> dict[str, str]:
    """The SELECTs the stream reads from ``orders`` (Spark and DuckDB)."""
    return {
        "ctas": (
            "SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s, "
            f"(o_orderkey * {p['mul']} + o_custkey) % 1000 AS v FROM orders "
            f"WHERE o_orderkey % {p['mod']} = {p['rem']}"
        ),
        "src_merge": (
            "SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s, "
            f"(o_orderkey * {p['merge_mul']}) % 1000 AS v FROM orders "
            f"WHERE o_orderkey BETWEEN {p['merge_lo']} "
            f"AND {p['merge_lo'] + p['merge_len']}"
        ),
    }


def _merge_sql(t: str, src: str) -> str:
    sets = ", ".join(f"{c} = {src}.{c}" for c in COLS[1:])
    vals = ", ".join(f"{src}.{c}" for c in COLS)
    return (
        f"MERGE INTO {t} USING {src} ON {t}.k = {src}.k "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT VALUES ({vals})"
    )


def render(op: dict, p: dict, fmt: str, table: str, location: str,
           ids: list[int] | None = None) -> str:
    """The statement for one op on one format's table.

    ``ids`` are the snapshot ids ``DESCRIBE HISTORY`` listed, oldest
    first; iceberg's ``version`` and ``changes`` need them.
    """
    kind = op["op"]
    ids = ids if fmt == "iceberg" else None
    if kind == "ctas":
        return (f"CREATE TABLE {table} FROM {fmt} LOCATION '{location}' "
                f"AS {source_sql(p)['ctas']}")
    if kind == "insert":
        rows = ", ".join(f"({k}, {c}, '{s}', {v})" for k, c, s, v in p["insert"])
        return f"INSERT INTO {table} VALUES {rows}"
    if kind == "update":
        return (f"UPDATE {table} SET v = v + {p['upd_add']} "
                f"WHERE c % {p['upd_mod']} = {p['upd_rem']}")
    if kind == "history":
        return f"DESCRIBE HISTORY {table}"
    if kind == "delete":
        return (f"DELETE FROM {table} WHERE k % {p['del_mod']} = {p['del_rem']} "
                f"AND s = '{p['del_status']}'")
    if kind == "version":
        return (f"SELECT COUNT(*) AS n, SUM(v) AS sv, MIN(k) AS mk, MAX(k) AS xk "
                f"FROM {table} VERSION AS OF {ids[op['at']] if ids else op['at']}")
    if kind == "merge":
        return _merge_sql(table, "src_merge")
    if kind == "changes":
        return (f"SELECT _change_type, COUNT(*) AS n, SUM(v) AS sv "
                f"FROM CHANGES({table}, {ids[op['since']] if ids else op['since']}) "
                "GROUP BY _change_type")
    if kind == "upsert":
        return (f"UPSERT INTO {table} BY KEY (k) SELECT {', '.join(COLS)} FROM {table} "
                f"WHERE k BETWEEN {p['upsert_lo']} AND {p['upsert_lo'] + p['upsert_len']}")
    if kind == "optimize":
        return f"OPTIMIZE TABLE {table}"
    if kind == "final":
        return f"SELECT COUNT(*) AS n, SUM(v) AS sv, SUM(c) AS sc FROM {table}"
    raise ValueError(f"unknown op {kind!r}")


def _diff(pre: list[tuple], post: list[tuple]) -> tuple[list[tuple], list[tuple]]:
    """(pre EXCEPT ALL post, post EXCEPT ALL pre) as multisets."""
    from collections import Counter

    a, b = Counter(pre), Counter(post)
    return list((a - b).elements()), list((b - a).elements())


def replay(con, s: dict) -> dict:
    """DuckDB replay of the stream over the ``orders`` view of ``con``.

    Returns ``{"reads": {op index: (cols, rows)}, "final": rows}``:
    what each read op must return (``history`` reads check the number
    of commits so far), and the table rows at the end. DuckDB 1.0 has
    no MERGE, so MERGE replays as an UPDATE of matched keys plus
    INSERT … WHERE NOT EXISTS. The iceberg-only upsert leaves the rows
    as they are.
    """
    p = s["params"]
    src = source_sql(p)
    con.execute(f"CREATE OR REPLACE TEMP VIEW src_merge AS {src['src_merge']}")
    con.execute("DROP TABLE IF EXISTS lt")

    def rows() -> list[tuple]:
        return con.execute("SELECT k, c, s, v FROM lt").fetchall()

    snaps: list[list[tuple]] = []   # table rows after each data commit
    kinds: list[str] = []           # the op of each data commit
    reads: dict[int, tuple[list[str], list[tuple]]] = {}
    for i, op in enumerate(s["ops"]):
        kind = op["op"]
        if kind == "ctas":
            con.execute(f"CREATE TABLE lt AS {src['ctas']}")
        elif kind == "insert":
            con.executemany("INSERT INTO lt VALUES (?, ?, ?, ?)", p["insert"])
        elif kind == "update":
            con.execute(f"UPDATE lt SET v = v + {p['upd_add']} "
                        f"WHERE c % {p['upd_mod']} = {p['upd_rem']}")
        elif kind == "delete":
            con.execute(f"DELETE FROM lt WHERE k % {p['del_mod']} = {p['del_rem']} "
                        f"AND s = '{p['del_status']}'")
        elif kind == "merge":
            con.execute("UPDATE lt SET c = m.c, s = m.s, v = m.v FROM src_merge m "
                        "WHERE lt.k = m.k")
            con.execute("INSERT INTO lt SELECT * FROM src_merge m "
                        "WHERE NOT EXISTS (SELECT 1 FROM lt WHERE lt.k = m.k)")
        if kind in WRITES:
            snaps.append(rows() if kind not in ("upsert", "optimize") else snaps[-1])
            kinds.append(kind)
            continue
        if kind == "history":
            reads[i] = (["commits"], [(len(snaps),)])
        elif kind == "final":
            q = ("SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv, "
                 "CAST(SUM(c) AS BIGINT) AS sc FROM lt")
            rel = con.sql(q)
            reads[i] = (list(rel.columns), rel.fetchall())
        elif kind == "version":
            snap = snaps[op["at"]]
            ks = [r[0] for r in snap]
            reads[i] = (["n", "sv", "mk", "xk"],
                        [(len(snap), sum(r[3] for r in snap), min(ks), max(ks))])
        elif kind == "changes":
            agg: dict[str, list[int]] = {}
            for j in range(op["since"] + 1, len(snaps)):
                if kinds[j] in ("upsert", "optimize"):
                    continue
                gone, new = _diff(snaps[j - 1], snaps[j])
                names = (("update_preimage", "update_postimage")
                         if kinds[j] == "update" else ("delete", "insert"))
                for name, part in zip(names, (gone, new)):
                    for r in part:
                        a = agg.setdefault(name, [0, 0])
                        a[0] += 1
                        a[1] += r[3]
            reads[i] = (["_change_type", "n", "sv"],
                        [(name, n, sv) for name, (n, sv) in agg.items()])
    return {"reads": reads, "final": rows()}
