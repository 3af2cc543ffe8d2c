"""Correctness side of the benchmark: DuckDB reference answers.

Registry keys are checked against ``registry.oracles()`` run by DuckDB
over the same generated parquet files. Results compare by row count,
column names and an order-insensitive value hash, with the cell rules
of ``tools/verify_local.py`` (copied here so the benchmark does not
move when that tool does).

The lakehouse stream is checked against a DuckDB replay of the same
statements (:func:`workloads.replay`).

Run as a program it first writes the seed's tables, then the expected
answers; the benchmark starts it as a child process at the beginning
of a run, so the data generator's and DuckDB's memory never count
towards the Python driver process's peak RSS:

    python3 perfbench/oracle.py <workload> <seed> <data_dir> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys


def canon(v) -> str:
    """Canonicalize a cell so Spark and DuckDB reprs hash identically."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def fingerprint(cols: list[str], rows: list[tuple]) -> dict:
    """What a result is compared by: rows, sorted columns, value hash."""
    return {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(cols, rows)}


def compare(got: dict, want: dict) -> str | None:
    """None when the fingerprints agree, else a one-line cause."""
    if got["rows"] != want["rows"]:
        return f"rowcount {got['rows']} != {want['rows']}"
    if got["cols"] != want["cols"]:
        return f"cols {got['cols']} != {want['cols']}"
    if got["hash"] != want["hash"]:
        return f"hash {got['hash']} != {want['hash']}"
    return None


def duck(data_dir: str):
    import duckdb

    from perfbench.datagen import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 1")   # stay out of the JVM's way
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def registry_fingerprints(data_dir: str, keys: list[str]) -> dict[str, dict]:
    """key -> fingerprint of its DuckDB oracle, or {"error": cause}."""
    from algebraicdb_spark.plans import registry

    oracles = registry.oracles()
    con = duck(data_dir)
    out: dict[str, dict] = {}
    for key in keys:
        if key not in oracles:
            out[key] = {"error": "no oracle registered"}
            continue
        try:
            rel = con.sql(oracles[key])
            out[key] = fingerprint(list(rel.columns), rel.fetchall())
        except Exception as exc:  # recorded as the op's failure cause
            out[key] = {"error": f"oracle: {type(exc).__name__}: {exc}"[:300]}
    return out


def expectations(workload: str, seed: int, data_dir: str) -> dict[str, dict]:
    """Expected fingerprint of every result a run records: registry
    keys by key; lakehouse reads as ``read:<op index>`` and the final
    table as ``final``."""
    from perfbench import workloads

    if workload in workloads.REGISTRY_OPS:
        return registry_fingerprints(data_dir, workloads.REGISTRY_OPS[workload])
    out = workloads.replay(duck(data_dir), workloads.stream(seed))
    exp = {f"read:{i}": fingerprint(cols, rows) for i, (cols, rows) in out["reads"].items()}
    exp["final"] = fingerprint(list(workloads.COLS), out["final"])
    return exp


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def main(argv: list[str]) -> int:
    workload, seed, data_dir, out_path = argv
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import datagen

    datagen.generate(int(seed), data_dir)
    out = expectations(workload, int(seed), data_dir)
    with open(out_path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(out_path + ".tmp", out_path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
