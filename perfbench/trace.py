"""Outside-in per-layer tracing for ``run.py --trace 1``.

Nothing in the engine changes: the tracer times and counts calls into
each layer's public entry points by wrapping them from here.

- spans: ``session.start`` (``get_spark``), ``catalog.load``
  (``load_tables``), ``build`` (a registry key's DataFrame build),
  ``fixpoint`` (``run_fixpoint``), ``engine.sql`` and
  ``dialect.rewrite`` (``Engine.sql`` / ``Engine._rewrite``),
  ``server.roundtrip`` (``Client.sql``), ``<fmt>.commit`` (the
  writers' append/update/delete/merge/upsert/optimize) and
  ``<fmt>.snapshot`` (the readers' ``snapshot``). A span carries name,
  start, end, parent, op and pass; it stays in memory and is written
  out, with its self time, at the end of the run.
- py4j calls: a counting wrapper around the gateway client's
  ``send_command``.
- jobs, stages, tasks, executor time, shuffle and spill: the Spark
  app status store, each job attributed to the spans its submission
  time falls in.
- Catalyst phases: ``QueryExecution.tracker().phases()`` of each op's
  DataFrame, planned once more by the tracer.
- candidate and kept pairs of the dedup/similarity ops: the SQL
  status store's plan graphs (rows out of every join, and rows out of
  each Filter that sits right above a join).
- table files and bytes: directory walks.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from functools import wraps

from perfbench import stats, workloads

WRITER_METHODS = ("append", "update", "delete", "merge", "upsert_by_key", "optimize")

CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")

#: per-format table metrics and their units
FILE_METRICS = {"files_added": "count", "bytes_written": "bytes",
                "write_amp": "ratio", "metadata_files": "count"}


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.py4j = 0
        self.op: str | None = None
        self.pass_no: int | None = None
        self.spark = None
        self.catalyst: dict[int, dict[str, float]] = {}   # pass -> phase -> ms
        self.rows_returned: dict[int, int] = {}
        self.engine_s: dict[int, float] = {}
        self.tables: dict[int, dict[str, dict]] = {}      # pass -> fmt -> files
        self.pairs_ops: set[str] = set()
        #: spans are recorded during set-up and traced ops only
        self.recording = True

    # -- spans -----------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans), "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "op": self.op, "pass": self.pass_no,
            "start": time.time(), "end": None, "py4j": self.py4j,
        }
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            s["py4j"] = self.py4j - s["py4j"]
            self.stack.remove(s)

    def _wrap(self, fn, name):
        tracer = self

        @wraps(fn)
        def traced(*a, **kw):
            if not tracer.recording:
                return fn(*a, **kw)
            with tracer.span(name):
                return fn(*a, **kw)

        return traced

    def _patch_function(self, module, attr: str, name: str) -> None:
        """Replace a module function, and every alias other engine
        modules imported with ``from … import``."""
        orig = getattr(module, attr)
        traced = self._wrap(orig, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("algebraicdb_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)

    def _patch_method(self, cls, attr: str, name) -> None:
        if attr in vars(cls):
            setattr(cls, attr, self._wrap(vars(cls)[attr], name))

    def install(self) -> None:
        """Wrap the layers' entry points; call before the session starts."""
        from algebraicdb_spark import fixpoint, server, session
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.delta_writer import DeltaTableWriter
        from algebraicdb_spark.operators.iceberg import IcebergTable
        from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter
        from algebraicdb_spark.operators.txnlog import DeltaLogTable, TxnLogTable
        from algebraicdb_spark.plans import registry
        from algebraicdb_spark.sources import catalog

        registry.load_all()
        self._patch_function(session, "get_spark", "session.start")
        self._patch_function(catalog, "load_tables", "catalog.load")
        self._patch_function(fixpoint, "run_fixpoint", "fixpoint")
        self._patch_method(Engine, "sql", "engine.sql")
        if self.workload == "lakehouse_session":
            traced_sql = Engine.sql

            def sql(engine, *a, **kw):
                result = traced_sql(engine, *a, **kw)
                self.engine_result(result)
                return result

            Engine.sql = sql
        self._patch_method(Engine, "_rewrite", "dialect.rewrite")
        self._patch_method(server.Client, "sql", "server.roundtrip")
        for cls, fmt in ((TxnLogTable, "txnlog"), (DeltaTableWriter, "delta"),
                         (IcebergTableWriter, "iceberg")):
            for m in WRITER_METHODS:
                self._patch_method(cls, m, f"{fmt}.commit")
        for cls, fmt in ((TxnLogTable, "txnlog"), (DeltaLogTable, "delta"),
                         (DeltaTableWriter, "delta"), (IcebergTable, "iceberg"),
                         (IcebergTableWriter, "iceberg")):
            self._patch_method(cls, "snapshot", f"{fmt}.snapshot")

    def attach(self, spark) -> None:
        """Count py4j round trips from here on. Commands that release
        JVM objects after Python's garbage collector ran are left out:
        when they happen depends on the collector, not on the engine."""
        self.spark = spark
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted(command, *a, **kw):
            if not command.startswith("m\n"):
                tracer.py4j += 1
            return send(command, *a, **kw)

        client.send_command = counted

    # -- traced ops ------------------------------------------------------------

    @contextmanager
    def _op(self, pass_no: int, op: str):
        self.pass_no, self.op, self.recording = pass_no, op, True
        try:
            with self.span("op"):
                yield
        finally:
            self.pass_no, self.op, self.recording = None, None, False

    def _phases(self, df) -> None:
        """Plan the op's DataFrame and add its Catalyst phase times."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        acc = self.catalyst.setdefault(self.pass_no, dict.fromkeys(CATALYST_PHASES, 0.0))
        while it.hasNext():
            kv = it.next()
            phase = kv._1()
            if phase in acc:
                acc[phase] += float(kv._2().durationMs())

    def registry_op(self, pass_no: int, key: str, build, materialize,
                    count_pairs: bool) -> None:
        if count_pairs:
            self.pairs_ops.add(key)
        with self._op(pass_no, key):
            with self.span("build"):
                df = build()
            with self.span("catalyst"):
                self._phases(df)
            with self.span("materialize"):
                materialize(df)

    def statement(self, pass_no: int, op_id: str, client, stmt: str) -> dict:
        with self._op(pass_no, op_id):
            resp = client.sql(stmt)
        self.rows_returned[pass_no] = self.rows_returned.get(pass_no, 0) + resp["row_count"]
        self.engine_s[pass_no] = self.engine_s.get(pass_no, 0.0) + resp["elapsed_ms"] / 1000.0
        return resp

    def engine_result(self, df) -> None:
        """Catalyst phases of a DataFrame a statement returned."""
        if self.pass_no is not None and hasattr(df, "_jdf"):
            self._phases(df)

    def table_files(self, pass_no: int, fmt: str, location: str, plain_bytes: int) -> None:
        """File and byte counts of one format's table after a pass."""
        data = meta = total = 0
        for dirpath, _, files in os.walk(location):
            rel = os.path.relpath(dirpath, location).split(os.sep)
            is_meta = any(p.startswith("_") or p == "metadata" for p in rel)
            for name in files:
                total += os.path.getsize(os.path.join(dirpath, name))
                if is_meta:
                    meta += 1
                elif name.endswith(".parquet"):
                    data += 1
        self.tables.setdefault(pass_no, {})[fmt] = {
            "files_added": data, "bytes_written": total,
            "write_amp": total / plain_bytes, "metadata_files": meta,
        }

    # -- status stores -----------------------------------------------------------

    def _jobs(self, since_ms: float) -> list[dict]:
        """Jobs submitted at or after ``since_ms``, newest first."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jl = store.jobsList(None)
        out = []
        for i in range(jl.length() - 1, -1, -1):
            j = jl.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime()
            if start < since_ms:
                break
            done = j.completionTime()
            ids = j.stageIds()
            out.append({
                "id": j.jobId(), "start": start,
                "end": done.get().getTime() if done.isDefined() else start,
                "failed_tasks": j.numFailedTasks(),
                "stages": [ids.apply(k) for k in range(ids.length())],
            })
        return out

    def _stage(self, store, sid: int) -> dict | None:
        gw = self.spark.sparkContext._gateway
        attempts = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False,
                                   gw.new_array(gw.jvm.double, 0))
        best = None
        for k in range(attempts.length()):
            sd = attempts.apply(k)
            if sd.status().toString() == "COMPLETE":
                best = {
                    "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                    "run_s": sd.executorRunTime() / 1000.0,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
        return best

    def _pairs(self, since_ms: float, windows: list[tuple[float, float]]) -> tuple[int, int]:
        """(candidate pairs, kept pairs) over the SQL executions that
        started inside ``windows``: rows out of every join, and for each
        join the rows out of the first operator above it that counts
        rows (the Filter, Aggregate or limit that applies the tier's
        threshold or top-k)."""
        ss = self.spark._jsparkSession.sharedState().statusStore()
        execs = ss.executionsList()
        scored = kept = 0
        for i in range(execs.length() - 1, -1, -1):
            e = execs.apply(i)
            start = e.submissionTime()
            if start < since_ms:
                break
            if not any(lo <= start <= hi for lo, hi in windows):
                continue
            eid = e.executionId()
            values = {}
            it = ss.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            graph = ss.planGraph(eid)
            nodes = graph.allNodes()
            joins, rows = [], {}
            for k in range(nodes.length()):
                n = nodes.apply(k)
                nid = n.id()
                if _is_join(n.name()):
                    joins.append(nid)
                ms = n.metrics()
                for m in range(ms.length()):
                    metric = ms.apply(m)
                    if metric.name() == "number of output rows":
                        v = values.get(metric.accumulatorId())
                        if v is not None:
                            rows[nid] = int(str(v).replace(",", "").split()[0])
            parent = {}
            edges = graph.edges()
            for k in range(edges.length()):
                ed = edges.apply(k)
                parent[ed.fromId()] = ed.toId()
            for j in joins:
                scored += rows.get(j, 0)
                up = parent.get(j)
                while up is not None and up not in rows:
                    up = parent.get(up)
                kept += rows[up] if up is not None else rows.get(j, 0)
        return scored, kept

    # -- report --------------------------------------------------------------------

    def per_layer(self, run) -> dict[str, tuple[float, str]]:
        traced = sorted({s["pass"] for s in self.spans if s["name"] == "op"})
        t0_ms = min(s["start"] for s in self.spans) * 1000.0
        jobs = self._jobs(t0_ms - 1000.0)
        store = self.spark.sparkContext._jsc.sc().statusStore()

        def top(name: str, p=None) -> list[dict]:
            """Spans of ``name`` (in pass ``p``) with no ancestor of that name."""
            by_id = {s["id"]: s for s in self.spans}
            out = []
            for s in self.spans:
                if s["name"] != name or (p is not None and s["pass"] != p):
                    continue
                a = s["parent"]
                while a is not None and by_id[a]["name"] != name:
                    a = by_id[a]["parent"]
                if a is None:
                    out.append(s)
            return out

        def secs(name, p=None):
            return sum(s["end"] - s["start"] for s in top(name, p))

        def njobs(name, p=None):
            wins = [(s["start"] * 1000.0, s["end"] * 1000.0) for s in top(name, p)]
            return sum(1 for j in jobs if any(lo <= j["start"] <= hi for lo, hi in wins))

        per_pass: dict[str, list[float]] = {}
        units: dict[str, str] = {}

        def put(name: str, value: float, unit: str = "count") -> None:
            per_pass.setdefault(name, []).append(value)
            units[name] = unit

        stage_cache: dict[int, dict | None] = {}
        for p in traced:
            ops = top("op", p)
            wins = [(s["start"] * 1000.0, s["end"] * 1000.0) for s in ops]
            pj = [j for j in jobs if any(lo <= j["start"] <= hi for lo, hi in wins)]
            st = []
            for j in pj:
                for sid in j["stages"]:
                    if sid not in stage_cache:
                        stage_cache[sid] = self._stage(store, sid)
                    if stage_cache[sid] is not None:
                        st.append(stage_cache[sid])
            put("build.s", secs("build", p), "s")
            put("build.py4j_calls", sum(s["py4j"] for s in top("build", p)))
            put("build.jobs", njobs("build", p))
            put("fixpoint.s", secs("fixpoint", p), "s")
            put("fixpoint.jobs", njobs("fixpoint", p))
            put("dialect.rewrite_s", secs("dialect.rewrite", p), "s")
            put("engine.sql_s", secs("engine.sql", p), "s")
            put("engine.sql_jobs", njobs("engine.sql", p))
            cat = self.catalyst.get(p, {})
            for phase in CATALYST_PHASES:
                put(f"catalyst.{phase}_ms", cat.get(phase, 0.0), "ms")
            put("exec.s", sum(j["end"] - j["start"] for j in pj) / 1000.0, "s")
            put("exec.jobs", len(pj))
            put("exec.stages", len(st))
            put("exec.tasks", sum(x["tasks"] for x in st))
            put("exec.failed_tasks", sum(j["failed_tasks"] for j in pj))
            put("exec.executor_run_s", sum(x["run_s"] for x in st), "s")
            put("exec.executor_cpu_s", sum(x["cpu_s"] for x in st), "s")
            put("exec.shuffle_write_bytes", sum(x["shuffle_write"] for x in st), "bytes")
            put("exec.spill_bytes", sum(x["spill"] for x in st), "bytes")
            pair_wins = [(s["start"] * 1000.0, s["end"] * 1000.0)
                         for s in ops if s["op"] in self.pairs_ops]
            scored, kept = self._pairs(t0_ms, pair_wins) if pair_wins else (0, 0)
            put("dedup.pairs_scored", scored)
            put("dedup.pairs_kept", kept)
            put("dedup.kept_ratio", kept / scored if scored else 0.0, "ratio")
            rt = secs("server.roundtrip", p)
            eng = self.engine_s.get(p, 0.0)
            put("server.roundtrip_s", rt, "s")
            put("server.engine_s", eng, "s")
            put("server.protocol_s", rt - eng, "s")
            put("server.rows_returned", self.rows_returned.get(p, 0))
            for fmt in workloads.FORMATS:
                put(f"{fmt}.commit_s", secs(f"{fmt}.commit", p), "s")
                put(f"{fmt}.snapshot_s", secs(f"{fmt}.snapshot", p), "s")
                files = self.tables.get(p, {}).get(fmt, {})
                for k, u in FILE_METRICS.items():
                    put(f"{fmt}.{k}", files.get(k, 0), u)

        def first(name: str) -> dict:
            return next(s for s in self.spans if s["name"] == name)

        start, load = first("session.start"), first("catalog.load")
        out: dict[str, tuple[float, str]] = {
            "session.start_s": (start["end"] - start["start"], "s"),
            "catalog.load_s": (load["end"] - load["start"], "s"),
            "catalog.jobs": (sum(1 for j in jobs if load["start"] * 1000.0 <= j["start"]
                                 <= load["end"] * 1000.0), "count"),
        }
        for name, values in per_pass.items():
            out[name] = (statistics.median(values), units[name])
        out["trace.overhead_s"] = (
            statistics.median(run.traced_passes) - statistics.median(run.passes), "s")
        return out

    def dump(self, path: str) -> None:
        selfs = stats.span_self_times(self.spans)
        for s in self.spans:
            s["self"] = selfs[s["id"]]
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _is_join(name: str) -> bool:
    return "Join" in name or "CartesianProduct" in name
