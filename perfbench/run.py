"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 3 --trace 0

Workloads (see README.md): ``query_mix`` runs registry keys through
the Python API with a noop-sink materialize;
``lakehouse_session`` sends a seeded statement stream from one
``server.Client`` to an in-process ``EngineServer``. A run sets up,
makes one untimed warm-up pass, then times whole passes until
``--seconds`` have gone by and the workload's minimum is met. Every
result is checked against DuckDB after the Spark session has stopped.
With ``--trace 1`` the timed passes alternate untraced and traced, and
the run reports per-layer metrics instead of end-to-end ones.

The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run leaves
behind goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import oracle, stats, workloads  # noqa: E402

#: driver JVM heap, fixed and touched at start. With the session's
#: default (8g, grown on demand) the JVM's peak RSS wandered between 2
#: and 4.4 GB from run to run, depending on when G1 chose to grow the
#: heap; a fixed heap leaves the rest of the JVM's memory to vary.
DRIVER_MEM = "3g"

#: formats the lakehouse warm-up pass runs the stream on. One format
#: warms every statement type's shared engine and JVM paths at a third
#: of the cost of all three.
WARM_FORMATS = ("iceberg",)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> int:
    """Point every scratch path of Spark and Python at the work dir and
    make the engine importable by Python workers from any cwd."""
    cpus = len(os.sched_getaffinity(0))
    conf = os.path.join(WORK, "conf")
    for d in ("conf", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(
            f"spark.sql.warehouse.dir {WORK}/warehouse\n"
            f"spark.local.dir {WORK}/spark-local\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={WORK}/tmp "
            f"-Dderby.system.home={WORK}/tmp -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData\n"
            "spark.ui.enabled false\n"
            "spark.ui.retainedJobs 100000\n"
            "spark.ui.retainedStages 100000\n"
            "spark.sql.ui.retainedExecutions 100000\n"
        )
    prior = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        PYTHONPATH=ROOT + (os.pathsep + prior if prior else ""),
    )
    return cpus


class Inputs:
    """The seed's tables and expected answers, made by a child process
    (``oracle.py``) that runs alongside the session start-up. Neither
    the generator's nor DuckDB's memory counts towards this process."""

    def __init__(self, workload: str, seed: int):
        self.data = os.path.join(WORK, "data", f"seed-{seed}")
        self.out = os.path.join(WORK, f"expect-{workload}-{seed}.json")
        for stale in (self.out, os.path.join(self.data, "_DONE")):
            if os.path.exists(stale):
                os.remove(stale)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle.py"), workload, str(seed),
             self.data, self.out],
            cwd=ROOT,
        )
        self.waited = 0.0

    def tables(self) -> str:
        """The data directory, once the tables are written."""
        t0 = time.time()
        while not os.path.exists(os.path.join(self.data, "_DONE")):
            if self.proc.poll() not in (None, 0):
                raise RuntimeError(f"input generation failed ({self.proc.returncode})")
            time.sleep(0.05)
        self.waited += time.time() - t0
        return self.data

    def expectations(self) -> dict:
        if self.proc.wait() != 0:
            raise RuntimeError(f"expected answers failed ({self.proc.returncode})")
        with open(self.out) as f:
            return json.load(f)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        shutil.rmtree(self.data, ignore_errors=True)
        if os.path.exists(self.out):
            os.remove(self.out)


def start_spark(cpus: int):
    from algebraicdb_spark.session import get_spark

    spark = get_spark("perfbench", cpus=str(cpus), shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # the same benign "Failed to update accumulator" noise bench.py
    # silences: a finished op's GC'd accumulators still receiving a
    # straggler task's update. Real failures still raise in Python.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        jvm.org.apache.logging.log4j.Level.FATAL,
    )
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the launched JVM exits when its stdin closes
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


class Run:
    """Op bookkeeping shared by the workloads."""

    def __init__(self, spark, workload: str, tracer=None):
        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}   # op id -> first cause
        self.timed: dict[str, int] = {}       # op id -> timed executions
        self.samples: list[tuple[str, float]] = []   # untraced (op, secs)
        self.classes: dict[str, str] = {}     # op id -> "read" / "write"
        self.passes: list[float] = []         # untraced pass seconds
        self.traced_passes: list[float] = []
        #: (op id, expectation key, fingerprint) to compare with DuckDB
        self.results: list[tuple[str, str, dict]] = []

    def label(self, pass_no: int, op: str, text: str) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench:{self.workload}:{pass_no}:{op}", text[:200])

    def fail(self, op: str, cause: str) -> None:
        self.failed += 1
        self.failures.setdefault(op, cause[:300])
        log(f"FAIL {op}: {cause[:300]}")

    def sample(self, op: str, secs: float, cls: str = "read") -> None:
        self.samples.append((op, secs))
        self.classes[op] = cls

    def check(self, expect: dict) -> None:
        """Compare every recorded result with its expectation. A
        registry op whose result is wrong fails in every timed pass too."""
        for op, key, got in self.results:
            want = expect.get(key, {"error": "no expectation"})
            cause = want["error"] if "error" in want else oracle.compare(got, want)
            if cause:
                self.fail(op, f"wrong result: {cause}")
                if self.workload in workloads.REGISTRY_OPS:
                    self.failed += self.timed.get(op, 0)


# -- registry workloads ------------------------------------------------------


def materialize(df) -> None:
    """Compute every column of every row without moving rows to Python."""
    df.write.format("noop").mode("overwrite").save()


class Registry:
    """Registry keys through the Python API."""

    def __init__(self, run: Run, inputs: Inputs):
        from algebraicdb_spark.plans import registry
        from algebraicdb_spark.sources.catalog import load_tables

        self.run, self.data = run, inputs.tables()
        self.ops = workloads.REGISTRY_OPS[run.workload]
        load_tables(run.spark, self.data)
        self.qs = registry.queries()

    def warm_up(self) -> None:
        """Collect every op once, keeping its fingerprint for the check,
        then run one untimed pass: an op's second run is still far from
        its steady time, its third is close."""
        run = self.run
        for key in self.ops:
            run.attempted += 1
            run.label(0, key, f"warm-up {key}")
            try:
                df = self.qs[key](run.spark, self.data)
                rows = [tuple(r) for r in df.collect()]
            except Exception as exc:
                run.fail(key, f"{type(exc).__name__}: {exc}")
                continue
            run.results.append((key, key, oracle.fingerprint(list(df.columns), rows)))
        self.one_pass(0, traced=False)

    def one_pass(self, pass_no: int, traced: bool) -> float:
        run = self.run
        t_pass = time.time()
        for key in self.ops:
            run.attempted += 1
            run.label(pass_no, key, f"{run.workload} pass {pass_no} {key}")
            t0 = time.time()
            try:
                if traced:
                    run.tracer.registry_op(pass_no, key,
                                           lambda: self.qs[key](run.spark, self.data),
                                           materialize, key in workloads.PAIR_OPS)
                else:
                    materialize(self.qs[key](run.spark, self.data))
            except Exception as exc:
                run.fail(key, f"{type(exc).__name__}: {exc}")
                continue
            if pass_no == 0:
                continue
            run.timed[key] = run.timed.get(key, 0) + 1
            if not traced:
                run.sample(key, time.time() - t0)
        return time.time() - t_pass

    def close(self) -> None:
        pass


# -- lakehouse_session --------------------------------------------------------


class Lakehouse:
    """One client session against an in-process server."""

    def __init__(self, run: Run, inputs: Inputs, seed: int):
        from algebraicdb_spark import server
        from algebraicdb_spark.engine import Engine

        self.run = run
        self.stream = workloads.stream(seed)
        self.engine = Engine(run.spark, sf_dir=inputs.tables())
        self.server = server.EngineServer(self.engine)
        self.client = server.Client(port=self.server.port)
        self.current = (0, "setup")
        # label each statement's jobs from the server's handler thread
        orig = server.execute

        def execute(engine, sql, *a, **kw):
            run.label(*self.current, sql)
            return orig(engine, sql, *a, **kw)

        server.execute = execute
        src = workloads.source_sql(self.stream["params"])
        self.client.sql(f"CREATE OR REPLACE VIEW src_merge AS {src['src_merge']}")
        self.root = os.path.join(WORK, "lake")
        shutil.rmtree(self.root, ignore_errors=True)
        self.plain: int | None = None
        self.space_amp: list[float] = []

    def close(self) -> None:
        self.client.close()
        self.server.shutdown()
        shutil.rmtree(self.root, ignore_errors=True)

    def location(self, pass_no: int, fmt: str) -> str:
        return os.path.join(self.root, f"p{pass_no}", fmt)

    def warm_up(self) -> None:
        self.one_pass(0, traced=False, formats=WARM_FORMATS)

    def one_pass(self, pass_no: int, traced: bool,
                 formats: tuple[str, ...] = workloads.FORMATS) -> float:
        """Run the stream on fresh locations, op by op across formats,
        then re-read the tables. Returns the statements' wall time."""
        run, p = self.run, self.stream["params"]
        ids: dict[str, list[int]] = {}
        elapsed = 0.0
        for i, op in enumerate(self.stream["ops"]):
            for fmt in [f for f in op.get("formats", formats) if f in formats]:
                op_id = f"{fmt}.{op['op']}"
                stmt = workloads.render(op, p, fmt, f"lt_{fmt}_{pass_no}",
                                        self.location(pass_no, fmt), ids.get(fmt))
                run.attempted += 1
                self.current = (pass_no, op_id)
                t0 = time.time()
                try:
                    if traced:
                        resp = run.tracer.statement(pass_no, op_id, self.client, stmt)
                    else:
                        resp = self.client.sql(stmt)
                except Exception as exc:
                    elapsed += time.time() - t0
                    run.fail(op_id, f"{type(exc).__name__}: {exc}")
                    continue
                dt = time.time() - t0
                elapsed += dt
                if op["op"] == "history":
                    ids[fmt] = [r[0] for r in resp["rows"]]
                if pass_no == 0:
                    continue   # the warm-up is neither timed nor checked
                if not traced:
                    run.sample(op_id, dt, "write" if op["op"] in workloads.WRITES else "read")
                if op["op"] not in workloads.WRITES:
                    if op["op"] == "history":
                        cols, rows = ["commits"], [(len(resp["rows"]),)]
                    else:
                        cols, rows = resp["columns"], [tuple(r) for r in resp["rows"]]
                    run.results.append((op_id, f"read:{i}", oracle.fingerprint(cols, rows)))
        if pass_no:
            self.reread(pass_no, formats)
        shutil.rmtree(os.path.join(self.root, f"p{pass_no}"), ignore_errors=True)
        return elapsed

    def reread(self, pass_no: int, formats: tuple[str, ...]) -> None:
        """Each table through a fresh ATTACH, for the check against the
        replay (and so against the other formats), and its bytes."""
        run = self.run
        on_disk = 0
        for fmt in formats:
            loc = self.location(pass_no, fmt)
            name = f"chk_{fmt}_{pass_no}"
            run.attempted += 1
            try:
                self.engine.sql(f"ATTACH TABLE {name} FROM {fmt} LOCATION '{loc}'")
                df = run.spark.table(name).select(*workloads.COLS)
                rows = [tuple(r) for r in df.collect()]
                if self.plain is None:
                    self.plain = plain_parquet_bytes(df, os.path.join(self.root, "plain"))
            except Exception as exc:
                run.fail(f"{fmt}.reread", f"{type(exc).__name__}: {exc}")
                continue
            run.results.append((f"{fmt}.reread", "final",
                                oracle.fingerprint(list(workloads.COLS), rows)))
            on_disk += oracle.dir_bytes(loc)
            if run.tracer is not None:
                run.tracer.table_files(pass_no, fmt, loc, self.plain)
        if self.plain:
            self.space_amp.append(on_disk / (len(formats) * self.plain))


def plain_parquet_bytes(df, path: str) -> int:
    """Bytes of ``df`` written once as one plain parquet file."""
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))


# -- the run -------------------------------------------------------------------


def timed_passes(run: Run, one_pass, seconds: float, trace: bool) -> None:
    """Whole passes until ``seconds`` are up: at least one, and in a
    traced run at least one untraced and one traced, alternating."""
    t0 = time.time()
    pass_no = 1
    need = 2 if trace else 1
    while pass_no <= need or time.time() - t0 < seconds:
        traced = trace and pass_no % 2 == 0
        secs = one_pass(pass_no, traced)
        (run.traced_passes if traced else run.passes).append(secs)
        pass_no += 1


def op_class_geomeans(run: Run) -> dict[str, float]:
    """Geometric mean of the op medians: of all ops, and per op class."""
    med = stats.op_medians(run.samples)
    out = {"all": stats.geomean(list(med.values()))}
    for cls in ("read", "write"):
        vals = [v for op, v in med.items() if run.classes[op] == cls]
        out[cls] = stats.geomean(vals) if vals else 0.0
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "algebraicdb_spark")):
        log(f"perfbench: no engine sources next to {HERE} — run from a checkout")
        return 2
    cpus = prepare_env()
    load_start = os.getloadavg()[0]
    inputs = Inputs(args.workload, args.seed)
    try:
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(args.workload)
            tracer.install()
        spark = start_spark(cpus)
        run = Run(spark, args.workload, tracer)
        if tracer is not None:
            tracer.attach(spark)
        wl = None
        try:
            if args.workload == "lakehouse_session":
                wl = Lakehouse(run, inputs, args.seed)
            else:
                wl = Registry(run, inputs)
            wl.warm_up()
            setup_s = time.time() - T_START - inputs.waited
            if tracer is not None:
                tracer.recording = False   # from here on, traced ops only
            timed_passes(run, wl.one_pass, args.seconds, bool(args.trace))
            jvm_mb = jvm_peak_rss_mb(spark)
            driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            geo = op_class_geomeans(run)
            layers = None
            if tracer is not None:
                layers = tracer.per_layer(run)
                layers["read_op_geomean_s"] = (geo["read"], "s")
                layers["write_op_geomean_s"] = (geo["write"], "s")
                layers["space_amp"] = (
                    statistics.median(getattr(wl, "space_amp", None) or [0.0]), "ratio")
        finally:
            if wl is not None:
                wl.close()
            master = spark.sparkContext.master
            stop_spark(spark)
        # correctness, outside every timed region: DuckDB over the same files
        run.check(inputs.expectations())
    finally:
        inputs.close()

    log(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": cpus, "master": master,
        "loadavg": {"start": load_start, "end": os.getloadavg()[0]},
        "passes": run.passes, "traced_passes": run.traced_passes,
        "fail_ratio": run.failed / run.attempted, "failures": run.failures,
        "op_tail_ratio": stats.tail_ratio(run.samples),
        "read_op_geomean_s": geo["read"], "write_op_geomean_s": geo["write"],
        "space_amp": getattr(wl, "space_amp", None),
        "op_medians": stats.op_medians(run.samples),
    }))
    if layers is not None:
        metrics = layers
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(run.passes), "s"),
            "op_geomean_s": (geo["all"], "s"),
            "ok_ratio": (1.0 - run.failed / run.attempted, "ratio"),
            "jvm_peak_rss_mb": (jvm_mb, "MB"),
            "driver_peak_rss_mb": (driver_mb, "MB"),
        }
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value} {unit}")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
