#!/usr/bin/env python3
"""The repo benchmark: one workload of the engine, timed from outside.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

Closed loop, one driver thread. A run builds the seeded inputs, sets the
engine up, runs one untimed pass that checks every op's output and the
workload's ``warm_passes`` untimed passes to finish warming the JVM, then runs
whole passes over the workload's ops, in an order drawn from the seed,
until ``--seconds`` have gone by. An op is a registry query (``registry.load_all()[name].builder``
then ``DataFrame.collect``) or one generation of the seeded particle swarm
(``swarm.py``) run by ``IterativeMR.run`` on a ``mockparallel.make_job``
Spark job.

Correctness is checked outside op latencies: the first pass compares each
query with its DuckDB oracle (``oracle.duck_connect`` / ``oracle.compare``)
and the swarm with its ``BypassJob`` twin; every later pass compares each
output's value hash with the verified one. An op that raises or mismatches
counts as failed.

End-to-end metrics (``--trace 0``) come from per-op medians over the timed
passes, so the mix of ops a run happens to finish does not move them:

* ``setup_s``: process start until the session is up, the registry loaded
  and the code shipped, less input generation (printed as ``gen_s``);
* ``op_p50_s``: median over ops of each op's median latency;
* ``rows_per_s``: the declared input rows of one pass (every table each
  query's oracle SQL reads, plus one row per particle and generation)
  over the sum of the per-op median times of one pass;
* ``cpu_s``: CPU of the whole process tree (driver, JVM, Python workers,
  from ``/proc``) over one pass, summed from per-op medians.

``op_tail_s`` (the highest percentile with at least ten samples beyond it,
never below p50, with its sample count), ``peak_rss_mb`` (the sum of the
tree's per-process peaks over the timed passes) and ``error_rate`` print
on lines of their own.

``--trace 1`` traces every other op, prints the per-layer metrics (per
pass), each layer's self time and the tracing overhead (traced vs
untraced op latency), and writes the spans to ``.perfbench_cache/spans/``.
``LAYERS.json`` maps each layer metric to the end-to-end metric it should
move and the workload it is read on.

The engine is sized through its environment only: ``SPARK_GRAFT_CPUS``
(at most ``nproc``, default the workload's ``cpus``), ``SPARK_GRAFT_DRIVER_MEM``
(default 3g, also the JVM's initial heap through ``PYSPARK_SUBMIT_ARGS``),
and a run directory of its own for ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the
JVM temp dir, deleted when the run ends.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
sys.path.insert(0, str(ROOT))

import probes  # noqa: E402

#: swarm size and generations per pass of the ``mr_iterative`` workload
PARTICLES = 256
GENERATIONS = 3


@dataclass(frozen=True)
class Workload:
    #: ``tier`` (the seeded 10x tier of ``fixtures/sf0.01``) or a directory
    #: under ``fixtures/`` read as it is
    data: str
    ops: tuple[str, ...]
    #: untimed whole passes after the checking one. A count, not a time, so
    #: a slow host starts timing as warm as a fast one: the JVM keeps
    #: warming for several passes of work (relational op latencies of the
    #: second to fifth pass ran 1.2-1.6x those of later ones)
    warm_passes: int
    #: task threads (``local[cpus]``), capped at ``nproc``. Few, so the
    #: JVM's compiler and GC threads and the Python driver have cores of
    #: their own. On a shared 4-vCPU host the IQR over ten seeds of
    #: relational ``op_p50_s``, as a share of its median, was 0.15 at two
    #: threads and 0.11 at one; mr_iterative ran as fast at two threads as
    #: at four on a third less CPU
    cpus: int


#: Two workloads, so a run fits the benchmark's time budget: the first
#: pass of a fresh JVM costs 15-20 s, and each run starts one.
WORKLOADS = {
    # scans, shuffles, joins and aggregation over many files, plus one
    # write: builders are cheap, so builder-side changes should not show
    "relational": Workload(
        "tier", ("groupby_agg", "tpch_q3", "sql_api_q5", "sink_csv_roundtrip"),
        warm_passes=4, cpus=1,
    ),
    # per-iteration overhead: swarm generations pickled through Python
    # workers and the driver, and an iterative llm/ builder of eager
    # checkpoints and driver loops
    "mr_iterative": Workload(
        "sf0.1-part", ("pso", "reduce_sum", "similarity_ivf_trained"),
        warm_passes=1, cpus=2,
    ),
}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s", "cpu_s": "s"}
MODULES = ("llm", "operators", "sources", "mapreduce")
PER_LAYER = {
    "session.build_s": "s", "registry.load_s": "s", "mapreduce.ship_s": "s",
    **{f"{m}.{k}": u for m in MODULES
       for k, u in (("build_s", "s"), ("build_jobs", "count"), ("build_stages", "count"))},
    "exec.collect_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "catalog.scan_ms": "ms", "catalog.files_read": "count", "catalog.input_mb": "MB",
    "operators.agg_build_ms": "ms", "operators.sort_ms": "ms",
    "operators.broadcast_build_ms": "ms", "operators.codegen_ms": "ms",
    "plan.exchanges": "count", "plan.joins": "count", "plan.scans": "count",
    "llm.python_eval_ms": "ms",
    "mapreduce.wait_s": "s", "mapreduce.collect_s": "s", "mapreduce.jobs_per_iter": "count",
    "python.worker_cpu_s": "s",
    "sources.files_written": "count", "sources.bytes_written": "MB",
    "sources.rows_written": "count", "sources.write_ms": "ms",
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.jvm_rss_mb": "MB",
    "trace.op_p50_s": "s", "trace.overhead_pct": "%",
}
#: span names the traced runs of all workloads produce together
LAYER_SPANS = (
    "session.build", "registry.load", "mapreduce.ship", "exec.collect",
    "mapreduce.wait", "mapreduce.collect", *(f"{m}.build" for m in MODULES),
)

#: SQL plan nodes that evaluate Python, and that write files
PYTHON_NODES = re.compile(r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow"
                          r"|FlatMapGroupsIn|FlatMapCoGroupsIn|PythonUDTF|WindowInPandas")
WRITE_NODES = re.compile(r"InsertInto|WriteFiles|SaveIntoDataSource")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Environment and inputs
# ---------------------------------------------------------------------------


def host_env(run_dir: Path, workload: Workload) -> dict[str, str]:
    """Size the engine for this host and keep its files in ``run_dir``.

    The heap starts at its cap (``-Xms``): a heap that grows during the run
    makes op latencies drift down for a minute or more."""
    nproc = os.cpu_count() or 1
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", workload.cpus)), nproc)
    tmp = run_dir / "tmp"
    local = run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{mem} pyspark-shell",
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def clean_stale_runs() -> None:
    """Delete run directories whose process is gone (a killed earlier run)."""
    runs = CACHE / "runs"
    if not runs.is_dir():
        return
    for d in runs.iterdir():
        if not Path(f"/proc/{d.name}").exists():
            shutil.rmtree(d, ignore_errors=True)


def table_rows(data_dir: Path) -> dict[str, int]:
    import pyarrow.parquet as pq

    out = {}
    for path in data_dir.glob("*.parquet"):
        files = sorted(path.glob("*.parquet")) if path.is_dir() else [path]
        out[path.name[: -len(".parquet")]] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in files
        )
    return out


def declared_rows(sql: str, rows: dict[str, int]) -> int:
    """Input rows of a query: every fixture table its oracle SQL reads."""
    words = set(re.findall(r"[a-z_]+", sql.lower()))
    return sum(n for t, n in rows.items() if t in words)


def value_hash(cols: list[str], rows: list) -> str:
    from mrs_mapreduce_spark.oracle import _canon_rows

    canon = _canon_rows(cols, [tuple(r) for r in rows])
    return hashlib.sha256(repr((sorted(cols), canon)).encode()).hexdigest()


class Collected:
    """A DataFrame whose ``collect`` keeps the rows it returned."""

    def __init__(self, df):
        self._df = df
        self.rows = None

    def collect(self):
        self.rows = self._df.collect()
        return self.rows

    def __getattr__(self, name):
        return getattr(self._df, name)


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, workload: Workload):
        self.args = args
        self.workload = workload
        self.tracer = probes.Tracer(args.trace == 1)
        self.tracing = False  # timed passes trace every other op
        self.traced = False  # the op in progress is traced
        self.traced_ops = 0
        self.samples: list[tuple[str, bool, float]] = []  # (op, traced, latency)
        #: per timed op of a pass: (op, summed latency, process-tree CPU)
        self.units: list[tuple[str, float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.verified: dict[str, str | None] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        self.plan_nodes: list[str] = []
        self.last_exec = -1
        self.timed = False
        self._pso_gens = 0

    # -- setup -------------------------------------------------------------

    def setup(self, gen) -> float:
        """Import, inputs, session, registry, code shipping; return ``setup_s``:
        process start until the code is shipped, less input generation."""
        t = self.tracer
        from mrs_mapreduce_spark import mockparallel
        from mrs_mapreduce_spark.registry import load_all
        from mrs_mapreduce_spark.session import get_session

        g0 = time.perf_counter()
        self.data_dir = gen()
        self.gen_s = time.perf_counter() - g0
        t1 = time.perf_counter()
        sid = t.start("session.build", "setup")
        self.spark = get_session(f"perfbench-{self.args.workload}")
        t.end(sid)
        self.layer["session.build_s"] = time.perf_counter() - t1
        t2 = time.perf_counter()
        sid = t.start("registry.load", "setup")
        self.registry = load_all()
        t.end(sid)
        self.layer["registry.load_s"] = time.perf_counter() - t2
        t3 = time.perf_counter()
        sid = t.start("mapreduce.ship", "setup")
        self.job = mockparallel.make_job("spark", spark=self.spark)
        if "pso" in self.workload.ops:
            self.spark.sparkContext.addPyFile(str(HERE / "swarm.py"))
        t.end(sid)
        self.layer["mapreduce.ship_s"] = time.perf_counter() - t3
        return time.perf_counter() - T_START - self.gen_s

    # -- one op ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, op: str):
        sid = self.tracer.start(name, op) if self.traced else None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.tracer.end(sid)
            if self.traced:
                key = {"exec.collect": "exec.collect_s", "mapreduce.wait": "mapreduce.wait_s",
                       "mapreduce.collect": "mapreduce.collect_s"}.get(name)
                if name.endswith(".build"):
                    key = name + "_s"
                if key:
                    self.layer[key] += time.perf_counter() - t0

    def op_begin(self, op: str) -> dict:
        self.attempted += 1
        state = {"op": op}
        if self.traced:
            state["mark"] = probes.mark(self.spark)
            state["sid"] = self.tracer.start("op", op)
        state["t0"] = time.perf_counter()
        return state

    def op_stop(self, state: dict) -> None:
        """The op's work is done; what follows is outside its latency."""
        state["t1"] = time.perf_counter()
        if self.traced:
            self.tracer.end(state["sid"])

    def op_end(self, state: dict, ok: bool) -> None:
        if not ok:
            self.failed += 1
        if self.timed:
            op = state["op"].split(".")[0]  # one swarm generation counts under "pso"
            self.samples.append((op, self.traced, state["t1"] - state["t0"]))
        if self.traced:
            self.count_engine(state["mark"])

    def count_engine(self, mark) -> None:
        """Status-store and SQL-store counters since ``mark`` (outside op time)."""
        probes.drain(self.spark)
        (j0, s0), (j1, s1) = mark, probes.mark(self.spark)
        L = self.layer
        L["spark.jobs"] += j1 - j0
        for k, v in probes.stage_totals(self.spark, s0, s1).items():
            L[f"spark.{k}"] += v
        for ex in probes.sql_executions(self.spark, self.last_exec):
            self.last_exec = max(self.last_exec, ex.exec_id)
            for name, m in ex.nodes:
                self.plan_nodes.append(name)
                if name.startswith("Scan"):
                    L["plan.scans"] += 1
                    L["catalog.scan_ms"] += m.get("scan time", 0.0)
                    L["catalog.files_read"] += m.get("number of files read", 0.0)
                    L["catalog.input_mb"] += m.get("size of files read", 0.0) / 2**20
                elif name.endswith("Exchange"):
                    L["plan.exchanges"] += 1
                    L["operators.broadcast_build_ms"] += m.get("time to build", 0.0)
                elif name.endswith("Join"):
                    L["plan.joins"] += 1
                elif name.endswith("Aggregate"):
                    L["operators.agg_build_ms"] += m.get("time in aggregation build", 0.0)
                elif name == "Sort":
                    L["operators.sort_ms"] += m.get("sort time", 0.0)
                elif name.startswith("WholeStageCodegen"):
                    L["operators.codegen_ms"] += m.get("duration", 0.0)
                elif PYTHON_NODES.search(name):
                    L["llm.python_eval_ms"] += sum(
                        v for k, v in m.items() if "time" in k)
                elif WRITE_NODES.search(name):
                    L["sources.files_written"] += m.get("number of written files", 0.0)
                    L["sources.bytes_written"] += m.get("written output", 0.0) / 2**20
                    L["sources.rows_written"] += m.get("number of output rows", 0.0)
                    L["sources.write_ms"] += (m.get("task commit time", 0.0)
                                              + m.get("job commit time", 0.0))

    def query(self, name: str, verify) -> None:
        q = self.registry[name]
        module = q.builder.__module__.split(".")[1]
        state = self.op_begin(name)
        try:
            with self.span(f"{module}.build", name):
                df = Collected(q.builder(self.spark, str(self.data_dir)))
            if self.traced:
                (j0, s0), (j1, s1) = state["mark"], probes.mark(self.spark)
                self.layer[f"{module}.build_jobs"] += j1 - j0
                self.layer[f"{module}.build_stages"] += s1 - s0
            with self.span("exec.collect", name):
                res = verify(name, df, q.oracle) if verify else df.collect()
        except Exception:  # an op that raises is a failed op
            self.op_stop(state)
            log(f"[fail] {name}\n{traceback.format_exc()}")
            self.verified.setdefault(name, None)
            self.op_end(state, False)
            return
        self.op_stop(state)
        h = value_hash(list(df.columns), df.rows)
        if verify:
            ok = res.ok
            self.verified[name] = h if ok else None
            if not ok:
                log(f"[mismatch] {res}")
        else:
            ok = self.verified.get(name) == h
            if not ok:
                log(f"[mismatch] {name}: value hash differs from the verified one")
        self.op_end(state, ok)

    def pso(self, twin_result) -> None:
        """One seeded swarm of ``GENERATIONS`` generations; one op per generation."""
        import swarm
        from mrs_mapreduce_spark.mapreduce import IterativeMR

        run = self
        job = self.job
        wait = job.wait
        if self.traced:
            def traced_wait(*datasets, **kw):
                with run.span("mapreduce.wait", "pso"):
                    return wait(*datasets, **kw)
            job.wait = traced_wait

        class Timed(swarm.Swarm):
            def producer(self, job):
                self.state_op = run.op_begin(f"pso.g{self.generation}")
                with run.span("mapreduce.build", self.state_op["op"]):
                    return super().producer(job)

            def consumer(self, dataset):
                with run.span("mapreduce.collect", self.state_op["op"]):
                    keep = super().consumer(dataset)
                if run.traced:
                    run.layer["mapreduce.jobs_per_iter"] += (
                        probes.mark(run.spark)[0] - self.state_op["mark"][0])
                    run._pso_gens += 1
                run.op_stop(self.state_op)
                run.op_end(self.state_op, True)
                return keep

        prog = Timed(self.args.seed, PARTICLES, self.job.default_splits)
        try:
            IterativeMR(prog).run(job, max_iterations=GENERATIONS)
            ok = prog.result() == twin_result
        except Exception:  # a swarm that raises is a failed op
            log(f"[fail] pso\n{traceback.format_exc()}")
            ok = False
        finally:
            job.wait = wait
        if not ok:
            log("[mismatch] pso: the swarm differs from its BypassJob twin")
            self.failed += 1
            self.attempted = max(self.attempted, self.failed)

    # -- passes ------------------------------------------------------------

    def one_pass(self, index: int, verify=None, twin=None) -> None:
        """All ops once, in seeded order. A traced run traces every other op,
        the other half in the next pass, so traced and untraced ops are
        equally warm."""
        ops = list(self.workload.ops)
        random.Random(f"{self.args.seed}:{index}").shuffle(ops)
        tmp = Path(tempfile.gettempdir())
        before = set(os.listdir(tmp))
        for op in ops:
            self.traced = self.tracing and (self.workload.ops.index(op) + index) % 2 == 0
            cpu0 = probes.cpu_by_kind(probes.process_tree())
            first, t = len(self.samples), time.perf_counter()
            if op == "pso":
                self.pso(twin)
            else:
                self.query(op, verify)
            cpu1 = probes.cpu_by_kind(probes.process_tree())
            busy = sum(dt for _, _, dt in self.samples[first:])
            if self.timed:
                self.units.append((op, busy, sum(cpu1.values()) - sum(cpu0.values())))
            log(f"[op] pass {index} {op} {time.perf_counter() - t:.3f} s "
                f"cpu {sum(cpu1.values()) - sum(cpu0.values()):.2f} s")
            if self.traced:
                self.traced_ops += 1
                for kind, key in (("python_worker", "python.worker_cpu_s"),
                                  ("driver", "proc.driver_cpu_s"), ("jvm", "proc.jvm_cpu_s")):
                    self.layer[key] += cpu1[kind] - cpu0[kind]
        self.traced = False
        # files the ops wrote in this pass go, so disk state stays the same pass to pass
        for d in set(os.listdir(tmp)) - before:
            shutil.rmtree(tmp / d, ignore_errors=True)


def tail(values: list[float]) -> tuple[float, int]:
    """Highest whole percentile with at least 10 samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    pct = max(50, int(100 * (n - 10) / n))
    return xs[min(n - 1, int(pct / 100 * n))], pct


def trace_overhead(samples) -> tuple[float, float]:
    """Traced ``op_p50_s``, and the geometric mean over ops of traced vs
    untraced median latency of the same op, as a percentage."""
    by = {}
    for op, traced, dt in samples:
        by.setdefault((op, traced), []).append(dt)
    ratios = [
        statistics.median(by[op, True]) / statistics.median(by[op, False])
        for op, traced in by if traced and (op, False) in by
    ]
    p_traced = statistics.median(dt for _, traced, dt in samples if traced)
    return p_traced, 100.0 * (statistics.geometric_mean(ratios) - 1.0)


def shutdown(spark) -> None:
    """Stop the session, the JVM and every process under this one; wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        rest = [p for p in probes.process_tree() if p.pid != os.getpid()]
        if not rest:
            return
        time.sleep(0.2)
    for p in rest:
        try:
            os.kill(p.pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 fixtures and a 2-copy tier (see smoke.py)")
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]
    if not (ROOT / "mrs_mapreduce_spark").is_dir():
        log(f"no mrs_mapreduce_spark package under {ROOT}: nothing to measure")
        return 2

    clean_stale_runs()
    run_dir = CACHE / "runs" / str(os.getpid())
    env = host_env(run_dir, workload)
    run = Run(args, workload)
    try:
        return drive(run, args, workload, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def drive(run: Run, args, workload: Workload, env: dict) -> int:
    import gen

    if workload.data == "tier":
        source, copies = ("sf0.001", 2) if args.smoke else ("sf0.01", 10)
        make = lambda: gen.build(args.seed, source, copies)  # noqa: E731
    else:
        fixed = HERE / "fixtures" / ("sf0.001" if args.smoke else workload.data)
        make = lambda: fixed  # noqa: E731
    setup_s = run.setup(make)
    spark = run.spark
    try:
        rows = table_rows(run.data_dir)
        per_pass_rows = sum(
            PARTICLES * GENERATIONS if op == "pso"
            else declared_rows(run.registry[op].oracle or "", rows)
            for op in workload.ops
        )
        print(f"gen_s {run.gen_s:.4f} s", flush=True)
        print("env " + json.dumps(env), flush=True)

        # untimed pass: warm the engine and verify every output
        twin = None
        if "pso" in workload.ops:
            import swarm
            from mrs_mapreduce_spark.mapreduce import IterativeMR
            from mrs_mapreduce_spark.mockparallel import make_job

            prog = swarm.Swarm(args.seed, PARTICLES, 1)
            IterativeMR(prog).run(make_job("bypass"), max_iterations=GENERATIONS)
            twin = prog.result()
        con = None
        if any(op != "pso" for op in workload.ops):
            from mrs_mapreduce_spark.oracle import compare, duck_connect

            con = duck_connect(str(run.data_dir))

        def verify(name, df, sql):
            return compare(name, df, con, sql)

        log(f"[phase] setup done at {time.perf_counter() - T_START:.1f} s")
        run.one_pass(0, verify=verify, twin=twin)
        for warm in range(1, workload.warm_passes + 1):
            run.one_pass(-warm, twin=twin)
        log(f"[phase] verified at {time.perf_counter() - T_START:.1f} s")
        run.timed = True
        run.tracing = args.trace == 1
        probes.reset_peaks(probes.process_tree())
        t0 = time.perf_counter()
        passes = 0
        while True:
            run.one_pass(passes + 1, twin=twin)
            passes += 1
            # a traced run ends on an even pass: every op traced as often as not
            if time.perf_counter() - t0 >= args.seconds and passes % (1 + args.trace) == 0:
                break
        tree = probes.process_tree()
        peak_mb = sum(p.hwm_mb for p in tree)
        jvm_rss = sum(p.rss_mb for p in tree if p.kind == "jvm")
        log(f"[phase] measured at {time.perf_counter() - T_START:.1f} s")
    finally:
        shutdown(spark)
    log(f"[phase] stopped at {time.perf_counter() - T_START:.1f} s")

    lat = [dt for _, _, dt in run.samples]
    tail_s, pct = tail(lat)
    print(f"op_tail_s {tail_s:.4f} s (p{pct} of {len(lat)} op samples, {passes} passes)")
    print(f"input_rows_per_pass {per_pass_rows} rows")
    print(f"peak_rss_mb {peak_mb:.1f} MB", flush=True)
    if args.trace == 0:
        # per-op medians, so the mix of ops in a run does not move a metric
        def per_op(rows, col):
            return [statistics.median(r[col] for r in rows if r[0] == op)
                    for op in workload.ops]

        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(per_op(run.samples, 2)),
            "rows_per_s": per_pass_rows / sum(per_op(run.units, 1)),
            "cpu_s": sum(per_op(run.units, 2)),
        }
        units = END_TO_END
    else:
        L = run.layer
        per_pass = [k for k in L if not k.endswith(("ship_s", "load_s"))
                    and k not in ("session.build_s", "mapreduce.jobs_per_iter")]
        traced_passes = run.traced_ops / len(workload.ops)
        for k in per_pass:
            L[k] /= traced_passes
        L["mapreduce.jobs_per_iter"] = (
            L["mapreduce.jobs_per_iter"] / run._pso_gens if run._pso_gens else 0.0)
        L["proc.jvm_rss_mb"] = jvm_rss
        p_traced, overhead = trace_overhead(run.samples)
        L["trace.op_p50_s"] = p_traced
        L["trace.overhead_pct"] = overhead
        metrics, units = L, PER_LAYER
        spans = run.tracer.spans
        self_s = run.tracer.self_times()
        print("self_s " + json.dumps({k: round(v, 4) for k, v in sorted(self_s.items())}))
        plan = hashlib.sha256("\n".join(sorted(run.plan_nodes)).encode()).hexdigest()[:16]
        print(f"plan_hash {plan}")
        out = CACHE / "spans" / f"{args.workload}-s{args.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps([
            {"id": i, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end} for i, s in enumerate(spans)
        ]))
        print(f"spans {out}")
        p_plain = statistics.median(dt for _, traced, dt in run.samples if not traced)
        print(f"trace overhead: op_p50_s traced {p_traced:.4f} s vs untraced "
              f"{p_plain:.4f} s; per op {overhead:+.1f}%")
    error_rate = run.failed / run.attempted
    print(f"error_rate {error_rate:.4f} ratio", flush=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
