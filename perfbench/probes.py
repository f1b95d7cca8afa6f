"""Counters the benchmark reads from outside the program.

Three sources, all read by the benchmark and none by the package:

* ``/proc`` for CPU and resident memory of the whole process tree: the
  Python driver, the JVM it launched, and the pyspark daemon with its
  forked Python workers (``psutil`` is not available);
* the Spark status store (``AppStatusStore``) for per-stage run time, CPU,
  GC, shuffle and spill;
* the SQL status store (``SQLAppStatusStore``) for per-node SQL metrics.

py4j notes: ``stageData`` needs all five arguments, and Scala ``Seq``
results are read with ``.size()`` / ``.apply(i)``.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    op: str
    parent: int | None
    start: float  # time.time(), seconds since the epoch
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def start(self, name: str, op: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, op, parent, time.time()))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        span = self.spans[sid]
        span.end = time.time()
        popped = self._stack.pop()
        if popped != sid:
            raise RuntimeError(f"span {span.name} closed out of order")

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child):
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out


# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------


@dataclass
class Proc:
    pid: int
    ppid: int
    kind: str  # driver | jvm | python_worker | other
    cpu_s: float  # own + reaped children, user + system
    rss_mb: float
    hwm_mb: float


def _read_proc(pid: int) -> tuple[int, float, str, float, float] | None:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
        cmd = Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ")
        status = Path(f"/proc/{pid}/status").read_text()
    except OSError:  # exited between listing and reading
        return None
    fields = stat[stat.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    mem = dict(re.findall(r"^(VmRSS|VmHWM):\s+(\d+) kB", status, re.M))
    return (
        ppid,
        ticks / CLK_TCK,
        cmd.decode(errors="replace"),
        int(mem.get("VmRSS", 0)) / 1024,
        int(mem.get("VmHWM", 0)) / 1024,
    )


def process_tree(root: int | None = None) -> list[Proc]:
    """The live processes under ``root`` (default: this process)."""
    root = root or os.getpid()
    info = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            got = _read_proc(int(entry))
            if got is not None:
                info[int(entry)] = got
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in info.items():
        children.setdefault(ppid, []).append(pid)
    out: list[Proc] = []
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in info:
            continue
        ppid, cpu, cmd, rss, hwm = info[pid]
        if pid == root:
            kind = "driver"
        elif "java" in cmd.split(" ", 1)[0]:
            kind = "jvm"
        elif "pyspark" in cmd:
            kind = "python_worker"
        else:
            kind = "other"
        out.append(Proc(pid, ppid, kind, cpu, rss, hwm))
        todo.extend(children.get(pid, []))
    return out


def cpu_by_kind(tree: list[Proc]) -> dict[str, float]:
    out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0, "other": 0.0}
    for p in tree:
        out[p.kind] += p.cpu_s
    return out


def reset_peaks(tree: list[Proc]) -> None:
    """Reset VmHWM of every process (``echo 5 > clear_refs``) where allowed."""
    for p in tree:
        try:
            Path(f"/proc/{p.pid}/clear_refs").write_text("5")
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def mark(spark) -> tuple[int, int]:
    """``(next job id, next stage id)``: ids at or above were not yet used."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return dag.nextJobId(), dag.nextStageId()


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event to the stores."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


STAGE_FIELDS = {
    "tasks": lambda s: s.numCompleteTasks(),
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "shuffle_read_mb": lambda s: s.shuffleReadBytes() / 2**20,
    "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / 2**20,
    "spill_mb": lambda s: (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
}


def stage_totals(spark, lo: int, hi: int) -> dict[str, float]:
    """Sum stage metrics over stage ids ``lo <= id < hi`` (all attempts).

    An id the store never recorded raises ``NoSuchElementException`` and is
    skipped; any other py4j failure propagates. A non-empty range that
    yields no stage record at all raises, so a broken probe cannot read as
    an idle engine.
    """
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    empty = sc._gateway.new_array(jvm.double, 0)
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["stages"] = 0.0
    records = 0
    for sid in range(lo, hi):
        try:
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, empty)
        except Py4JJavaError as exc:
            if exc.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                raise
            continue
        records += attempts.size()
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for k, fn in STAGE_FIELDS.items():
                out[k] += fn(s)
    if hi > lo and records == 0:
        raise RuntimeError(f"status store has no record of stages {lo}..{hi - 1}")
    return out


# ---------------------------------------------------------------------------
# SQL status store
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6, "us": 1e-3,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def metric_value(text: str) -> float | None:
    """Parse a formatted SQL metric (``"1,290"``, ``"16 ms"``, ``"2.1 MiB"``,
    or a multi-task ``"total (min, med, max ...)\\n33 ms (...)"``).

    ``None`` for an average metric, which prints per-task statistics and
    no total (``"(min, med, max ...):\\n(1, 1, 1 (...))"``).
    """
    text = text.rsplit("\n", 1)[-1].strip()
    if text.startswith("("):
        return None
    parts = text.split(" (", 1)[0].replace(",", "").split()
    if not parts:
        return 0.0
    value = float(parts[0])
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


@dataclass
class Execution:
    exec_id: int
    nodes: list[tuple[str, dict[str, float]]]


def sql_executions(spark, after: int) -> list[Execution]:
    """Finished executions with an id above ``after``, with every node's metrics."""
    store = spark._jsparkSession.sharedState().statusStore()
    listed = store.executionsList()
    out = []
    for i in range(listed.size()):
        ex = listed.apply(i)
        eid = ex.executionId()
        if eid <= after or ex.completionTime().isEmpty():
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        parsed = []
        for j in range(nodes.size()):
            node = nodes.apply(j)
            metrics = node.metrics()
            got = {}
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if not v.isEmpty():
                    value = metric_value(v.get())
                    if value is not None:
                        got[m.name()] = value
            parsed.append((node.name().strip(), got))
        out.append(Execution(eid, parsed))
    return out
