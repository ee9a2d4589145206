"""Read-only probes around the program under test.

Everything here observes the program from outside: Spark's status
tracker (jobs, stages, tasks by job group), the SQL status store (one
record per SQL execution, with per-plan-node metrics), JVM GC beans, the
JVM's peak RSS, the CPU time of the process tree, and the host's
contention stamps. Nothing here changes what the program does; the SQL
status store and GC beans are JVM internals reached through py4j, read
only after an operation ends.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

# --------------------------------------------------------------- spans


@dataclass
class Span:
    """One traced interval. Spans of one operation share ``op``."""

    id: int
    name: str
    start: float  # seconds, on the time.time() clock
    end: float
    parent: int | None
    op: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store; written out once when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name, start, end, parent=None, op=0, **attrs) -> Span:
        span = Span(len(self.spans), name, start, end, parent, op, attrs)
        self.spans.append(span)
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part its children cover."""
        return (span.end - span.start) - covered(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )

    def as_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


# ------------------------------------------------- SQL status store

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def metric_number(text: str | None) -> float:
    """Parse one formatted SQL metric value ("95,000", "25.1 MiB",
    "7.5 s", or the "total (min, med, max ...)\\n7.5 s (...)" form) to a
    number in bytes, milliseconds or plain units."""
    if not text:
        return 0.0
    m = _NUM.match(text.strip().splitlines()[-1].strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME_MS.get(unit, 1.0))


@dataclass
class SqlExecution:
    id: int
    description: str
    start: float  # seconds since the epoch
    end: float
    #: (plan node name, metric name) -> summed value over nodes
    metrics: dict[tuple[str, str], float]
    plan: str


def _scala_list(seq) -> list:
    out, it = [], seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


class SqlStore:
    """The session's SQL status store, read after each operation."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        ids = [e.executionId() for e in _scala_list(self._store.executionsList())]
        return max(ids, default=-1)

    def since(self, after_id: int) -> list[SqlExecution]:
        """Completed executions with id > ``after_id``, with node metrics."""
        out = []
        for e in _scala_list(self._store.executionsList()):
            eid = e.executionId()
            if eid <= after_id or e.completionTime().isEmpty():
                continue
            values = self._store.executionMetrics(eid)
            metrics: dict[tuple[str, str], float] = {}
            graph = self._store.planGraph(eid)
            for node in _scala_list(graph.allNodes()):
                for pm in _scala_list(node.metrics()):
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        key = (node.name(), pm.name())
                        metrics[key] = metrics.get(key, 0.0) + metric_number(v.get())
            out.append(
                SqlExecution(
                    id=eid,
                    description=str(e.description()),
                    start=e.submissionTime() / 1e3,
                    end=e.completionTime().get().getTime() / 1e3,
                    metrics=metrics,
                    plan=str(e.physicalPlanDescription()),
                )
            )
        return sorted(out, key=lambda x: x.id)


def metric_sum(execs: list[SqlExecution], node_prefix: str, name: str) -> float:
    """Sum metric ``name`` over plan nodes whose name starts with
    ``node_prefix`` ("" matches every node)."""
    return sum(
        v
        for e in execs
        for (node, metric), v in e.metrics.items()
        if metric == name and node.startswith(node_prefix)
    )


# ----------------------------------------------- jobs, stages, tasks


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker holds for a job group."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(job_ids), len(stages), tasks


# ------------------------------------------------------------ the JVM


def gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def _stat_fields(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _tree_ticks(root: int) -> tuple[int, dict[int, int]]:
    """User plus system CPU clock ticks used so far by ``root`` and by
    every live descendant, each with the time of the children it has
    reaped; and, from the same reading, each process's own threads'."""
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(int(name))
        except OSError:  # exited while the table was read
            continue
        fields[int(name)] = f
        children.setdefault(int(f[1]), []).append(int(name))
    ticks, own, todo = 0, {}, [root]
    while todo:
        pid = todo.pop()
        f = fields.get(pid)
        if f is None:
            continue
        own[pid] = int(f[11]) + int(f[12])
        ticks += own[pid] + int(f[13]) + int(f[14])
        todo.extend(children.get(pid, ()))
    return ticks, own


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants.

    With ``root`` the benchmark's own process this is all of the
    program's CPU: the Python driver (py4j calls, ``foreachBatch``
    callbacks), the JVM it launched, and the processes the JVM forks. A
    descendant that exits between two readings moves its time into its
    parent's reaped-children count, so differences stay whole.
    """
    return _tree_ticks(root)[0] / os.sysconf("SC_CLK_TCK")


def _jit_thread_ticks(pid: int) -> dict[str, int]:
    """CPU clock ticks of each live JIT compiler thread of a JVM."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii") as fh:
                if "CompilerThre" not in fh.read():
                    continue
            f = _stat_fields(f"{pid}/task/{tid}")
        except OSError:  # the thread ended
            continue
        out[tid] = int(f[11]) + int(f[12])
    return out


@dataclass
class CpuReading:
    """One reading of the process tree's CPU, in clock ticks."""

    total: int  # the tree under the benchmark's process
    python: int  # that process's own threads
    jvm: int  # the JVM's own threads, ended ones included
    jit: dict[str, int]  # each live JIT compiler thread of the JVM


def read_cpu(me: int, jvm: int) -> CpuReading:
    total, own = _tree_ticks(me)
    return CpuReading(total, own[me], own[jvm], _jit_thread_ticks(jvm))


#: The parts ``cpu_between`` splits CPU into, as the per-layer metrics
#: name them; all but the JIT part add up to ``cpu_s``.
CPU_PARTS = (
    "session.cpu_python_s",
    "session.cpu_jvm_s",
    "session.cpu_subprocess_s",
    "session.cpu_jit_s",
)


def cpu_between(a: CpuReading, b: CpuReading) -> dict[str, float]:
    """``cpu_s`` and its parts between two readings: the benchmark's own
    threads (the program's Python side), the JVM's threads other than
    its JIT compilers, the processes the program started (Python
    workers, and the ``chmod``/``readlink`` helpers Hadoop's local file
    system forks), and the JIT compiler threads.

    ``cpu_s`` is the tree without the JIT compilers. They keep compiling
    in the background for minutes after the JVM starts, and how much of
    that lands in one op moves with how busy the host is (METRICS.md).
    HotSpot ends a compiler thread that has been idle, and the JVM's
    total keeps its time while the live threads' sum loses it, so the
    JIT part counts only the threads alive at ``b``: what each used
    since ``a``, or all of it if it started since."""
    jit = sum(t - a.jit.get(tid, 0) for tid, t in b.jit.items())
    total, python, jvm = b.total - a.total, b.python - a.python, b.jvm - a.jvm
    hz = os.sysconf("SC_CLK_TCK")
    parts = (python, jvm - jit, total - python - jvm, jit)
    return {"cpu_s": (total - jit) / hz, **{k: v / hz for k, v in zip(CPU_PARTS, parts)}}


def reset_peak_rss(pid: int) -> None:
    """Reset a process's VmHWM to its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process since it started or since
    ``reset_peak_rss``, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------ host contention


def _steal_ticks() -> int:
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def spin_probe_ms(loops: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: rises when the host is
    oversubscribed even if /proc/stat shows no steal."""
    t0 = time.perf_counter()
    x = 0
    for i in range(loops):
        x += i
    return (time.perf_counter() - t0) * 1e3


class HostStamps:
    """CPU-steal delta, spin probe and load average around a run.
    Recorded beside the numbers; never used to drop or re-pick a run."""

    def __init__(self) -> None:
        self._steal0 = _steal_ticks()
        self.spin_before_ms = spin_probe_ms()

    def finish(self) -> dict:
        hz = os.sysconf("SC_CLK_TCK")
        return {
            "steal_cpu_s": (_steal_ticks() - self._steal0) / hz,
            "spin_before_ms": round(self.spin_before_ms, 2),
            "spin_after_ms": round(spin_probe_ms(), 2),
            "load_1m": os.getloadavg()[0],
            "nproc": os.cpu_count(),
        }
