"""Outside-in measurement: Spark's in-process status store and /proc.

Nothing here runs inside the program. Phases are tagged with a Spark
job group; after a phase the collector reads, for that group's jobs,

- stage metrics from the core status store (tasks, executor run, CPU,
  GC and deserialize time, shuffle and spill bytes), and
- SQL node metrics from the SQL status store for every SQL execution
  whose jobs belong to the group (MapInArrow Python-worker times and
  bytes, Exchange counts, write-command files and bytes).

Both stores are filled by listeners that run with ``spark.ui.enabled``
false. SQL node metrics arrive there already formatted for display
("2.1 s", "6.9 KiB"), so they carry two to four significant digits;
stage metrics are raw counters.

:class:`ProcTree` samples ``/proc`` for the CPU time of the benchmark's
process tree (this process, the JVM, the Python daemon and workers) and
for the peak resident set (``VmHWM``) of the Python worker processes.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {msg}",
          file=sys.stderr, flush=True)
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value as a number: bytes for sizes,
    seconds for timings, the count for sums. Multi-task values read
    ``total (min, med, max (...))\\n<total> (...)``; the total is used."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].split(" (")[0].strip()
    m = re.match(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)$", line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


@dataclass
class PhaseMetrics:
    """Metrics of the jobs of one or more job groups."""
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    task_deser_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    sql_executions: int = 0
    exchanges: int = 0
    # (node kind, metric name) -> summed value; node kind is the node
    # name, with MapInArrow split into "extract" and "read_warc" by the
    # columns the node outputs
    nodes: dict = field(default_factory=lambda: defaultdict(float))
    # per SQL execution: (node names, wall seconds)
    executions: list = field(default_factory=list)

    def node(self, kind: str, metric: str) -> float:
        return self.nodes.get((kind, metric), 0.0)


def _seq(obj) -> list:
    return [obj.apply(i) for i in range(obj.size())]


def _ints(scala_iterable) -> list[int]:
    text = scala_iterable.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def _node_kind(name: str, desc: str) -> str:
    if name == "MapInArrow":
        if "extracted#" in desc:
            return "extract"
        if "record_type#" in desc:
            return "read_warc"
    return name


class SparkCollector:
    """Reads the status stores of one SparkSession."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._core = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag every job the block runs with job group ``name``."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def read(self, *groups: str) -> PhaseMetrics:
        self._drain()
        wanted = set(groups)
        out = PhaseMetrics()
        job_ids: set[int] = set()
        stage_ids: set[int] = set()
        for job in _seq(self._core.jobsList(None)):
            group = job.jobGroup()
            if group.isDefined() and group.get() in wanted:
                job_ids.add(job.jobId())
                stage_ids.update(_ints(job.stageIds()))
        jvm = self.sc._jvm
        empty = jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for st in _seq(self._core.stageList(None, False, False, quantiles,
                                            empty)):
            if st.stageId() not in stage_ids or st.numCompleteTasks() == 0:
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            out.executor_run_s += st.executorRunTime() / 1e3
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
            out.task_deser_s += st.executorDeserializeTime() / 1e3
            out.spill_bytes += st.diskBytesSpilled()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
        for ex in _seq(self._sql.executionsList()):
            if not job_ids.intersection(_ints(ex.jobs().keySet())):
                continue
            out.sql_executions += 1
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            names = []
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                kind = _node_kind(node.name(), node.desc())
                names.append(kind)
                if kind == "Exchange":
                    out.exchanges += 1
                for pm in _seq(node.metrics()):
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        out.nodes[(kind, pm.name())] += parse_metric(v.get())
            done = ex.completionTime()
            wall = ((done.get().getTime() - ex.submissionTime()) / 1e3
                    if done.isDefined() else 0.0)
            out.executions.append((names, wall))
        return out


class ProcTree:
    """CPU and memory of this process and all its descendants."""

    def __init__(self) -> None:
        self.root = os.getpid()

    @staticmethod
    def _stat(pid: int) -> tuple[int, float] | None:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            return None
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] is ppid; [11:15] utime, stime, cutime, cstime
        cpu = sum(int(x) for x in fields[11:15]) / _CLK_TCK
        return int(fields[1]), cpu

    def _tree(self) -> dict[int, float]:
        parents: dict[int, int] = {}
        cpu: dict[int, float] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(int(name))
                if st is not None:
                    parents[int(name)], cpu[int(name)] = st
        children: dict[int, list[int]] = defaultdict(list)
        for pid, ppid in parents.items():
            children[ppid].append(pid)
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in cpu:
                tree[pid] = cpu[pid]
                todo.extend(children.get(pid, ()))
        return tree

    def cpu_s(self) -> float:
        """User + system CPU of the tree, including reaped children."""
        return sum(self._tree().values())

    def worker_hwm_mb(self) -> float:
        """Highest VmHWM among the Python worker processes."""
        best = 0.0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            best = max(best, int(line.split()[1]) / 1024)
            except OSError:
                continue
        return best
