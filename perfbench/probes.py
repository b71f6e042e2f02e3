"""Measurement helpers: percentiles, process CPU and memory from /proc,
in-memory spans, and readers of Spark's own status surfaces.

The Spark readers run only after an operation has finished, outside the
time that operation is charged for: Spark keeps the last 1000 stages, jobs
and executions, so the traced run reads after every operation.
"""

from __future__ import annotations

import math
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# --- statistics ---------------------------------------------------------


def percentile(values, q: float) -> float:
    """q-th percentile (0..100) by linear interpolation between closest
    ranks, the same rule as numpy.percentile's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail(values, beyond: int = 10) -> float:
    """The value at the highest percentile that still has `beyond` samples
    above it. With no more than 2 x `beyond` samples that percentile would
    not lie above the median, and the largest sample is returned."""
    xs = sorted(values)
    if len(xs) <= 2 * beyond:
        return xs[-1]
    return xs[len(xs) - 1 - beyond]


# --- process accounting -------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant."""
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by `root` and all its descendants so far. Each live
    process contributes its own time plus that of children it has reaped,
    so workers that already exited are counted too."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 (state); utime..cstime are fields 14..17
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over `pids`, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_pid(root: int) -> int | None:
    """The driver JVM: the java process among `root`'s descendants."""
    for pid in process_tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


# --- spans --------------------------------------------------------------


class Tracer:
    """Spans kept in memory: (run_id, span_id, parent_id, name, start,
    end). `enabled=False` makes `span` a plain context manager."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"run": self.run_id, "id": sid,
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


# --- Spark status readers -------------------------------------------------

# SQL node metric names of the Python-evaluating plan nodes
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandasWithState",
            "FlatMapGroupsInPandas", "BatchEvalPython", "PythonMapInArrow")


class SparkProbe:
    """Reads what Spark ran since the previous `collect()`: stage totals,
    job and execution counts, and per-node SQL metrics of Python nodes."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_stage = -1
        self.last_job = -1
        self.last_exec = -1
        self.collect()  # start from what has already run

    def _stages(self):
        al = self.jvm.java.util.ArrayList
        empty = self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)
        return self.store.stageList(al(), False, False, empty, al())

    def collect(self) -> dict:
        """Counters for everything since the last call."""
        out = defaultdict(float)
        stages = self._stages()
        top = self.last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.last_stage:
                continue
            top = max(top, sid)
            out["executor.stages"] += 1
            out["executor.tasks"] += s.numTasks()
            out["executor.run_s"] += s.executorRunTime() / 1e3
            out["executor.cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle.write_bytes"] += s.shuffleWriteBytes()
            out["shuffle.read_bytes"] += s.shuffleReadBytes()
            out["shuffle.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["output_bytes"] += s.outputBytes()
        self.last_stage = top

        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        jtop = self.last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid > self.last_job:
                out["executor.jobs"] += 1
                jtop = max(jtop, jid)
        self.last_job = jtop

        execs = self.sql.executionsList()
        etop = self.last_exec
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self.last_exec:
                continue
            etop = max(etop, eid)
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                kind = node.name()
                if kind not in PY_NODES:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    text = values.get(metric.accumulatorId())
                    if text.isDefined():
                        out[f"{kind}:{metric.name()}"] += parse_metric(text.get())
        self.last_exec = etop
        return out


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store renders it -> seconds, bytes or a
    plain count. Task-level metrics read "total (min, med, max ...)\n
    <total> (<min>, ...)"; only the total is kept."""
    line = text.split("\n")[-1] if "\n" in text else text
    head = line.split("(")[0].strip().replace(",", "")
    parts = head.split()
    if not parts:
        return 0.0
    value = float(parts[0])
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


def python_layer(raw: dict) -> dict:
    """Fold per-node Python metrics into the python.* layer (seconds and
    bytes, as `parse_metric` returns them)."""
    out = defaultdict(float)
    for key, v in raw.items():
        if ":" not in key:
            continue
        _kind, name = key.split(":", 1)
        if name == PY_RUN:
            out["python.run_s"] += v
        elif name in (PY_START, PY_INIT):
            out["python.start_s"] += v
        elif name == PY_SENT:
            out["python.bytes_sent"] += v
        elif name == PY_RETURNED:
            out["python.bytes_returned"] += v
    return out


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning milliseconds of `df`'s own
    query execution. Planning is forced here if it has not happened."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[f"catalyst.{kv._1()}_ms"] = float(kv._2().durationMs())
    return out
