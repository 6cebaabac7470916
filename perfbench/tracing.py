"""Tracing for the per-layer metrics, taken from outside the engine.

* ``Spans`` records (name, start, end, parent, call id) around every call
  the benchmark makes into a layer; ``self_times`` subtracts the time a
  span's children cover.
* ``stage_metrics`` sums Spark's status store (``AppStatusStore``) over
  the stages of the jobs run under one job group. The store is filled
  with ``spark.ui.enabled=false`` too.
* ``sql_metrics`` reads the SQL status store (``SQLAppStatusStore``) for
  the executions a call ran: the AQE-final plan graph (Spark flattens
  ``AdaptiveSparkPlanExec`` and the query stages into it, and links a
  reused exchange to the exchange it reuses) and the SQL metrics of its
  Python nodes. ``plan_counts`` is the walker over those node names.
* ``peak_rss_mb`` reads ``VmHWM`` from ``/proc``.
* ``cpu_ticks`` and ``unstolen`` take the CPU time a virtual machine's
  host gave to other guests (steal) out of a wall time.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field


# ----------------------------------------------------------------------
# spans
# ----------------------------------------------------------------------
@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    call_id: int | None = None


@dataclass
class Spans:
    """In-memory span recorder. ``enabled=False`` makes ``span`` free."""
    enabled: bool = True
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    def span(self, name: str, call_id: int | None = None):
        return _SpanCtx(self, name, call_id)

    def open(self, name: str, call_id: int | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        if call_id is None and parent is not None:
            call_id = self.spans[parent].call_id
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               call_id=call_id))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        popped = self._stack.pop()
        assert popped == idx, "spans must close in LIFO order"


class _SpanCtx:
    def __init__(self, rec: Spans, name: str, call_id):
        self.rec, self.name, self.call_id, self.idx = rec, name, call_id, None

    def __enter__(self):
        if self.rec.enabled:
            self.idx = self.rec.open(self.name, self.call_id)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.rec.close(self.idx)
        return False


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, minus the time covered by direct children
    (children of one parent run one after another, never overlapping)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
    return out


def total_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


# ----------------------------------------------------------------------
# Spark status store (jobs and stages of one job group)
# ----------------------------------------------------------------------
STAGE_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "peak_execution_memory_mb", "task_skew")


def wait_for_listeners(spark) -> None:
    """The status stores are filled by the asynchronous listener bus."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Sums over every stage attempt of the group's jobs. ``task_skew`` is
    max / median task run time in the stage with the most run time."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    gw = sc._gateway
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    jobs = job_ids(spark, group)
    out["jobs"] = float(len(jobs))
    longest = (-1.0, None)
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            attempts = store.stageData(int(sid), False,
                                       gw.jvm.java.util.ArrayList(), False,
                                       gw.new_array(gw.jvm.double, 0))
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue        # skipped stage: its output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                run_s = sd.executorRunTime() / 1e3
                out["task_run_s"] += run_s
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                out["peak_execution_memory_mb"] = max(
                    out["peak_execution_memory_mb"],
                    sd.peakExecutionMemory() / 2**20)
                if run_s > longest[0]:
                    longest = (run_s, (int(sid), sd.attemptId()))
    if longest[1] is not None:
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = store.taskSummary(longest[1][0], longest[1][1], q)
        if dist.isDefined():
            rt = dist.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            out["task_skew"] = mx / med if med > 0 else 1.0
    return out


# ----------------------------------------------------------------------
# SQL status store: AQE-final plan graph and SQL metrics
# ----------------------------------------------------------------------
PLAN_KEYS = ("exchanges", "sorts", "windows", "hash_aggs", "sort_merge_joins",
             "broadcast_joins", "python_nodes")

_WRAPPERS = ("AdaptiveSparkPlan", "WholeStageCodegen", "InputAdapter",
             "AQEShuffleRead", "ReusedExchange")


def is_python_node(name: str) -> bool:
    return ("Python" in name or "InPandas" in name or "InArrow" in name
            or name.startswith("ArrowEval"))


def plan_counts(names) -> dict[str, int]:
    """Operator counts over the node names of one final plan.

    Wrapper nodes (``AdaptiveSparkPlan``, ``*QueryStage``, codegen
    clusters, AQE shuffle reads) are not operators and are skipped; a
    ``ReusedExchange`` re-reads an exchange that is already counted, so
    it adds no exchange."""
    out = dict.fromkeys(PLAN_KEYS, 0)
    for raw in names:
        n = raw.split(" (")[0].strip()
        if n.startswith(_WRAPPERS) or n.endswith("QueryStage"):
            continue
        if is_python_node(n):
            out["python_nodes"] += 1
        elif n == "Exchange":
            out["exchanges"] += 1
        elif n == "Sort":
            out["sorts"] += 1
        elif n.startswith("Window"):
            out["windows"] += 1
        elif n.endswith("HashAggregate"):
            out["hash_aggs"] += 1
        elif n == "SortMergeJoin":
            out["sort_merge_joins"] += 1
        elif n.startswith("BroadcastHashJoin") or \
                n.startswith("BroadcastNestedLoopJoin"):
            out["broadcast_joins"] += 1
    return out


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('2.3 s', '9.4 KiB', '100,000', or the
    'total (min, med, max ...)\\n<total> (...)' form) -> seconds, bytes
    or a count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def sql_execution_count(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore()
               .executionsCount())


def sql_metrics(spark, first: int) -> dict[str, float]:
    """Plan counts and Python-node metrics summed over the SQL executions
    recorded since execution index ``first``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {f"plan.{k}": 0.0 for k in PLAN_KEYS}
    out.update({"exec.python_s": 0.0, "exec.python_bytes": 0.0})
    n = int(store.executionsCount()) - first
    if n <= 0:
        return out
    execs = store.executionsList(first, n)
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        names = []
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = node.name()
            names.append(name)
            if not is_python_node(name):
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                pm = metrics.apply(m)
                acc = pm.accumulatorId()
                if not values.contains(acc):
                    continue
                v = parse_metric(values.apply(acc))
                if pm.name() == "time to run Python workers":
                    out["exec.python_s"] += v
                elif pm.name() in ("data sent to Python workers",
                                   "data returned from Python workers"):
                    out["exec.python_bytes"] += v
        for k, v in plan_counts(names).items():
            out[f"plan.{k}"] += v
    return out


def sql_conf(spark) -> dict[str, str]:
    """The session's SQL conf entries that are set."""
    confs = spark._jsparkSession.sessionState().conf().getAllConfs()
    return dict(spark._jvm.scala.jdk.javaapi.CollectionConverters
                .asJava(confs))


# ----------------------------------------------------------------------
# memory
# ----------------------------------------------------------------------
def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------------
# host CPU steal
# ----------------------------------------------------------------------
def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over all CPUs since boot, from
    ``/proc/stat``. Stolen ticks are time a virtual CPU had work to run
    while the host ran another guest; no process is charged for them."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def unstolen(wall: float, start: tuple, end: tuple) -> float:
    """``wall`` seconds without the host's steal between two
    ``cpu_ticks`` readings: the CPUs that had work ran ``busy`` ticks and
    waited ``steal`` ticks for the host, so the same work unstolen takes
    busy / (busy + steal) of the time."""
    busy, steal = end[0] - start[0], end[1] - start[1]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall
