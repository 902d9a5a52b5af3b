"""Spans, Spark task metrics and host facts for the benchmark.

A span is recorded around each call the benchmark makes into one of the
program's layers. Spans live in memory and are written out once, at the
end of a run. In a traced run every span also gets its own Spark job
group, so the jobs it launched can be found afterwards in Spark's status
store (which works with the UI disabled) and their task metrics summed.
With tracing off, ``span`` only times the block.
"""

from __future__ import annotations

import json
import os
import platform
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Stage task metrics summed per span (AppStatusStore StageData getters).
STAGE_METRICS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class Span:
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    #: job groups whose jobs belong to this span (its own, plus e.g. a
    #: streaming query's run id, which Spark sets on micro-batch jobs)
    groups: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` records durations only
    (no job groups), which is the untraced mode every end-to-end metric
    is measured in. Task metrics are read from the status store once, in
    :meth:`collect`, after the timed work; the only cost inside the timed
    region is setting the job group, which ``overhead_s`` sums."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, run_id: str = ""):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, layer, run_id, parent, 0.0)
        self.spans.append(sp)
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            t = time.perf_counter()
            sp.groups.append(f"perfbench-{idx}")
            sc.setJobGroup(sp.groups[0], name)
            self.overhead_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                t = time.perf_counter()
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    sc.setJobGroup(outer.groups[0], outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self.overhead_s += time.perf_counter() - t

    def collect(self) -> None:
        """Fill every span's ``metrics`` from Spark's status store."""
        if self.enabled:
            by_group = group_metrics(self.spark)
            for sp in self.spans:
                sp.metrics = _sum([by_group.get(g, {}) for g in sp.groups])

    def self_seconds(self, keep: list[int]) -> dict[str, float]:
        """Per layer, over the spans ``keep`` indexes (whole subtrees):
        span time minus the time its child spans cover."""
        child = dict.fromkeys(keep, 0.0)
        for i in keep:
            parent = self.spans[i].parent
            if parent is not None:
                child[parent] += self.spans[i].seconds
        out: dict[str, float] = {}
        for i in keep:
            sp = self.spans[i]
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.seconds - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                rec = {
                    "id": i, "name": sp.name, "layer": sp.layer, "run_id": sp.run_id,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "metrics": sp.metrics,
                }
                f.write(json.dumps(rec) + "\n")


def _sum(parts: list[dict]) -> dict:
    out: dict = {}
    for p in parts:
        for k, v in p.items():
            out[k] = out.get(k, 0) + v
    return out


def group_metrics(spark) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, summed stage task metrics and
    files scanned, from the status store (which the UI being disabled does
    not turn off)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # deliver pending events
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    stages = {}
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for st in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        if st.status().toString() != "SKIPPED":
            stages.setdefault(st.stageId(), []).append(st)
    files = _files_read_per_job(spark)
    out: dict[str, dict] = {}
    for job in conv.asJava(store.jobsList(None)):
        grp = job.jobGroup()
        if not grp.isDefined():
            continue
        m = out.setdefault(grp.get(), dict.fromkeys(STAGE_METRICS + ("jobs", "stages", "tasks", "files_read"), 0))
        m["jobs"] += 1
        m["files_read"] += files.get(job.jobId(), 0)
        for sid in conv.asJava(job.stageIds()):
            for st in stages.pop(sid, ()):  # a stage counts once, for its first job
                m["stages"] += 1
                m["tasks"] += st.numCompleteTasks()
                for k in STAGE_METRICS:
                    m[k] += getattr(st, k)()
    return out


def _files_read_per_job(spark) -> dict[int, int]:
    """The scans' "number of files read" SQL metric per SQL execution,
    credited to the execution's first job."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    sql_store = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, int] = {}
    for ex in conv.asJava(sql_store.executionsList()):
        jobs = sorted(conv.asJava(ex.jobs().keySet()))
        if not jobs:
            continue
        eid = ex.executionId()
        values = conv.asJava(sql_store.executionMetrics(eid))
        total = 0
        for node in conv.asJava(sql_store.planGraph(eid).allNodes()):
            if "Scan" not in node.name():
                continue
            for m in conv.asJava(node.metrics()):
                raw = values.get(m.accumulatorId()) if m.name() == "number of files read" else None
                if raw:
                    total += int(str(raw).replace(",", "").split()[0])
        out[jobs[0]] = out.get(jobs[0], 0) + total
    return out


class RssPoller:
    """Peak resident memory of this process tree (Python driver, JVM and
    Python workers), polled from /proc in a background thread. The
    thread's own CPU time is left out of :func:`tree_cpu_s`."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-poller", daemon=True)

    def __enter__(self) -> "RssPoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        root, tid = os.getpid(), threading.get_native_id()
        _UNMEASURED_TIDS.add(tid)
        try:
            while not self._stop.is_set():
                self.peak_kb = max(self.peak_kb, tree_rss_kb(root))
                self._stop.wait(self.INTERVAL_S)
        finally:
            _UNMEASURED_TIDS.discard(tid)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
#: threads of this process whose CPU time is the benchmark's, not the program's
_UNMEASURED_TIDS: set[int] = set()


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name, or None
    if the process or thread has gone."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None


def _tree_stats(root: int) -> list[list[str]]:
    """The /proc stat fields of ``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (fields := _stat_fields(f"/proc/{entry}/stat")) is not None:
            stats[int(entry)] = fields
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def _ticks(fields: list[str]) -> int:
    return sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` and its live descendants, less the RSS poller's thread.
    Unlike wall time it does not grow while the hypervisor runs another
    guest on our virtual CPUs."""
    total = sum(_ticks(f) for f in _tree_stats(root))
    for tid in list(_UNMEASURED_TIDS):
        if (fields := _stat_fields(f"/proc/{root}/task/{tid}/stat")) is not None:
            total -= int(fields[11]) + int(fields[12])  # the thread's utime, stime
    return total / _TICK


def tree_rss_kb(root: int) -> int:
    """Resident set of ``root`` and all its descendants, in KiB."""
    return sum(int(f[21]) for f in _tree_stats(root)) * _PAGE_KB


def steal_s() -> float:
    """CPU time stolen from this machine by the hypervisor, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_facts(spark) -> dict:
    """nproc and the Spark and Java versions — recorded beside every result
    (with the load average at start and end) so host drift between
    measurement windows stays visible."""
    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }
