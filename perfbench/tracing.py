"""Spans, Spark status-store readers and program memory for the benchmark.

Spans are recorded from the benchmark's own files, around its calls into
geo_spark's public functions; geo_spark itself is not instrumented. Every
span sets a Spark job group, so the jobs a call starts can be read back from
``statusTracker``, the stage list and the SQL status store afterwards. All
readers go through py4j to stores Spark keeps anyway; none starts a job.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int | None
    group: str


class Tracer:
    """Spans kept in memory and written out by :meth:`dump`.

    When ``enabled`` is false, :meth:`span` only sets the job group (so
    untraced and traced iterations make the same Spark calls) and records
    nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = 0
        self._epoch0 = time.time() - time.perf_counter()
        self.iteration: int | None = None

    def epoch(self, t: float) -> float:
        """A span time as seconds since the epoch (Spark's job clock)."""
        return t + self._epoch0

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"pb{self._seq}:{name}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        idx = None
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(Span(name, start, start, parent, self.iteration, group))
            self._stack.append(idx)
        try:
            yield group
        finally:
            if idx is not None:
                self.spans[idx].end = time.perf_counter()
                self._stack.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev.split(":", 1)[-1])

    def record(self, name: str, start: float, end: float) -> None:
        """A top-level span for work timed before the tracer existed."""
        self.spans.append(Span(name, start, end, None, None, ""))

    def find(self, name: str, iteration: int | None = None) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.name == name and (iteration is None or s.iteration == iteration)
        ]

    def groups_under(self, span: Span) -> list[str]:
        """Job groups of ``span`` and every span nested in it."""
        idx = self.spans.index(span)
        out, todo = [span.group], [idx]
        while todo:
            p = todo.pop()
            for i, s in enumerate(self.spans):
                if s.parent == p:
                    out.append(s.group)
                    todo.append(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Parse a formatted SQL metric (``'1,234'``, ``'43.9 MiB'``, ``'1.5 s'``,
    the ``'total (min, med, max ...)\\n<total> (...)'`` form, or the
    ``'(min, med, max ...):\\n(<min>, ...)'`` form of averages, read as the
    minimum) into bytes, milliseconds or a plain count."""
    line = text.split("\n")[-1] if text.startswith(("total", "(")) else text
    line = line.lstrip("(")
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS[unit] if unit else value


class SparkStatus:
    """Reads what Spark's status stores recorded for given job groups."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def job_ids(self, groups) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def job_intervals(self, job_ids) -> list[tuple[float, float]]:
        """(submitted, completed) wall times in seconds since the epoch."""
        out = []
        for jid in job_ids:
            jd = self.store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out.append((sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
        return out

    def stages(self, job_ids) -> dict:
        """Sums over the stages of ``job_ids`` plus the task skew
        (max / median task run time) of the slowest stage."""
        tracker = self.sc.statusTracker()
        stage_ids = sorted(
            {s for j in job_ids if (info := tracker.getJobInfo(j)) for s in info.stageIds}
        )
        tot = dict.fromkeys(
            ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write", "shuffle_read", "spill"), 0.0
        )
        slowest = (-1.0, None)
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError as exc:  # a skipped stage has no attempt
                if "NoSuchElementException" not in str(exc):
                    raise
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["run_ms"] += sd.executorRunTime()
            tot["cpu_ms"] += sd.executorCpuTime() / 1e6
            tot["gc_ms"] += sd.jvmGcTime()
            tot["shuffle_write"] += sd.shuffleWriteBytes()
            tot["shuffle_read"] += sd.shuffleReadBytes()
            tot["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.executorRunTime() > slowest[0]:
                slowest = (sd.executorRunTime(), (sid, sd.attemptId()))
        tot["task_skew"] = self._skew(*slowest[1]) if slowest[1] else 0.0
        return tot

    def _skew(self, stage_id: int, attempt: int) -> float:
        tasks = self.store.taskList(stage_id, attempt, 100_000)
        times = sorted(tasks.apply(i).taskMetrics().get().executorRunTime() for i in range(tasks.size()))
        if not times:
            return 0.0
        med = times[len(times) // 2] if len(times) % 2 else (times[len(times) // 2 - 1] + times[len(times) // 2]) / 2
        return times[-1] / med if med > 0 else 1.0

    def sql_nodes(self, job_ids) -> list[tuple[str, str, dict]]:
        """(node name, node description, {metric name: value}) for every plan
        node of the SQL executions that ran any of ``job_ids``."""
        wanted = set(job_ids)
        out = []
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs()
            it = jobs.keysIterator()
            ids = set()
            while it.hasNext():
                ids.add(int(it.next()))
            if not ids & wanted:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            nodes = self.sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                metrics = {}
                ms = node.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                out.append((node.name().strip(), node.desc(), metrics))
        return out

    def storage_bytes(self) -> int:
        infos = self.jsc.getRDDStorageInfo()
        return int(sum(r.memSize() + r.diskSize() for r in infos))


def node_sum(nodes, name_prefix: str, metric: str) -> float:
    return sum(m.get(metric, 0.0) for n, _, m in nodes if n.startswith(name_prefix))


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _status(pid: int) -> dict:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in kB."""
    return int(_status(pid).get("VmHWM", "0 kB").split()[0])


class Memory:
    """Peak memory of the program under test, sampled between iterations.
    Only the first ``samples`` iterations count, so that every run measures
    the memory of the same work however many iterations it fits in.

    ``live_heap_mb``: driver JVM heap in use right after a full collection,
    so it counts live objects (cached blocks included) rather than garbage
    or the heap size. ``jvm_offheap_mb``: the JVM's peak resident set minus
    its committed heap (metaspace, code cache, threads, direct buffers); the
    session pins and pre-touches the heap, so all of it is resident and the
    difference is what lives outside it. ``python_mb``: peak resident sets
    of the Python processes below the JVM (the daemon and its workers)."""

    MB = 1024.0 * 1024.0

    def __init__(self, spark, jvm_pid: int, samples: int):
        jvm = spark.sparkContext._jvm
        self.bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.pid = jvm_pid
        self.left = samples
        self.live_heap_mb = self.jvm_offheap_mb = self.python_mb = 0.0

    def sample(self) -> None:
        """Run a full collection; record memory if this iteration counts."""
        self.bean.gc()
        if self.left == 0:
            return
        self.left -= 1
        heap = self.bean.getHeapMemoryUsage()
        self.live_heap_mb = max(self.live_heap_mb, heap.getUsed() / self.MB)
        offheap = (_hwm_kb(self.pid) * 1024.0 - heap.getCommitted()) / self.MB
        self.jvm_offheap_mb = max(self.jvm_offheap_mb, offheap)
        total, todo = 0, _children(self.pid)
        while todo:
            pid = todo.pop()
            try:
                # only Python: a helper the JVM forks briefly shares its image
                if _status(pid).get("Name", "").startswith("python"):
                    total += _hwm_kb(pid)
                todo.extend(_children(pid))
            except (OSError, ValueError):
                continue  # the process ended while being read
        self.python_mb = max(self.python_mb, total / 1024.0)

    def peak_mb(self) -> float:
        return self.live_heap_mb + self.jvm_offheap_mb + self.python_mb


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total
