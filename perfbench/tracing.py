"""Spans and per-layer readings, all taken from outside the package.

Spans are kept in memory and written out when the run ends. Spark's
share of an op is read after the op from three sources:

- stage data: ``statusStore().lastStageAttempt(stageId)`` for every
  stage of every job the op started (job ids above the op's starting
  high-water mark, so jobs a streaming query runs on its own thread are
  counted too; jobs started on the calling thread also carry the span
  id as their job group);
- operator SQL metrics: a walk of the fetched frame's executed plan,
  descending into ``AdaptiveSparkPlanExec.executedPlan`` and each
  ``*QueryStageExec.plan``;
- planning phases: ``queryExecution().tracker().phases()``.

The Python boundary is read from ``/proc``: CPU time and socket bytes of
the Python worker processes under the JVM.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid: str, name: str, parent: str | None):
        self.id, self.name, self.parent = sid, name, parent
        self.start = self.end = 0.0
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            **self.attrs,
        }


class Tracer:
    """Records spans when enabled; otherwise every call is a cheap no-op
    so the untraced run pays nothing.

    ``cost_s`` adds up the time tracing itself takes while enabled: span
    bookkeeping and every reading taken under ``charged()``. The part of
    it that falls inside an op's timing is the tracing overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0
        self._ids = itertools.count()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        sp = Span(f"s{next(self._ids)}", name, parent)
        self._stack.append(sp)
        sp.start = time.time()
        self.cost_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            self.cost_s += time.perf_counter() - t1

    @contextmanager
    def charged(self):
        """Counts the enclosed tracing work toward ``cost_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children
        cover."""
        kids: dict[str, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = union_length(
                [(max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.id, [])]
            )
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out


# ---------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> dict[str, float]:
    """VmHWM of this Python process, of the JVM, and summed over every
    process under the JVM (the Python worker daemon and its workers)."""
    kids = descendants(jvm_pid) if jvm_pid else []
    return {
        "python": _status_kb(os.getpid(), "VmHWM:") / 1024.0,
        "jvm": _status_kb(jvm_pid, "VmHWM:") / 1024.0 if jvm_pid else 0.0,
        "workers": sum(_status_kb(p, "VmHWM:") for p in kids) / 1024.0,
    }


def python_workers(jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds (own plus reaped children) and socket/file bytes of
    the Python worker processes under the JVM, and their pids."""
    if not jvm_pid:
        return {"cpu_s": 0.0, "rchar": 0, "wchar": 0, "pids": set()}
    pids = descendants(jvm_pid)
    cpu, rchar, wchar, seen = 0.0, 0, 0, set()
    for p in pids:
        try:
            with open(f"/proc/{p}/cmdline") as f:
                if "python" not in f.read():
                    continue
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{p}/io") as f:
                io = dict(line.split(": ") for line in f.read().splitlines())
        except (OSError, ValueError):
            continue
        # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
        cpu += sum(int(x) for x in fields[11:15]) / _CLK_TCK
        rchar += int(io.get("rchar", 0))
        wchar += int(io.get("wchar", 0))
        seen.add(p)
    return {"cpu_s": cpu, "rchar": rchar, "wchar": wchar, "pids": seen}


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return files, size


# ---------------------------------------------------------------------
# Spark readings
# ---------------------------------------------------------------------


def _opt_epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _iter_seq(seq):
    for i in range(seq.size()):
        yield seq.apply(i)


def _iter_map(m):
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


class SparkProbe:
    """Reads Spark's own bookkeeping for the jobs an op started."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self.store = self._jsc.statusStore()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs_newest_first(self):
        self.drain()
        jobs = self.store.jobsList(None)
        n = jobs.size()
        if n == 0:
            return
        # the store lists jobs in id order; which end is newest is its
        # choice, so look at both
        newest_first = jobs.apply(0).jobId() >= jobs.apply(n - 1).jobId()
        for i in range(n) if newest_first else range(n - 1, -1, -1):
            yield jobs.apply(i).jobId()

    def last_job_id(self) -> int:
        return next(self._jobs_newest_first(), -1)

    def cached_bytes(self) -> int:
        return sum(
            r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()
        )

    def jobs_since(self, last_job: int) -> list[int]:
        out = []
        for jid in self._jobs_newest_first():
            if jid <= last_job:
                break
            out.append(jid)
        return sorted(out)

    def stage_totals(self, job_ids: list[int]) -> dict:
        stage_ids: set[int] = set()
        for jid in job_ids:
            stage_ids.update(_iter_seq(self.store.job(jid).stageIds()))
        t = {
            "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "spill_bytes": 0, "input_rows": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "fetch_wait_s": 0.0, "intervals": [],
        }
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store
                continue
            sub, done = _opt_epoch_s(sd.submissionTime()), _opt_epoch_s(sd.completionTime())
            if sub is None:  # skipped stage: its output was reused
                continue
            t["stages"] += 1
            t["tasks"] += sd.numCompleteTasks()
            t["run_s"] += sd.executorRunTime() / 1e3
            t["cpu_s"] += sd.executorCpuTime() / 1e9
            t["gc_s"] += sd.jvmGcTime() / 1e3
            t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            t["input_rows"] += sd.inputRecords()
            t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            t["shuffle_read_bytes"] += sd.shuffleReadBytes()
            t["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            if done is not None:
                t["intervals"].append((sub, done))
        return t

    @staticmethod
    def plan_metrics(df) -> dict:
        """Operator metrics of ``df``'s executed plan (after it ran)."""
        qe = df._jdf.queryExecution()
        out = {"exchanges": 0, "scan_s": 0.0, "scan_bytes": 0, "pipeline_s": 0.0}

        def walk(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                walk(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                walk(node.plan())
            if cls == "ShuffleExchangeExec":
                out["exchanges"] += 1
            metrics = dict(_iter_map(node.metrics()))
            if cls == "FileSourceScanExec":
                if "scanTime" in metrics:
                    out["scan_s"] += metrics["scanTime"].value() / 1e3
                if "filesSize" in metrics:
                    out["scan_bytes"] += metrics["filesSize"].value()
            if cls == "WholeStageCodegenExec" and "pipelineTime" in metrics:
                out["pipeline_s"] += metrics["pipelineTime"].value() / 1e3
            for child in _iter_seq(node.children()):
                walk(child)

        walk(qe.executedPlan())
        phases = [
            (p.startTimeMs(), p.endTimeMs())
            for _k, p in _iter_map(qe.tracker().phases())
        ]
        out["plan_s"] = sum(e - s for s, e in phases) / 1e3
        return out
