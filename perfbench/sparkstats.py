"""Readers for what a run costs: Spark's status stores and /proc.

``ActionStats`` brackets one action.  It notes the SQL executions that
exist before it and, afterwards, collects every execution the action
spawned (an interval rollup runs its persisted 1m base as an execution of
its own), the jobs of those executions, and the stages of those jobs.
Stage numbers are exact counters from the application status store; the
plan-graph metrics (broadcast size, rows out of Python nodes) come from the
SQL status store.
"""

from __future__ import annotations

import os
import re
import signal
import threading
import time

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9][0-9,.]*)\s*(B|KiB|MiB|GiB|TiB)\b")
PYTHON_NODES = ("Python", "Pandas", "Arrow")
SAMPLE_PERIOD_S = 0.5  # resident memory sampling; a sample costs a few ms


def _size_bytes(text: str) -> float:
    """A formatted size metric ('3.1 KiB', or 'total (min, med, max ...)\\n3.1
    KiB (...)') as bytes; the first size in the text is the total."""
    m = _SIZE.search(text or "")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _count(text: str) -> int:
    m = re.search(r"[0-9][0-9,]*", text or "")
    return int(m.group(0).replace(",", "")) if m else 0


def _iter(java_iterable):
    it = java_iterable.iterator()
    while it.hasNext():
        yield it.next()


class ActionStats:
    """Counters of every execution, job and stage one action spawned."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()

    def __enter__(self):
        self._drain()
        self._first = self._sql.executionsCount()
        return self

    def __exit__(self, *exc):
        if exc[0] is None:
            self._drain()
            self.values = self._collect()
        return False

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _collect(self) -> dict:
        out = dict.fromkeys(
            ("tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes", "input_bytes",
             "input_records", "broadcast_bytes", "python_rows", "peak_exec_memory_bytes"), 0)
        executions = self._sql.executionsList(self._first, 1 << 30)
        for i in range(executions.size()):
            ex = executions.apply(i)
            self._plan_metrics(ex.executionId(), out)
            for job_id in _iter(ex.jobs().keys()):
                for stage_id in _iter(self._app.job(job_id).stageIds()):
                    st = self._app.lastStageAttempt(stage_id)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["tasks"] += st.numTasks()
                    out["failed_tasks"] += st.numFailedTasks()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["input_bytes"] += st.inputBytes()
                    out["input_records"] += st.inputRecords()
                    out["peak_exec_memory_bytes"] = max(
                        out["peak_exec_memory_bytes"], st.peakExecutionMemory()
                    )
        return out

    def _plan_metrics(self, execution_id: int, out: dict) -> None:
        values = self._sql.executionMetrics(execution_id)
        for node in _iter(self._sql.planGraph(execution_id).allNodes()):
            name = node.name()
            for metric in _iter(node.metrics()):
                v = values.get(metric.accumulatorId())
                if v.isEmpty():
                    continue
                if name == "BroadcastExchange" and metric.name() == "data size":
                    out["broadcast_bytes"] += _size_bytes(v.get())
                elif (any(p in name for p in PYTHON_NODES)
                      and metric.name() == "number of output rows"):
                    out["python_rows"] += _count(v.get())


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() + info.diskSize() for info in infos)


def release_storage(spark) -> None:
    """Drop every cached frame and persistent RDD of the session."""
    spark.catalog.clearCache()
    for rdd in list(_iter(spark.sparkContext._jsc.sc().getPersistentRDDs().values())):
        rdd.unpersist(True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    kids = _children()
    todo, out = list(kids.get(pid, [])), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakMemory:
    """Peak resident memory of the Spark JVM and the Python workers below
    it, in MiB.  The JVM's part is its resident high-water mark (VmHWM,
    kept by the kernel).  The workers' part (the worker daemon and the
    workers it forks) is the largest sum of their proportional set sizes
    that a background thread sees, sampling every SAMPLE_PERIOD_S; a
    page the forked workers share counts once.  Other processes below the
    JVM (short-lived helpers it forks and execs) are not counted: before
    their exec they share the JVM's pages, which VmHWM counts already."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            self.workers_kb = max(self.workers_kb, sum(
                _pss_kb(p) for p in descendants(self.jvm_pid) if _is_python(p)))

    def stop(self) -> float:
        """End sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return (_status_kb(self.jvm_pid, "VmHWM") + self.workers_kb) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for processes to end; kill the ones still there at the end."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Spans:
    """In-memory spans (name, start, end, parent, run id), written once."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._stack: list[int] = []

    def __call__(self, name: str):
        return _Span(self, name)

    def write(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f, indent=1)


class _Span:
    def __init__(self, spans: Spans, name: str):
        self.spans, self.name = spans, name

    def __enter__(self):
        s = self.spans
        self.index = len(s.items)
        s.items.append({
            "name": self.name, "run_id": s.run_id,
            "parent": s.items[s._stack[-1]]["name"] if s._stack else None,
            "start": time.time(), "end": None,
        })
        s._stack.append(self.index)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self._t0
        s = self.spans
        s.items[self.index]["end"] = s.items[self.index]["start"] + self.seconds
        s._stack.pop()
        return False
