"""Outside-in measurement of one Spark application: job, stage and task
counts per job group (``SparkContext.statusTracker`` plus the app status
store), shuffle and spill bytes, Python-worker traffic from the SQL status
store, JVM disk writes and peak RSS from ``/proc``, and in-memory spans.

Nothing here changes what the engine does; every reading is taken after
the listener bus has drained, so it counts completed work only.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB)")
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECEIVED = "data returned from Python workers"


def parse_size(text: str) -> float:
    """Bytes in a SQL size-metric string. Aggregated metrics read
    ``"total (min, med, max ...)\\n79.9 KiB (20.0 KiB, ...)"``; the total
    is the first size after the newline."""
    m = _SIZE_RE.search(text.split("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _proc_field(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid``: a child's parent is the
    thread that forked it, and the JVM starts the Python daemon from an
    executor thread, not its main thread."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


class SparkProbe:
    """Readings of one live SparkSession, keyed by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.app_store = self._ssc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = int(self.sc._jvm.ProcessHandle.current().pid())

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def drain(self) -> None:
        self._ssc.listenerBus().waitUntilEmpty()

    def group_counts(self, name: str) -> dict[str, float]:
        """Jobs, run stages, tasks, shuffle and spill bytes of a job group."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0.0)
        for jid in self.tracker.getJobIdsForGroup(name):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self.app_store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                if sd.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def last_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return int(self.sql_store.executionsList(int(n) - 1, 1).apply(0).executionId())

    def _executions_after(self, execution_id: int) -> list:
        """Executions with a larger id, read from the newest end of the
        store in chunks (the store lists executions in id order)."""
        found, end, chunk = [], int(self.sql_store.executionsCount()), 16
        while end > 0:
            start = max(0, end - chunk)
            batch = self.sql_store.executionsList(start, end - start)
            execs = [batch.apply(i) for i in range(end - start)]
            newer = [e for e in execs if e.executionId() > execution_id]
            found += newer
            if len(newer) < len(execs):
                break
            end = start
        return found

    def python_bytes(self, after_execution_id: int) -> tuple[float, float]:
        """Bytes sent to and returned from Python workers by every SQL
        execution newer than ``after_execution_id``."""
        sent = received = 0.0
        for e in self._executions_after(after_execution_id):
            values = self.sql_store.executionMetrics(e.executionId())
            ms = e.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                if m.name() not in (PYTHON_SENT, PYTHON_RECEIVED):
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    if m.name() == PYTHON_SENT:
                        sent += parse_size(v.get())
                    else:
                        received += parse_size(v.get())
        return sent, received

    def jvm_write_bytes(self) -> int:
        return _proc_field(f"/proc/{self.jvm_pid}/io", "write_bytes:")

    def process_tree(self) -> list[int]:
        """The JVM and every live process below it (the Python daemon and
        its workers)."""
        pids, todo = [], [self.jvm_pid]
        while todo:
            p = todo.pop()
            pids.append(p)
            todo += _children(p)
        return pids

    def peak_rss_mb(self) -> float:
        """Summed peak RSS (VmHWM) of the JVM's process tree."""
        return sum(_proc_field(f"/proc/{p}/status", "VmHWM:")
                   for p in self.process_tree()) / 1024


class Tracer:
    """In-memory spans: name, start, end, parent span and op id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        rec = {"name": name, "op": op, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> tuple[float, int]:
        """Summed duration and number of spans called ``name``."""
        ds = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return sum(ds), len(ds)

    def summed_count(self, name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
