"""Measurements taken from outside the engine.

- ``MemorySampler``: memory of the driver JVM plus every process below
  it (the Python workers), sampled from ``/proc`` in a child process.
- ``StreamProgress``: a ``StreamingQueryListener`` that keeps each
  micro-batch's progress report.
- ``cached_storage``: what Spark's block manager holds cached.
- ``parse_event_log``: folds Spark's event log into per-query counters,
  attributing each job, stage and SQL execution to the query whose
  wall-clock window contains its submission time (one query runs at a
  time, so the windows never overlap).
"""

from __future__ import annotations

import bisect
import json
import os
import select
import statistics
import subprocess
import sys
import threading
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared between processes
    (the forked Python workers share most of theirs with their daemon)
    count once across the tree instead of once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemorySampler:
    """Peak memory of a process tree: the root's RSS plus its
    descendants' PSS. Reading ``smaps_rollup`` walks the page tables
    under the process's mmap lock, which would stall a large JVM every
    sample; its RSS, from ``statm``, costs nothing and the JVM shares
    few pages.

    Sampling runs in a child process: a sampling thread here would
    compete for the interpreter lock with the driver thread's py4j
    calls and slow the queries it measures."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_bytes = 0
        self._proc: subprocess.Popen | None = None

    def __enter__(self) -> MemorySampler:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(self.root_pid)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(timeout=30)
        self.peak_bytes, self.peak_root_bytes, self.peak_procs = (
            int(x) for x in out.split())


def _sample_until_eof(root_pid: int) -> None:
    """Sample every 0.2 s until stdin closes, then print the peak in bytes, the
    root's share of it and the process count at the peak."""
    peak = (0, 0, 0)
    while True:
        root, *workers = process_tree(root_pid)
        sizes = [_rss(root)] + [_pss(p) for p in workers]
        if sum(sizes) > peak[0]:
            peak = (sum(sizes), sizes[0], len(sizes))
        ready, _, _ = select.select([sys.stdin], [], [], 0.2)
        if ready and not sys.stdin.read(1):
            break
    print(*peak, flush=True)


def cached_storage(spark) -> tuple[int, int]:
    """(cached RDD count, bytes they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def make_stream_listener():
    """A ``StreamingQueryListener`` recording each progress report as
    (trigger start in epoch ms, query id, input rows, durations, state
    operators)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.reports: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            report = {
                "ts_ms": _epoch_ms(p.timestamp),
                "id": str(p.id),
                "rows": p.numInputRows,
                "durations": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
            with self._lock:
                self.reports.append(report)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[dict]:
            with self._lock:
                return list(self.reports)

    return StreamProgress()


@dataclass
class Window:
    """One timed query run: [start_ms, end_ms] of wall-clock time."""

    start_ms: float
    end_ms: float
    key: tuple[int, str]  # (pass index, query name)


class WindowIndex:
    def __init__(self, windows: list[Window]):
        self.windows = sorted(windows, key=lambda w: w.start_ms)
        self._starts = [w.start_ms for w in self.windows]

    def find(self, ts_ms: float) -> tuple[int, str] | None:
        i = bisect.bisect_right(self._starts, ts_ms) - 1
        if i >= 0 and ts_ms <= self.windows[i].end_ms:
            return self.windows[i].key
        return None


#: stage accumulables summed into per-query counters
_STAGE_SUMS = {
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.fetchWaitTime": "fetch_wait_ms",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
_WRITTEN_FILES = "number of written files"


@dataclass
class QueryCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    sums: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    #: per stage, the run times of its successful tasks (ms)
    task_ms: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max / median task time in the most skewed stage of >= 4 tasks."""
        worst = 1.0
        for times in self.task_ms.values():
            if len(times) >= 4:
                worst = max(worst, max(times) / max(statistics.median(times), 1.0))
        return worst


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def find_event_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def parse_event_log(path: str, windows: list[Window]) -> dict[tuple, QueryCounters]:
    index = WindowIndex(windows)
    out: dict[tuple, QueryCounters] = defaultdict(QueryCounters)
    stage_key: dict[int, tuple] = {}
    exec_key: dict[int, tuple] = {}
    accum_names: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                key = index.find(ev["Submission Time"])
                if key:
                    out[key].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = index.find(info.get("Submission Time", 0))
                if key:
                    stage_key[info["Stage ID"]] = key
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                if key:
                    out[key].tasks += 1
                    run_ms = ev.get("Task Metrics", {}).get("Executor Run Time")
                    if run_ms is not None and ev.get("Task End Reason", {}).get("Reason") == "Success":
                        out[key].task_ms[ev["Stage ID"]].append(float(run_ms))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = stage_key.get(info["Stage ID"])
                if key:
                    c = out[key]
                    c.stages += 1
                    for acc in info.get("Accumulables", ()):
                        name = _STAGE_SUMS.get(acc.get("Name"))
                        if name:
                            c.sums[name] += _num(acc.get("Value"))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                key = index.find(ev["time"])
                if key:
                    exec_key[ev["executionId"]] = key
                _plan_metrics(ev.get("sparkPlanInfo", {}), accum_names)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo", {}), accum_names)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", ()):
                    accum_names[m["accumulatorId"]] = m["name"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                key = exec_key.get(ev["executionId"])
                if key:
                    for acc_id, value in ev.get("accumUpdates", ()):
                        if accum_names.get(acc_id) == _WRITTEN_FILES:
                            out[key].sums["output_files"] += _num(value)
    return out


if __name__ == "__main__":
    _sample_until_eof(int(sys.argv[1]))
