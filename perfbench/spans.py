"""Measurement from outside the package: process-tree CPU and memory from
/proc, Spark counters from the status store, and spans.

A span is opened around one call into one layer. In traced runs each span
gets its own Spark job group, so the jobs and stages a call launches can be
read back from the status store when the span closes.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and the Python workers), reaped children included via cutime/cstime."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the tree's resident memory every ``interval`` seconds in a
    daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_record() -> dict:
    """What the host looked like; recorded with every run, gates nothing."""
    model = ""
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "steal_jiffies": steal_jiffies(),
    }


def steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
        return int(first[8])
    except (OSError, IndexError, ValueError):
        return None


# Stage counters read from the status store, summed per span.
STAGE_FIELDS = (
    "jobs",
    "stages_run",
    "stages_skipped",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "input_records",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


class SparkCounters:
    """Reads jobs and stages of one job group after draining the listener
    bus. A stage is counted as run once, by the first span whose job ran it;
    a later job that reuses its shuffle output counts it as skipped."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seen_stages: set[int] = set()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def read_group(self, group: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        self.drain()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: never submitted
                    out["stages_skipped"] += 1
                    continue
                if str(st.status()) == "SKIPPED" or st.numCompleteTasks() == 0 or sid in self._seen_stages:
                    out["stages_skipped"] += 1
                    continue
                self._seen_stages.add(sid)
                out["stages_run"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_records"] += st.inputRecords()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Tracer:
    """Spans kept in memory and written out when the run ends.

    With ``spark`` unset the tracer only times (the untraced mode): no job
    groups, no status-store reads, no /proc reads per span."""

    def __init__(self, spark=None) -> None:
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent in span code, not in the call
        self._stack: list[int] = []
        self.counters = SparkCounters(spark) if spark is not None else None
        self.sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        b0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": op, **attrs}
        self.spans.append(rec)
        group = f"span:{sid}"
        if self.counters is not None:
            rec["cpu0"] = tree_cpu_s()
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.counters is not None:
                rec["spark"] = self.counters.read_group(group)
                rec["cpu_s"] = tree_cpu_s() - rec.pop("cpu0")
                if parent is not None:
                    self.sc.setJobGroup(f"span:{parent}", self.spans[parent]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover
        (children of one span run one after another, so they never
        overlap)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)

    def total(self, name: str, key: str | None = None, field: str | None = None) -> float:
        """Sum over spans called ``name`` of their duration, an attribute
        ``key``, or the Spark counter ``field``."""
        tot = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            if field is not None:
                tot += s.get("spark", {}).get(field, 0.0)
            elif key is not None:
                tot += s.get(key, 0.0) or 0.0
            else:
                tot += s["end"] - s["start"]
        return tot
