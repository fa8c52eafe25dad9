"""Tracing: spans around calls into the engine's public functions, Spark
event-log counters per query, and the memory sampler.

Spans are kept in memory and written out once, when the run ends.  The
event log is reduced to per-query ``spark.*`` counters by tagging every
job with the ``perfbench.qid`` local property.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

QID_PROP = "perfbench.qid"


class Tracer:
    """Span recorder.  Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.qid: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "qid": self.qid,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        rest = data[data.rfind(")") + 2:].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# the JVM's JIT compiler and garbage collector threads, by their names in
# /proc/<pid>/task/<tid>/comm
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread",
                       "G1 ", "VM Thread")


def _cpu_ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        data = f.read()
    rest = data[data.rfind(")") + 2:].split()
    return int(rest[11]) + int(rest[12])  # utime + stime


def engine_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the engine: this process
    (the driver's Python side), the Spark JVM and its Python workers.  The
    JVM's JIT compiler and collector threads are left out: how much they
    compile or collect while an operation runs depends on how warm the
    JVM and how full its heap happen to be, not on the operation."""
    ticks = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                java = f.read().strip() == "java"
            if not java:
                ticks += _cpu_ticks(f"/proc/{p}/stat")
                continue
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/comm") as f:
                    if f.read().startswith(JVM_SERVICE_THREADS):
                        continue
                ticks += _cpu_ticks(f"/proc/{p}/task/{t}/stat")
        except OSError:  # the process or thread has just ended
            continue
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of the summed resident memory of every process this one
    started (the Spark JVM and its Python workers), sampled on a thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


# ------------------------------------------------------------- event log

SPARK_COUNTERS = ("spark.tasks", "spark.failed_tasks",
                  "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
                  "spark.spill_bytes", "spark.executor_run_s",
                  "spark.executor_cpu_s", "spark.gc_s")


def reduce_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per-query Spark counters from the event log files in ``log_dir``:
    qid -> {counter: total}.  Jobs without a qid are dropped."""
    stage_qid: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    # Spark 4 writes one directory per application of rolled event files
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"),
                                        recursive=True)
                   if os.path.isfile(p)
                   and not os.path.basename(p).startswith("appstatus"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    qid = (ev.get("Properties") or {}).get(QID_PROP)
                    if qid:
                        for sid in ev.get("Stage IDs", []):
                            stage_qid[sid] = qid
                elif kind == "SparkListenerTaskEnd":
                    qid = stage_qid.get(ev.get("Stage ID"))
                    if qid is None:
                        continue
                    _add_task(out.setdefault(qid, dict.fromkeys(
                        SPARK_COUNTERS, 0.0)), ev)
    return out


def _add_task(acc: dict, ev: dict) -> None:
    acc["spark.tasks"] += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if reason != "Success":
        acc["spark.failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    acc["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
    acc["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
    acc["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3


def per_query_means(per_qid: dict[str, dict[str, float]]) -> dict[str, float]:
    """Mean of each counter over the traced queries (0 when none ran)."""
    n = len(per_qid)
    return {k: (sum(q[k] for q in per_qid.values()) / n if n else 0.0)
            for k in SPARK_COUNTERS}
