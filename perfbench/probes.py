"""Measurement probes: CPU time of the JVM and its Python workers from
/proc, the program's peak memory, spans kept in memory, the Spark event
log (pausing and reading it) and the environment stamp.

Nothing here imports the program under test.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, CPU ticks incl. reaped children, RSS bytes), all from
    /proc/<pid>/stat, which reads counters without walking page tables
    (smaps would take the process's memory-map lock and stall the JVM).

    RSS is 0 unless the process is a Python interpreter: the JVM's RSS is
    mostly its fixed-size heap, which says little about the program."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited while scanning
            continue
        # comm may hold spaces and parentheses: fields start after the last ')'
        close = raw.rindex(b")")
        comm = raw[raw.index(b"(") + 1 : close]
        rest = raw[close + 2 :].split()
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        rss = int(rest[21]) * _PAGE if comm.startswith(b"python") else 0
        table[int(name)] = (int(rest[1]), ticks, rss)
    return table


def descendants(root: int | None = None) -> dict[int, tuple[int, int]]:
    """pid -> (CPU ticks, Python RSS bytes) of every live descendant of
    ``root`` (default: this process): the JVM and its Python workers."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _ticks, _rss) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1:]
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live descendant tree (reaped
    grandchildren count through their parent's cutime/cstime)."""
    return sum(t for t, _rss in descendants().values()) / _TICK


class MemPeak:
    """Peak, sampled on a thread, of the memory the program controls: the
    summed RSS of the Python workers (pages a forked worker shares with the
    daemon count in both) plus the on-heap execution and storage memory
    Spark's memory manager has handed out (aggregation buffers, persisted
    blocks). The JVM heap itself is pinned, so its RSS is left out."""

    def __init__(self, spark, every_s: float = 0.05):
        self.every_s = every_s
        self.peak = 0
        self._mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            spark_bytes = self._mm.executionMemoryUsed() + self._mm.storageMemoryUsed()
            py_bytes = sum(r for _t, r in descendants().values())
            self.peak = max(self.peak, spark_bytes + py_bytes)
            self._stop.wait(self.every_s)

    def __enter__(self) -> "MemPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


@contextmanager
def event_log_paused(spark):
    """Detach the Spark event-log listener, so the jobs run inside leave no
    events and pay no logging cost; re-attach it afterwards."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger()
    if not logger.isDefined():
        yield
        return
    bus = sc.listenerBus()
    bus.waitUntilEmpty()  # removing the listener drops the events it has not seen
    bus.removeListener(logger.get())
    try:
        yield
    finally:
        bus.addToEventLogQueue(logger.get())


class Tracer:
    """Spans (name, start, end, parent, pass id) kept in memory and written
    out once, as JSON lines, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: str | None = None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass_id": pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def env_stamp(spark) -> dict:
    """What a result is only comparable under: same CPU count and versions."""
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next(
                (ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")),
                "",
            )
    except OSError:
        pass
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "machine": platform.machine(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


# --- Spark event log -------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _plan_accumulators(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", ()):
        _plan_accumulators(child, out)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job description (the pass id the benchmark set before the
    action): task count, widest-stage skew, GC, spill, shuffle writes and
    the Python-operator SQL metrics, summed over the pass's tasks."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    accs: dict[int, tuple[str, str]] = {}
    stage_pass: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind in (_SQL_START, _SQL_AQE):
                    _plan_accumulators(ev["sparkPlanInfo"], accs)
                elif kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc:
                        for sid in ev["Stage IDs"]:
                            stage_pass[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    pid = stage_pass.get(ev["Stage ID"])
                    if pid is not None and "Task Metrics" in ev:
                        tasks.setdefault(pid, []).append(ev)
    return {pid: _pass_counters(evs, accs) for pid, evs in tasks.items()}


def _pass_counters(evs: list[dict], accs: dict[int, tuple[str, str]]) -> dict:
    by_stage: dict[int, list[float]] = {}
    gc_ms = spill = shuffle = 0
    sql: dict[str, float] = {}
    for ev in evs:
        info, tm = ev["Task Info"], ev["Task Metrics"]
        by_stage.setdefault(ev["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"]
        )
        gc_ms += tm["JVM GC Time"]
        spill += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
        shuffle += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        for acc in info.get("Accumulables", ()):
            node, metric = accs.get(acc["ID"], (None, None))
            if node in ("ArrowEvalPython", "MapInPandas") and "Update" in acc:
                key = f"{node}:{metric}"
                sql[key] = sql.get(key, 0) + float(acc["Update"])
    widest = max(by_stage.values(), key=len)
    med = statistics.median(widest)
    return {
        "tasks": len(evs),
        "task_skew": max(widest) / med if med > 0 else 1.0,
        "gc_s": gc_ms / 1000.0,
        "spill_bytes": spill,
        "shuffle_bytes": shuffle,
        "sql": sql,
    }
