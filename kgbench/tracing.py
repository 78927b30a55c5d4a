"""Tracing for the benchmark's per-layer run.

Spans are kept in memory (name, start, end, parent, operation id) and
written out as one JSON file when the run ends. They are recorded in the
benchmark's own code around calls into the package's public entry points;
the package itself is not instrumented.

The CPU accounting of every run is here too: CPU time of the process tree
under test, the CPU time the hypervisor stole, and a probe of how fast the
host currently runs each CPU second.

Engine counters come from Spark's event log, which the runner enables
through ``PYSPARK_SUBMIT_ARGS`` for traced runs only. Jobs, stages and
tasks are attributed to a timed operation by their submission or launch
time falling inside the operation's wall-clock window.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# Reference speed that CPU time is scaled to: a CPU on which
# ``reference_loop`` takes this long, as it does on a 2.0 GHz Xeon virtual
# machine under CPython 3.11. Only ratios between runs depend on it.
REF_LOOP_MS = 4.0
PROBE_INTERVAL_S = 0.25


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None  # id of the operation being traced

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


def _event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def engine_counters(log_dir: str, windows: list[tuple[float, float]],
                    cores: int) -> dict[str, float]:
    """``spark.*`` counters for the timed operations, read from the event
    log. ``windows`` are the (start, end) epoch seconds of each operation;
    counts, GC time, shuffle and spill are reported per operation."""
    def inside(t_ms: float) -> bool:
        t = t_ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    jobs = stages = 0
    stage_span: dict[int, float] = {}
    task_times: dict[int, list[float]] = {}
    cpu_s = gc_s = shuffle_b = spill_b = 0.0
    tasks = 0
    with open(_event_log_file(log_dir)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs += inside(ev["Submission Time"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sub = info.get("Submission Time")
                if sub is not None and inside(sub):
                    stages += 1
                    stage_span[info["Stage ID"]] = (
                        info.get("Completion Time", sub) - sub
                    )
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics")
                if m is None or not inside(info["Launch Time"]):
                    continue
                tasks += 1
                cpu_s += m["Executor CPU Time"] / 1e9
                gc_s += m["JVM GC Time"] / 1000.0
                shuffle_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                spill_b += m["Disk Bytes Spilled"]
                task_times.setdefault(ev["Stage ID"], []).append(
                    m["Executor Run Time"] / 1000.0
                )
    n_ops = max(1, len(windows))
    wall = sum(b - a for a, b in windows)
    skew = 0.0
    if stage_span:
        longest = max(stage_span, key=stage_span.get)
        times = task_times.get(longest, [])
        med = statistics.median(times) if times else 0.0
        skew = max(times) / med if med > 0 else 1.0
    return {
        "spark.jobs": jobs / n_ops,
        "spark.stages": stages / n_ops,
        "spark.tasks": tasks / n_ops,
        "spark.cpu_util": cpu_s / (wall * cores) if wall > 0 else 0.0,
        "spark.gc_s": gc_s / n_ops,
        "spark.shuffle_write_mb": shuffle_b / 1e6 / n_ops,
        "spark.spill_mb": spill_b / 1e6 / n_ops,
        "spark.task_skew": skew,
    }


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and all its live
    descendants, including the children each has already reaped."""
    ticks = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of the stat line
        ticks += sum(int(f) for f in fields[11:15])
        todo.extend(_children(p))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's virtual
    CPUs since boot, summed over CPUs (the ``steal`` column of
    ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def reference_loop() -> int:
    """A fixed piece of interpreter work, a few milliseconds long, whose
    CPU time tracks how fast the host currently runs each CPU second."""
    x = 0
    for i in range(50_000):
        x ^= i * 7
    return x


class SpeedProbe:
    """Times ``reference_loop`` in its own thread every
    ``PROBE_INTERVAL_S`` while the context is open.

    Each sample is the loop's thread CPU time, so time the hypervisor
    steals is left out, but a host that runs every CPU second slower
    (shared caches, busy hyperthread siblings, a lower clock) shows. The
    probe's own CPU time is kept in ``cpu_s`` so callers can take it out.
    """

    def __init__(self):
        self.samples_ms: list[float] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        start = time.thread_time()
        while True:
            t = time.thread_time()
            reference_loop()
            self.samples_ms.append((time.thread_time() - t) * 1000.0)
            if self._stop.wait(PROBE_INTERVAL_S):
                break
        self.cpu_s = time.thread_time() - start

    def __enter__(self) -> "SpeedProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def loop_ms(self) -> float:
        return statistics.median(self.samples_ms)


def peak_rss_mb(pid: int) -> float:
    """Summed ``VmHWM`` (peak resident set) of ``pid`` and all its live
    descendants: the Python driver, its JVM and the JVM's Python workers."""
    total_kb = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo.extend(_children(p))
    return total_kb / 1024.0
