"""Measurement helpers: spans, per-phase Spark figures from the status store,
resident memory sampled from /proc, and the host state a run records.

Spans are kept in memory and written out once, when the run ends. They are
recorded from the benchmark's side, around each call into a layer of the
program; nothing inside the program is instrumented.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


class Tracer:
    """Spans ``(name, start, end, parent, run_id)`` and phase windows.

    ``timed`` always measures (the end-to-end figures need the duration);
    it records a span only when tracing is on."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.phases: list[tuple[str, float, float]] = []
        self._stack: list[int] = []

    @contextmanager
    def timed(self, name: str, out: list | None = None):
        """Times the block; its duration goes to ``out`` only if the block
        returned normally."""
        t0 = time.time()
        p0 = time.perf_counter()
        idx = None
        if self.enabled:
            idx = len(self.spans)
            self.spans.append(
                {"name": name, "start": t0, "end": None, "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id, "id": idx}
            )
            self._stack.append(idx)
        try:
            yield
            if out is not None:
                out.append(time.perf_counter() - p0)
        finally:
            if idx is not None:
                self._stack.pop()
                self.spans[idx]["end"] = t0 + (time.perf_counter() - p0)

    @contextmanager
    def phase(self, name: str):
        t0 = time.time()
        with self.timed(f"phase.{name}"):
            yield
        self.phases.append((name, t0, time.time()))

    def add_span(self, name: str, start: float, end: float) -> None:
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id, "id": len(self.spans)})

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]


# -- Spark status store ------------------------------------------------------

SPARK_FIGURES = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_ms",
    "executor_run_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "off_job_ms",
)


def _status_json(sc) -> tuple[list[dict], list[dict]]:
    """All retained stages and jobs, serialised to JSON on the JVM side (one
    py4j round trip each instead of one per field)."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))
    arr = jvm.java.util.ArrayList
    stages = store.stageList(arr(), False, False, sc._gateway.new_array(jvm.double, 0), arr())
    return json.loads(mapper.writeValueAsString(stages)), json.loads(mapper.writeValueAsString(store.jobsList(None)))


def spark_phase_figures(sc, phases: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """Per phase name, the Spark work done inside its wall-clock windows
    (a phase may be entered many times; its windows are summed).

    Phases are attributed by time window, not by job group: streaming
    micro-batch jobs run under the query's own job group (its run id), and
    the benchmark runs one operation at a time, so windows do not overlap."""
    stages, jobs = _status_json(sc)
    out: dict[str, dict[str, float]] = {}
    for name, t0, t1 in phases:
        lo, hi = t0 * 1000.0, t1 * 1000.0
        st = [s for s in stages if s.get("submissionTime") and lo <= s["submissionTime"] <= hi]
        jb = [j for j in jobs if j.get("submissionTime") and lo <= j["submissionTime"] <= hi]
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((j["submissionTime"], j.get("completionTime") or hi) for j in jb):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        figs = {
            "jobs": len(jb),
            "stages": len(st),
            "tasks": sum(s["numCompleteTasks"] for s in st),
            "executor_cpu_ms": sum(s["executorCpuTime"] for s in st) / 1e6,
            "executor_run_ms": sum(s["executorRunTime"] for s in st),
            "gc_ms": sum(s["jvmGcTime"] for s in st),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
            "input_bytes": sum(s["inputBytes"] for s in st),
            "off_job_ms": max(0.0, (hi - lo) - covered),
        }
        acc = out.setdefault(name, dict.fromkeys(SPARK_FIGURES, 0))
        for k, v in figs.items():
            acc[k] += v
    return out


# -- /proc -------------------------------------------------------------------


def ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, pp in ppid_map().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def python_descendants(pid: int) -> list[int]:
    """The Python daemon and workers under the JVM. A child the JVM has just
    forked and not yet exec'd shares the JVM's pages; counting it would
    count them twice."""
    out = []
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    out.append(p)
        except OSError:
            pass
    return out


def rss_bytes(pid: int) -> int:
    """Proportional resident memory (Pss): the Python workers are forked from
    one daemon, and plain RSS would count their shared pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the resident memory of the JVM and of its descendant processes
    (the Python workers) every ``interval`` seconds until stopped."""

    def __init__(self, jvm_pid: int, interval: float = 0.2) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_jvm = self.peak_workers = self.peak_total = self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        jvm = rss_bytes(self.jvm_pid)
        kids = python_descendants(self.jvm_pid)
        workers = sum(rss_bytes(p) for p in kids)
        self.max_workers = max(self.max_workers, len(kids))
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)
        self.peak_total = max(self.peak_total, jvm + workers)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def reset_heap_peak(sc) -> None:
    for pool in sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        pool.resetPeakUsage()


def heap_peak_bytes(sc) -> int:
    """The JVM's own record of heap use at its highest since the last
    ``reset_heap_peak``: the peaks of the heap pools (eden, survivor, old),
    summed. Resident memory also follows how far G1 has grown the heap, which
    it does not give back at once; this follows the live data."""
    return sum(
        int(pool.getPeakUsage().getUsed())
        for pool in sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory"
    )


# -- host state ----------------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """Host-wide ``/proc/stat`` cpu line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between the two
    ``cpu_ticks`` readings: contention that no process list shows."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(1, sum(d))


def cpu_times() -> dict[int, tuple[str, float]]:
    """``pid -> (command, cpu seconds)`` for every process visible."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
                fields = rest.split()
                out[int(d)] = (head.split("(", 1)[1], (int(fields[11]) + int(fields[12])) / CLK_TCK)
            except (OSError, IndexError, ValueError):
                pass
    return out


def heavy_processes(before: dict, after: dict, wall_s: float, own: set[int], share: float = 0.5) -> list[str]:
    """Processes outside ``own`` that used more than ``share`` of a core
    between the two ``cpu_times`` snapshots."""
    heavy = []
    for pid, (cmd, cpu) in after.items():
        if pid in own or pid not in before:
            continue
        used = (cpu - before[pid][1]) / max(wall_s, 1e-9)
        if used > share:
            heavy.append(f"{cmd}[{pid}] {used:.2f} cores")
    return heavy


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """``(bytes, files)`` under ``path`` whose names end with ``suffix``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files
