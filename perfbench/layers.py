"""Measurement for the benchmark: spans, job-id windows, Spark event-log
sums, CPU time and peak resident memory.

Everything here observes the engine from outside. Spans are recorded
around the calls the benchmark makes into each layer and around a few
module functions it wraps for the length of a traced run
(:func:`patch_layers`); nothing in ``hadoop_trans_spark`` is edited.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    items: int = 0  # work items the call was given, where the layer takes a list

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.

    A span's parent is the innermost open span on the same thread. A span
    opened on a thread with no open span (a worker of a pool the engine
    starts, such as ``compact_table``'s) takes the innermost open span of
    the thread that created the tracer, so pool work nests under the call
    that started the pool.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = self._stack()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1]
            else:
                parent = self._main[-1] if self._main else None
            sp = Span(len(self.spans), name, parent, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, frontier = [], [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out += kids
            frontier = [s.id for s in kids]
        return out


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover.
    Children that overlap (pool threads) are counted once."""
    return span.dur - covered(span.start, span.end, [(c.start, c.end) for c in children])


# --- layer wrappers --------------------------------------------------------

FS_KINDS = ("list_dirs", "list_files", "rename", "delete", "exists")


def _wrap(tracer: Tracer, name: str, fn, items_arg: int | None = None):
    def wrapper(*args, **kwargs):
        with tracer.span(name) as sp:
            if items_arg is not None:
                sp.items = len(args[items_arg])
            return fn(*args, **kwargs)

    return wrapper


@contextmanager
def patch_layers(tracer: Tracer):
    """Wrap the pipeline layers' module functions in spans for the length
    of the block: the filesystem calls, the parquet footer health scan
    and post-copy verification. Callers reach these through module
    attributes, so replacing the attributes is enough."""
    from hadoop_trans_spark.pipelines import fs

    # the package re-exports the function ``migrate`` over the module name
    migrate_mod = importlib.import_module("hadoop_trans_spark.pipelines.migrate")

    patches = [(fs, k, f"pipelines.fs.{k}", None) for k in FS_KINDS]
    patches += [
        (migrate_mod, "scan_parquet_health", "pipelines.health.scan", 1),
        (migrate_mod, "verify_partitions", "pipelines.verify", None),
        (migrate_mod, "verify", "pipelines.verify", None),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in patches]
    try:
        for mod, attr, name, items_arg in patches:
            setattr(mod, attr, _wrap(tracer, name, getattr(mod, attr), items_arg))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# --- job windows -----------------------------------------------------------


def next_job_id(spark) -> int:
    """The id the scheduler will give the next job. Job ids are dense and
    assigned on the submitting thread, so the jobs an operation ran are
    exactly the ids between this value before and after it, whatever
    thread submitted them and whatever job group they carry."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@contextmanager
def job_window(spark, windows: dict, key):
    """Record ``windows[key] = (first_job, end_job)`` around the block."""
    first = next_job_id(spark)
    try:
        yield
    finally:
        windows[key] = (first, next_job_id(spark))


# --- Spark event log -------------------------------------------------------

SPARK_KEYS = (
    "stages",
    "tasks",
    "failed_tasks",
    "executor_cpu_s",
    "task_offcpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "spill_bytes",
)


def event_log_lines(log_dir: str, app_id: str) -> list[str]:
    """Lines of one application's uncompressed event log, rolling
    (``eventlog_v2_<app>/events_<n>_<app>``) or single-file."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    files += glob.glob(os.path.join(log_dir, app_id))
    lines: list[str] = []
    for path in files:
        with open(path) as fh:
            lines += fh.read().splitlines()
    return lines


def sum_event_log(lines, windows: list[tuple[int, int]]) -> list[dict[str, float]]:
    """Sum stage and task metrics into one dict per job-id window
    ``[first, end)``. A stage belongs to the lowest-numbered job that lists
    it: a later job that needs an already computed shuffle stage skips it.
    """
    sums = [dict.fromkeys(SPARK_KEYS, 0.0) for _ in windows]
    stage_job: dict[int, int] = {}
    events = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            for sid in ev["Stage IDs"]:
                stage_job[sid] = min(stage_job.get(sid, ev["Job ID"]), ev["Job ID"])
        elif kind in ("SparkListenerStageCompleted", "SparkListenerTaskEnd"):
            events.append(ev)

    def window_of(stage_id: int) -> dict | None:
        job = stage_job.get(stage_id)
        for (first, end), acc in zip(windows, sums):
            if job is not None and first <= job < end:
                return acc
        return None

    for ev in events:
        if ev["Event"] == "SparkListenerStageCompleted":
            acc = window_of(ev["Stage Info"]["Stage ID"])
            if acc is not None:
                acc["stages"] += 1
            continue
        acc = window_of(ev["Stage ID"])
        if acc is None:
            continue
        acc["tasks"] += 1
        if ev["Task End Reason"]["Reason"] != "Success":
            acc["failed_tasks"] += 1
        m = ev.get("Task Metrics")
        if not m:
            continue
        cpu_s = m["Executor CPU Time"] / 1e9
        acc["executor_cpu_s"] += cpu_s
        acc["task_offcpu_s"] += max(0.0, m["Executor Run Time"] / 1e3 - cpu_s)
        acc["gc_s"] += m["JVM GC Time"] / 1e3
        sr = m["Shuffle Read Metrics"]
        acc["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        acc["input_bytes"] += m["Input Metrics"]["Bytes Read"]
        acc["output_bytes"] += m["Output Metrics"]["Bytes Written"]
        acc["spill_bytes"] += m["Disk Bytes Spilled"]
    return sums


# --- peak resident memory --------------------------------------------------


def parse_vmhwm_kb(status_text: str) -> int:
    """``VmHWM`` (peak resident set, kB) from a ``/proc/<pid>/status`` text."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise ValueError("no VmHWM line in status text")


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM of ``pids`` in MiB (psutil is not available)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += parse_vmhwm_kb(fh.read())
    return total_kb / 1024


# --- CPU time --------------------------------------------------------------

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def parse_stat(stat_text: str) -> tuple[int, int]:
    """``(parent pid, CPU ticks)`` from a ``/proc/<pid>/stat`` text. The
    ticks are user plus system time of every thread of the process and
    of its children that have exited and been waited for."""
    fields = stat_text.rsplit(")", 1)[1].split()  # the name may hold spaces
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def process_table() -> dict[int, tuple[int, int]]:
    """``pid -> (parent pid, CPU ticks)`` for every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    table[int(entry)] = parse_stat(fh.read())
            except OSError:  # exited while the table was read
                continue
    return table


def descendants(pid: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """Live descendant process ids of ``pid``."""
    table = process_table() if table is None else table
    out, frontier = [], {pid}
    while frontier:
        frontier = {p for p, (pp, _) in table.items() if pp in frontier}
        out += sorted(frontier)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and its descendants: here the
    Python driver, the JVM and the Python workers it forks. A worker that
    exits is waited for by its parent, whose count then holds its time,
    so the sum only grows. Time the hypervisor gave to other guests is
    not counted; wall time on a shared host includes it."""
    table = process_table()
    ticks = sum(table[p][1] for p in [pid] + descendants(pid, table) if p in table)
    return ticks / CLOCK_TICKS


# --- host speed ------------------------------------------------------------

# The calibration round sorts this many longs in the JVM and runs this many
# iterations of a Python loop.
CAL_LONGS = 1 << 20
CAL_PY_ITERS = 1_000_000


def _py_loop(n: int) -> int:
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return acc


class Calibrator:
    """Measures how fast the host runs fixed work that does not touch the
    engine: a sort of a fixed array of longs on one JVM thread and a fixed
    Python loop. The CPU seconds both take are timed on the thread that
    runs them, so time the hypervisor gives to other guests is left out.

    On a host shared with other guests the CPU seconds of the same work
    change by up to 2x over tens of minutes (other guests on the same
    cores and caches), which moves every CPU or wall time of a run alike;
    the median round time of a run measures that factor."""

    def __init__(self, jvm) -> None:
        self.jvm = jvm
        self.src = jvm.java.util.Random(7).longs(CAL_LONGS).toArray()
        self.work = jvm.java.util.Random(8).longs(CAL_LONGS).toArray()
        self.bean = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        self.rounds: list[float] = []

    def round(self) -> float:
        """CPU seconds of one calibration round; also kept in ``rounds``."""
        jvm = self.jvm
        c0 = self.bean.getCurrentThreadCpuTime()
        jvm.java.lang.System.arraycopy(self.src, 0, self.work, 0, CAL_LONGS)
        jvm.java.util.Arrays.sort(self.work)
        c1 = self.bean.getCurrentThreadCpuTime()
        p0 = time.thread_time()
        _py_loop(CAL_PY_ITERS)
        s = (c1 - c0) / 1e9 + time.thread_time() - p0
        self.rounds.append(s)
        return s
