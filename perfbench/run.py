"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Lines before it summarise the run for a
reader. Every file the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit, and every process it starts is stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

from layers import (
    FS_KINDS,
    Calibrator,
    Tracer,
    descendants,
    event_log_lines,
    job_window,
    patch_layers,
    peak_rss_mb,
    self_time,
    sum_event_log,
    tree_cpu_s,
)
from stats import by_kind
from workloads import DATA, MIX, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Set-up is repeated this many times per run; setup_s is the median.
SETUP_TRIALS = 5
# Calibration rounds run right before and right after the timed ops (the
# first few rounds after JVM start are slower and are not kept).
CAL_ROUNDS = 4
CAL_WARM = 3
# CPU seconds are reported as they would be on a host where one
# calibration round takes this long (see layers.Calibrator).
REF_CAL_S = 0.1


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and the engine
    into ``work`` so the run writes nothing outside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_GRAFT_TMPDIR": tmp,
            "SPARK_GRAFT_LOCAL_DIR": local,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": "2g",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONDONTWRITEBYTECODE": "1",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = tmp


class Timer:
    latency = 0.0  # wall seconds
    cpu = 0.0  # CPU seconds of the driver, the JVM and the Python workers


class Recorder:
    """Times operations. When traced, also records a span and a job-id
    window for the operation and for each phase inside it."""

    def __init__(self, spark_ref, tracer=None) -> None:
        self.spark_ref = spark_ref  # callable returning the live session
        self.tracer = tracer
        self.ops: list[dict] = []
        self._cur: dict | None = None

    @contextmanager
    def op(self, kind: str):
        timer = Timer()
        rec = {"kind": kind, "windows": {}, "span": None}
        self._cur = rec
        traced = self.tracer is not None
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        with self.tracer.span(f"op.{kind}") if traced else nullcontext() as sp:
            with job_window(self.spark_ref(), rec["windows"], "op") if traced else nullcontext():
                yield timer
        timer.latency = time.perf_counter() - t0
        timer.cpu = tree_cpu_s(os.getpid()) - c0
        rec["span"], rec["latency"], rec["cpu"] = sp, timer.latency, timer.cpu
        self.ops.append(rec)

    def phase(self, name: str, key: str):
        if self.tracer is None:
            return nullcontext()
        return _both(
            self.tracer.span(name), job_window(self.spark_ref(), self._cur["windows"], key)
        )


@contextmanager
def _both(a, b):
    with a, b:
        yield


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    children = descendants(proc.pid)
    if spark is not None:
        spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings. It slows every op of a run alike, so the
    summary prints it to tell a slow host from a slow program."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def start_session(conf: dict, tracer):
    from hadoop_trans_spark.session import get_spark

    with tracer.span("session.get_spark") if tracer else nullcontext():
        return get_spark(app_name="perfbench", extra_conf=conf)


def probe_job(spark) -> None:
    """The fixed job each set-up trial ends with: a scan of one table."""
    spark.read.parquet(os.path.join(DATA, "lineitem.parquet")).write.format("noop").mode(
        "overwrite"
    ).save()


def layer_metrics(rec, tracer, results, spark_sums, setup_spans, rss, host) -> dict:
    """Per-layer metrics: means per timed operation, zero where a layer
    does not figure in the workload."""
    ops = rec.ops
    n = max(1, len(ops))
    m: dict[str, tuple[float, str]] = {}

    def put(name: str, value: float, unit: str) -> None:
        m[name] = (float(value), unit)

    def spans_in(op, name):
        return [s for s in tracer.descendants(op["span"]) if s.name == name]

    def total(name, op):
        return sum(s.dur for s in spans_in(op, name))

    def jobs(op, key):
        a, b = op["windows"].get(key, (0, 0))
        return b - a

    put("session.get_spark_s", statistics.median(s.dur for s in setup_spans), "s")
    query_ops = [o for o in ops if o["kind"] in MIX]
    for prefix, subset in [("queries", query_ops)] + [
        (f"queries.{q.split('_')[0]}", [o for o in ops if o["kind"] == q]) for q in MIX
    ]:
        k = max(1, len(subset))
        for phase in ("build", "exec"):
            put(f"{prefix}.{phase}_s", sum(total(f"queries.{phase}", o) for o in subset) / k, "s")
            put(f"{prefix}.{phase}_jobs", sum(jobs(o, phase) for o in subset) / k, "count")
    put("pipelines.health.scan_s", sum(total("pipelines.health.scan", o) for o in ops) / n, "s")
    put(
        "pipelines.health.files_scanned",
        sum(s.items for o in ops for s in spans_in(o, "pipelines.health.scan")) / n,
        "count",
    )
    put("pipelines.verify.s", sum(total("pipelines.verify", o) for o in ops) / n, "s")
    put(
        "pipelines.migrate.self_s",
        sum(
            self_time(s, tracer.children(s))
            for o in ops
            for s in spans_in(o, "pipelines.migrate")
        )
        / n,
        "s",
    )
    for p in ("pass1", "pass2"):
        put(f"pipelines.compact.{p}_s", sum(total(f"pipelines.compact.{p}", o) for o in ops) / n, "s")
    put("pipelines.compact.compacted", sum(r.compacted for r in results) / n, "count")
    put("pipelines.compact.skipped", sum(r.skipped for r in results) / n, "count")
    put("pipelines.compact.failed", sum(r.failed_parts for r in results) / n, "count")
    for kind in FS_KINDS:
        name = f"pipelines.fs.{kind}"
        put(f"{name}.calls", sum(len(spans_in(o, name)) for o in ops) / n, "count")
        put(f"{name}.s", sum(total(name, o) for o in ops) / n, "s")
    b_in = sum(r.bytes_in for r in results)
    put("pipelines.bytes_out_per_byte_in", sum(r.bytes_out for r in results) / b_in if b_in else 0, "ratio")
    put("spark.jobs", sum(jobs(o, "op") for o in ops) / n, "count")
    for key in spark_sums[0] if spark_sums else ():
        unit = "s" if key.endswith("_s") else ("bytes" if key.endswith("_bytes") else "count")
        put(f"spark.{key}", sum(s[key] for s in spark_sums) / n, unit)
    put("trace.op_p50_s", by_kind([(o["kind"], o["latency"]) for o in ops])[0], "s")
    put("trace.op_cpu_p50_s", by_kind([(o["kind"], o["cpu"]) for o in ops])[0] * host["scale"], "s")
    put("host.cal_s", host["cal_s"], "s")
    put("host.cpu_steal_pct", 100 * host["steal"], "%")
    for proc, mb in rss.items():
        put(f"proc.{proc}_peak_rss_mb", mb, "MB")
    return m


def trace_problems(rec, tracer, results) -> None:
    """Consistency of the trace itself, counted as failed checks: an op's
    direct child spans never sum past its wall time, and a first compact
    pass ran at least one Spark job per partition it compacted."""
    for op, res in zip(rec.ops, results):
        kids = sum(s.dur for s in tracer.children(op["span"]))
        if kids > op["span"].dur + 1e-6:
            res.problems.append(f"child spans {kids:.3f}s exceed op {op['span'].dur:.3f}s")
        if "pass1" in op["windows"]:
            a, b = op["windows"]["pass1"]
            if b - a < res.compacted:
                res.problems.append(f"pass 1: {b - a} jobs for {res.compacted} partitions")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hadoop_trans_spark")):
        print(f"perfbench: no hadoop_trans_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def measure(args, work: str) -> int:
    isolate(work)
    sys.path.insert(0, ROOT)
    from pyspark import SparkContext

    marks = [("start", time.perf_counter())]
    rng = random.Random(args.seed)
    wl = WORKLOADS[args.workload](work, rng)
    wl.stage()
    marks.append(("stage", time.perf_counter()))

    tracer = Tracer() if args.trace else None
    conf = {}
    if tracer:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{ev_dir}",
            "spark.eventLog.compress": "false",
        }

    attempted = failed = 0
    problems: list[str] = []

    def account(results) -> None:
        nonlocal attempted, failed
        for r in results:
            attempted += 1
            if r is None or r.problems:
                failed += 1
                problems.extend(r.problems if r else ["operation raised"])

    def attempt(rec: Recorder, spec):
        n_ops = len(rec.ops)
        try:
            return wl.run(spark, rec, spec)
        except Exception:
            traceback.print_exc()
            del rec.ops[n_ops:]  # keep the trace aligned with the results
            account([None])
            return None

    spark = None
    setup_times, setup_cpu = [], []
    try:
        for _ in range(SETUP_TRIALS):
            if spark is not None:
                spark.stop()
            c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            spark = start_session(conf, tracer)
            probe_job(spark)
            setup_times.append(time.perf_counter() - t0)
            setup_cpu.append(tree_cpu_s(os.getpid()) - c0)
        cal = Calibrator(spark._jvm)
        for _ in range(CAL_WARM):
            cal.round()
        cal.rounds.clear()
        marks.append(("setup", time.perf_counter()))

        # Untimed warm-up ops, outputs checked.
        try:
            account(wl.warm_up(spark, Recorder(lambda: spark)))
        except Exception:
            traceback.print_exc()
            account([None])
        marks.append(("warm_up", time.perf_counter()))

        rec = Recorder(lambda: spark, tracer)
        results = []
        for _ in range(CAL_ROUNDS):
            cal.round()
        with patch_layers(tracer) if tracer else nullcontext():
            ticks = cpu_ticks()
            start = time.perf_counter()
            n_ops = 0
            while True:
                res = attempt(rec, wl.next_spec())
                n_ops += 1
                if res:
                    results.append(res)
                elapsed = time.perf_counter() - start
                if elapsed >= args.seconds and n_ops >= wl.min_ops and wl.cycle_done():
                    break
        steal = steal_share(ticks, cpu_ticks())
        for _ in range(CAL_ROUNDS):
            cal.round()
        marks.append(("measure", time.perf_counter()))
        rss = {
            "driver": peak_rss_mb([os.getpid()]),
            "jvm": peak_rss_mb([SparkContext._gateway.proc.pid]),
        }
        app_id = spark.sparkContext.applicationId
    finally:
        if SparkContext._gateway is not None:
            stop_spark(spark)
    marks.append(("stop", time.perf_counter()))

    if tracer:
        trace_problems(rec, tracer, results)
    account(results)
    if not results:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1

    cal_s = statistics.median(cal.rounds)
    scale = REF_CAL_S / cal_s  # host-speed factor applied to every CPU time
    cpu_p50, cpu_tail, cpu_notes = by_kind([(r.kind, r.cpu) for r in results])
    wall_p50, _, wall_notes = by_kind([(r.kind, r.latency) for r in results])
    n = len(results)
    work_per_cpu_s = sum(r.work for r in results) / sum(r.cpu for r in results)
    b_in = sum(r.bytes_in for r in results)
    print(f"workload={wl.name} seed={args.seed} ops={n} attempted={attempted} failed={failed} "
          f"failed_frac={failed / attempted:.4f}")
    print("run phases s: " + " ".join(
        f"{name}={t - prev:.2f}" for (_, prev), (name, t) in zip(marks, marks[1:])))
    print("setup trials, wall/CPU s: " + " ".join(
        f"{t:.3f}/{c:.2f}" for t, c in zip(setup_times, setup_cpu)))
    print(f"calibration round CPU s: median {cal_s:.4f} of "
          f"{' '.join(f'{c:.4f}' for c in cal.rounds)}; host-speed factor {scale:.4f}")
    print(f"CPU s per op (not scaled), per kind: {'; '.join(cpu_notes)}")
    print(f"wall s per op, per kind: {'; '.join(wall_notes)}; combined p50 {wall_p50:.3f}")
    print("ops, wall/CPU s: " + " ".join(
        f"{r.kind.split('_')[0]}={r.latency:.3f}/{r.cpu:.2f}"
        + "".join(f" ({k}={v:.3f})" for k, v in r.steps.items()) for r in results))
    print(f"peak_rss_mb driver={rss['driver']:.1f} jvm={rss['jvm']:.1f}; "
          f"host CPU steal during timed ops {100 * steal:.1f}%")
    if b_in:
        print(f"bytes_out_per_byte_in={sum(r.bytes_out for r in results) / b_in:.4f}")
    for p in problems[:20]:
        print(f"check failed: {p}")

    if tracer:
        setup_spans = [s for s in tracer.spans if s.name == "session.get_spark"]
        windows = [o["windows"]["op"] for o in rec.ops]
        spark_sums = sum_event_log(event_log_lines(ev_dir, app_id), windows)
        host = {"scale": scale, "cal_s": cal_s, "steal": steal}
        layers = layer_metrics(rec, tracer, results, spark_sums, setup_spans, rss, host)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setup_cpu) * scale, "unit": "s"},
            "op_cpu_p50_s": {"value": cpu_p50 * scale, "unit": "s"},
            "op_cpu_tail_s": {"value": cpu_tail * scale, "unit": "s"},
            "work_per_cpu_s": {"value": work_per_cpu_s / scale, "unit": "1/s"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
