"""Tests of the benchmark's own measurement code.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from layers import (  # noqa: E402
    Calibrator,
    Span,
    Tracer,
    covered,
    descendants,
    event_log_lines,
    job_window,
    parse_stat,
    parse_vmhwm_kb,
    peak_rss_mb,
    self_time,
    sum_event_log,
    tree_cpu_s,
)
from stats import by_kind, tail  # noqa: E402

# --- tail percentile --------------------------------------------------------


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_falls_back_to_median_below_21_samples():
    assert tail([5.0, 1.0, 3.0]) == (3.0, 50.0, 3)
    xs = [float(x) for x in range(20)]
    assert tail(xs) == (9.5, 50.0, 20)


def test_tail_just_above_the_median():
    xs = [float(x) for x in range(22)]
    value, pct, _ = tail(xs)
    assert value == 11.0 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 12 / 22)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        tail([])


def test_by_kind_is_the_median_for_one_kind():
    p50, tail_v, notes = by_kind([("op", x) for x in (3.0, 1.0, 2.0)])
    assert (p50, tail_v) == (2.0, 2.0) and notes == ["op: p50=2.000 p50.0=2.000 n=3"]


def test_by_kind_takes_the_geometric_mean_of_per_kind_medians():
    samples = [("fast", 1.0), ("fast", 1.1), ("fast", 0.9), ("slow", 4.0), ("slow", 3.0)]
    p50, _, _ = by_kind(samples)
    assert p50 == pytest.approx((1.0 * 3.5) ** 0.5)
    # the pooled median would be a "fast" sample; reordering changes nothing
    assert by_kind(list(reversed(samples)))[0] == pytest.approx(p50)


# --- span self time ---------------------------------------------------------


def _span(i, start, end, parent=None, name="s"):
    return Span(i, name, parent, start, end)


def test_self_time_subtracts_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 5.0, 0), _span(2, 2.0, 6.0, 0), _span(3, 5.5, 7.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 6.0)


def test_covered_clips_to_the_span():
    assert covered(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(1.5)
    assert covered(2.0, 4.0, [(5.0, 6.0)]) == 0.0


def test_pool_thread_spans_nest_under_the_caller():
    tracer = Tracer()

    def leaf(_):
        with tracer.span("leaf"):
            pass

    with tracer.span("outer") as outer:
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(leaf, range(4)))
    leaves = [s for s in tracer.spans if s.name == "leaf"]
    assert len(leaves) == 4 and all(s.parent == outer.id for s in leaves)
    assert tracer.descendants(outer) == leaves


def test_nested_spans_on_one_thread():
    tracer = Tracer()
    with tracer.span("a") as a:
        with tracer.span("b") as b:
            with tracer.span("c") as c:
                pass
    assert (a.parent, b.parent, c.parent) == (None, a.id, b.id)
    assert tracer.children(a) == [b]
    assert self_time(a, tracer.children(a)) <= a.dur


# --- peak resident memory ---------------------------------------------------

STATUS = """Name:\tjava
VmPeak:\t 9000000 kB
VmHWM:\t  204800 kB
VmRSS:\t  102400 kB
"""


def test_parse_vmhwm():
    assert parse_vmhwm_kb(STATUS) == 204800


def test_parse_vmhwm_rejects_text_without_it():
    with pytest.raises(ValueError):
        parse_vmhwm_kb("Name:\tx\nVmRSS:\t1 kB\n")


def test_peak_rss_of_this_process():
    one = peak_rss_mb([os.getpid()])
    assert one > 1
    assert peak_rss_mb([os.getpid(), os.getpid()]) == pytest.approx(2 * one)


# --- CPU time ---------------------------------------------------------------

# fields 1-2 and 4-17 of /proc/<pid>/stat; the name may hold spaces and ")"
STAT = "4242 (python3 (x) y) S 17 4242 4242 0 -1 4194304 900 0 0 0 150 30 7 3 20 0 1 0"


def test_parse_stat_sums_own_and_waited_for_children_ticks():
    assert parse_stat(STAT) == (17, 150 + 30 + 7 + 3)


def test_tree_cpu_counts_a_child_while_it_runs_and_after_it_exits():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while tree_cpu_s(os.getpid()) - before < 0.3 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in descendants(os.getpid())
        assert tree_cpu_s(os.getpid()) - before >= 0.3
    finally:
        child.kill()
        child.wait()
    assert child.pid not in descendants(os.getpid())
    assert tree_cpu_s(os.getpid()) - before >= 0.3  # now in this process's count


# --- event-log summation ----------------------------------------------------


def _task(stage, cpu_ns=0, run_ms=0, ok=True, **extra):
    metrics = {
        "Executor CPU Time": cpu_ns,
        "Executor Run Time": run_ms,
        "JVM GC Time": extra.get("gc_ms", 0),
        "Disk Bytes Spilled": extra.get("spill", 0),
        "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": extra.get("sr", 0)},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": extra.get("sw", 0)},
        "Input Metrics": {"Bytes Read": extra.get("inp", 0)},
        "Output Metrics": {"Bytes Written": extra.get("out", 0)},
    }
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": metrics,
        }
    )


def _job(job, stages):
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages})


def _stage_done(stage):
    return json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}})


def test_sum_event_log_attributes_by_job_window():
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        _job(0, [0]),
        _task(0, cpu_ns=2_000_000_000, run_ms=3000, inp=100),
        _stage_done(0),
        _job(1, [1, 2]),
        _task(1, cpu_ns=1_000_000_000, run_ms=1000, sw=50),
        _stage_done(1),
        _task(2, run_ms=500, ok=False, sr=7, out=9, gc_ms=250, spill=4),
        _stage_done(2),
        _job(2, [2, 3]),  # stage 2 was computed by job 1: skipped here
        _task(3, cpu_ns=500_000_000, run_ms=400),
        _stage_done(3),
    ]
    a, b = sum_event_log(lines, [(0, 1), (1, 3)])
    assert a["stages"] == 1 and a["tasks"] == 1
    assert a["executor_cpu_s"] == pytest.approx(2.0)
    assert a["task_offcpu_s"] == pytest.approx(1.0)
    assert a["input_bytes"] == 100
    assert b["stages"] == 3 and b["tasks"] == 3 and b["failed_tasks"] == 1
    assert b["executor_cpu_s"] == pytest.approx(1.5)
    assert b["task_offcpu_s"] == pytest.approx(0.5)  # run time below CPU is clamped
    assert b["shuffle_write_bytes"] == 50
    assert b["shuffle_read_bytes"] == 1 + (1 + 7) + 1  # remote + local per task
    assert (b["output_bytes"], b["gc_s"], b["spill_bytes"]) == (9, 0.25, 4)


def test_sum_event_log_ignores_jobs_outside_every_window():
    lines = [_job(0, [0]), _task(0, run_ms=10), _stage_done(0)]
    (only,) = sum_event_log(lines, [(5, 6)])
    assert only["tasks"] == 0 and only["stages"] == 0


def test_event_log_lines_reads_rolling_files_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    (d / "events_2_app-1").write_text("b\n")
    (d / "events_10_app-1").write_text("c\n")
    (d / "events_1_app-1").write_text("a\n")
    assert event_log_lines(str(tmp_path), "app-1") == ["a", "b", "c"]


# --- job windows on a live session -------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")
    logs = tmp_path_factory.mktemp("eventlog")
    session = (
        pyspark.sql.SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file:{logs}")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    yield session, str(logs)
    session.stop()


def test_calibrator_times_each_round_in_cpu_seconds(spark):
    session, _ = spark
    cal = Calibrator(session._jvm)
    first, second = cal.round(), cal.round()
    assert cal.rounds == [first, second]
    assert 0 < second < 30 and 0.1 < first / second < 10


def test_job_window_counts_pool_thread_and_grouped_jobs(spark):
    session, logs = spark
    sc = session.sparkContext
    windows: dict = {}
    with job_window(session, windows, "main"):
        session.range(0, 100, 1, 4).collect()
    with job_window(session, windows, "pool"):
        sc.setJobGroup("caller-group", "jobs of the caller")
        with ThreadPoolExecutor(3) as pool:  # threads do not inherit the group
            list(pool.map(lambda i: session.range(0, 10 + i, 1, 2).collect(), range(3)))
        session.range(0, 10, 1, 2).collect()  # in the caller's group
        sc.setLocalProperty("spark.jobGroup.id", None)
    with job_window(session, windows, "idle"):
        pass
    (a0, a1), (b0, b1), (c0, c1) = windows["main"], windows["pool"], windows["idle"]
    assert (a1 - a0, b1 - b0, c1 - c0) == (1, 4, 0)
    assert a1 == b0 and b1 == c0
    assert set(sc.statusTracker().getJobIdsForGroup("caller-group")) <= set(range(b0, b1))

    app_id = sc.applicationId
    session.stop()  # flushes the event log
    main, pooled = sum_event_log(event_log_lines(logs, app_id), [windows["main"], windows["pool"]])
    assert (main["tasks"], pooled["tasks"]) == (4, 3 * 2 + 2)
    assert main["stages"] == 1 and pooled["stages"] == 4 and pooled["failed_tasks"] == 0


def test_tracer_is_thread_safe_under_contention():
    tracer = Tracer()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with tracer.span("root") as root:

            def work(_):
                for _ in range(200):
                    with tracer.span("leaf"):
                        pass

            threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    leaves = [s for s in tracer.spans if s.name == "leaf"]
    assert len(leaves) == 16 * 200
    assert len({s.id for s in tracer.spans}) == len(tracer.spans)
    assert all(s.parent == root.id for s in leaves)
