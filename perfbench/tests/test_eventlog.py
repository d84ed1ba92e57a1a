"""The event-log fold on a tiny synthetic Spark 4 event log."""

import json

import eventlog
from eventlog import Window


def job_start(jid, t, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


def stage_submitted(sid):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid}}


def task_end(sid, run_ms, cpu_ns, gc_ms=0, sw=0, lr=0, rr=0, spill=0, inb=0, outb=0, outr=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
        "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        "Input Metrics": {"Bytes Read": inb},
        "Output Metrics": {"Bytes Written": outb, "Records Written": outr}}}


def progress(ts, trigger, add, wal):
    return {"Event": eventlog.PROGRESS_EVENT, "progress": {
        "timestamp": ts, "durationMs": {"triggerExecution": trigger, "addBatch": add,
                                        "walCommit": wal}}}


# 2026-01-01T00:00:10Z in epoch ms
T10 = 1767225610000

WINDOWS = [Window("1:q_a", T10, T10 + 1000), Window("1:q_b", T10 + 2000, T10 + 5000)]

EVENTS = [
    job_start(0, T10 + 100, [0, 1], group="1:q_a"),
    stage_submitted(0), stage_submitted(1),
    task_end(0, 200, 150_000_000, gc_ms=10, sw=500, inb=1000),
    task_end(1, 300, 250_000_000, lr=300, rr=200, spill=7),
    job_end(0, T10 + 600),
    # a second job of q_a that reuses stage 1 (skipped, never submitted)
    job_start(1, T10 + 400, [1, 2], group="1:q_a"),
    stage_submitted(2),
    task_end(2, 100, 100_000_000),
    job_end(1, T10 + 900),
    # streaming micro-batch: the stream's own group, inside q_b's window
    job_start(2, T10 + 2500, [3], group="stream-run-id"),
    stage_submitted(3),
    task_end(3, 50, 40_000_000, outb=4096, outr=12),
    job_end(2, T10 + 2700),
    progress("2026-01-01T00:00:12.400Z", 300, 200, 40),
    progress("2026-01-01T00:00:13.000Z", 100, 60, 20),
    # work outside every query window (set-up, cache clears)
    job_start(3, T10 + 1500, [4]),
    stage_submitted(4),
    task_end(4, 999, 1),
    job_end(3, T10 + 1600),
]


def test_fold_by_job_group():
    out = eventlog.fold(EVENTS, WINDOWS)
    a = out["1:q_a"]
    assert (a.jobs, a.stages, a.tasks) == (2, 3, 3)
    assert a.task_run_ms == 600 and a.task_cpu_ns == 500_000_000
    assert a.gc_ms == 10 and a.shuffle_write_bytes == 500
    assert a.shuffle_read_bytes == 500 and a.spill_bytes == 7 and a.input_bytes == 1000
    m = eventlog.layer_metrics(a, WINDOWS[0], cores=4)
    # jobs [100, 600] and [400, 900] overlap: busy is their union, 0.8 s
    assert abs(m["jvm.job_busy_s"] - 0.8) < 1e-9
    assert abs(m["jvm.task_wait_s"] - 0.1) < 1e-9
    assert abs(m["jvm.core_util"] - 0.6 / (0.8 * 4)) < 1e-9


def test_streaming_jobs_attributed_by_time_window():
    out = eventlog.fold(EVENTS, WINDOWS)
    b = out["1:q_b"]
    assert (b.jobs, b.tasks, b.output_bytes, b.output_records) == (1, 1, 4096, 12)
    m = eventlog.layer_metrics(b, WINDOWS[1], cores=4)
    assert m["streaming.batches"] == 2
    assert m["streaming.batch_p50_ms"] == 200.0
    assert abs(m["streaming.addbatch_s"] - 0.26) < 1e-9
    assert abs(m["streaming.walcommit_s"] - 0.06) < 1e-9


def test_unmatched_work_lands_outside_queries():
    out = eventlog.fold(EVENTS, WINDOWS)
    assert out[""].jobs == 1 and out[""].task_run_ms == 999
    assert sum(t.jobs for t in out.values()) == 4


def test_known_group_wins_over_time_window():
    # a job tagged q_a but submitted inside q_b's window stays with q_a
    evs = [job_start(9, T10 + 2100, [9], group="1:q_a"), stage_submitted(9),
           task_end(9, 5, 5), job_end(9, T10 + 2200)]
    out = eventlog.fold(evs, WINDOWS)
    assert out["1:q_a"].jobs == 1 and "1:q_b" not in out


def test_busy_time_clipped_to_window():
    t = eventlog.JvmTotals(job_intervals=[(T10 - 500, T10 + 300)])
    m = eventlog.layer_metrics(t, WINDOWS[0], cores=1)
    assert abs(m["jvm.job_busy_s"] - 0.3) < 1e-9


def test_reads_rolling_event_log_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    half = len(EVENTS) // 2
    for idx, part in ((2, EVENTS[half:]), (1, EVENTS[:half])):
        (d / f"events_{idx}_local-1").write_text("".join(json.dumps(e) + "\n" for e in part))
    (d / "appstatus_local-1").write_text("")
    assert list(eventlog.read_events(str(tmp_path))) == EVENTS


def test_union():
    assert eventlog.union_ms([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_ms([]) == 0
