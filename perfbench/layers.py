"""Per-query and per-pass layer metrics of a traced run.

Joins three sources for each query execution: the spans recorded in
the driver (``tracing``), the process-tree CPU read from ``/proc``
(``procfs``) and the Spark event log folded by job group
(``eventlog``).  Pass totals are sums over the pass's queries; ratios
and medians are recomputed from the summed parts, never averaged.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import eventlog
from tracing import self_times

ACTION_SPANS = ("driver.action", "ml.antidote.summary")

# Metrics summed over a pass's queries.
SUMMED = (
    "query.wall_s", "query.build_s", "query.materialize_s", "query.driver_only_s",
    "driver.actions_n", "driver.actions_s", "driver.upload_n", "driver.upload_s",
    "driver.py_cpu_s", "jvm.process_cpu_s", "pyworker.cpu_s",
    "jvm.jobs", "jvm.stages", "jvm.tasks", "jvm.job_busy_s", "jvm.task_run_s",
    "jvm.task_cpu_s", "jvm.task_wait_s", "jvm.gc_s", "jvm.shuffle_write_bytes",
    "jvm.shuffle_read_bytes", "jvm.spill_bytes",
    "sources.input_bytes", "sources.output_bytes", "sources.output_records",
    "ml.als.fit_n", "ml.als.fit_s", "ml.als.model_queries", "ml.als_custom.fit_s",
    "ml.antidote.loop_s", "ml.antidote.grad_s", "ml.antidote.summary_s",
    "ml.antidote.upload_s", "cache.entries_built",
    "streaming.batches", "streaming.addbatch_s", "streaming.walcommit_s",
)


def query_layers(e: dict, spans: list, selfs: dict, fold: eventlog.JvmTotals | None,
                 cores: int) -> dict:
    """Layer metrics of one query execution ``e`` (a worker record)."""
    def total(*names):
        return sum(s.dur for s in spans if s.name in names)

    def count(*names):
        return sum(1 for s in spans if s.name in names)

    window = eventlog.Window(e["exec_id"], e["start"] * 1000.0, e["end"] * 1000.0)
    jvm = eventlog.layer_metrics(fold or eventlog.JvmTotals(), window, cores)
    antidote = e["query"].startswith("q_antidote_")
    m = {
        "query.wall_s": e["wall_s"],
        "query.build_s": total("query.build"),
        "query.materialize_s": total("query.materialize"),
        "query.driver_only_s": max(0.0, e["wall_s"] - jvm["jvm.job_busy_s"]),
        "driver.actions_n": count(*ACTION_SPANS),
        "driver.actions_s": total(*ACTION_SPANS),
        "driver.upload_n": count("driver.upload"),
        "driver.upload_s": total("driver.upload"),
        "driver.py_cpu_s": e["cpu"].driver_s,
        "jvm.process_cpu_s": e["cpu"].jvm_s,
        "pyworker.cpu_s": e["cpu"].pyworker_s,
        **jvm,
        "ml.als.fit_n": count("ml.als.fit"),
        "ml.als.fit_s": total("ml.als.fit"),
        "ml.als.model_queries": int(count("ml.als.fit", "ml.als.model_use") > 0),
        "ml.als_custom.fit_s": total("ml.als_custom.fit"),
        "ml.antidote.loop_s": e["wall_s"] if e["query"] == "q_antidote_loop" else 0.0,
        "ml.antidote.grad_s": total("ml.antidote.grad"),
        "ml.antidote.summary_s": total("ml.antidote.summary"),
        "ml.antidote.upload_s": total("driver.upload") if antidote else 0.0,
        "cache.entries_built": e["cache.entries_built"],
    }
    self_by_name: dict[str, float] = defaultdict(float)
    for s in spans:
        self_by_name[s.name] += selfs[s.sid]
    m["self_s"] = dict(self_by_name)
    return m


def pass_layers(recs: list[dict], folds: list[eventlog.JvmTotals], cores: int) -> dict:
    """Totals of one pass from its queries' metrics, with the ratios
    recomputed from the summed parts."""
    out = {k: sum(r[k] for r in recs) for k in SUMMED}
    busy = out["jvm.job_busy_s"]
    out["jvm.core_util"] = out["jvm.task_run_s"] / (busy * cores) if busy > 0 else 0.0
    batches = sorted(b for f in folds for b in f.batch_ms)
    out["streaming.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
    mq = out["ml.als.model_queries"]
    out["ml.als.fit_per_model_query"] = out["ml.als.fit_n"] / mq if mq else 0.0
    return out


def trace_record(tracer, execs: list[dict], passes: list[int],
                 eventlog_dir: str, cores: int, pass_wall) -> dict:
    """The traced run's machine-readable record: every query execution
    with its layer metrics and span self times, per-pass totals, the
    medians over measured passes, and the tracing overhead."""
    windows = [eventlog.Window(e["exec_id"], e["start"] * 1000.0, e["end"] * 1000.0)
               for e in execs]
    folded = eventlog.fold(eventlog.read_events(eventlog_dir), windows)
    selfs = self_times(tracer.spans)
    spans_by_exec: dict[str, list] = defaultdict(list)
    for s in tracer.spans:
        spans_by_exec[s.exec_id].append(s)

    per_query = []
    for e in execs:
        m = query_layers(e, spans_by_exec[e["exec_id"]], selfs, folded.get(e["exec_id"]), cores)
        per_query.append({"exec_id": e["exec_id"], "pass": e["pass"], "query": e["query"],
                          "ok": e["ok"], "metrics": m})

    per_pass = {}
    for p in sorted({e["pass"] for e in execs}):
        recs = [q["metrics"] for q in per_query if q["pass"] == p]
        folds = [folded[e["exec_id"]] for e in execs if e["pass"] == p and e["exec_id"] in folded]
        per_pass[p] = pass_layers(recs, folds, cores)
        per_pass[p]["pass.wall_s"] = pass_wall(p)

    session = next((s for s in tracer.spans if s.name == "session.start"), None)
    medians = {
        k: statistics.median(per_pass[p][k] for p in passes)
        for k in per_pass[passes[0]]
    }
    medians["session.start_s"] = session.dur if session else 0.0
    outside = eventlog.layer_metrics(folded.get("", eventlog.JvmTotals()), None, cores)
    measured_wall = sum(pass_wall(p) for p in passes)
    return {
        "per_query": per_query,
        "per_pass": per_pass,
        "medians": medians,
        "outside_queries": outside,
        "overhead": {
            "bookkeeping_s": tracer.overhead_s,
            "bookkeeping_frac": tracer.overhead_s / measured_wall if measured_wall else 0.0,
            "spans": len(tracer.spans),
        },
    }
