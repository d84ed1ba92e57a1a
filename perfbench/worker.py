"""The measured process: start the engine, run one workload, check it.

Started by ``run.py`` with the environment already pinned.  Writes one
JSON document to ``--out``.  With ``--trace 1`` every query runs under its own job
group, spans are recorded around the program's public functions, and
the Spark event log is folded into per-query layer metrics after the
session stops.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import procfs  # noqa: E402

PACKAGE = "antidote_data_framework_spark"


def cache_dicts() -> list[tuple[str, dict]]:
    """The program's module-level derived caches: every dict bound to a
    module-level name ending in ``_CACHE`` or ``_SCRATCH``."""
    found = []
    for mname, mod in sorted(sys.modules.items()):
        if mod is None or not mname.startswith(PACKAGE + "."):
            continue
        for attr, val in vars(mod).items():
            if isinstance(val, dict) and (attr.endswith("_CACHE") or attr.endswith("_SCRATCH")):
                found.append((f"{mname}.{attr}", val))
    return found


def install_wrappers(tracer) -> None:
    """Spans around the calls into each layer, installed on pyspark
    classes and on the program's modules from outside them."""
    from pyspark.ml.recommendation import ALS, ALSModel
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from tracing import patch_attr, patch_function

    def in_build(*_a):
        return tracer.inside("query.build") and not tracer.inside(
            "driver.action", "ml.antidote.summary", "driver.upload"
        )

    def action_name(df, *_a):
        return getattr(df, "_perfbench_span", "driver.action")

    for meth in ("collect", "toPandas", "first", "count", "take", "head", "toLocalIterator"):
        patch_attr(DataFrame, meth, lambda f: tracer.wrap(f, action_name, when=in_build))
    patch_attr(SparkSession, "createDataFrame",
               lambda f: tracer.wrap(f, "driver.upload", when=in_build))
    patch_attr(ALS, "fit", lambda f: tracer.wrap(f, "ml.als.fit"))
    for meth in ("transform", "recommendForAllUsers", "recommendForAllItems",
                 "recommendForUserSubset", "recommendForItemSubset"):
        patch_attr(ALSModel, meth, lambda f: tracer.wrap(f, "ml.als.model_use"))
    for prop in ("userFactors", "itemFactors"):
        getter = getattr(ALSModel, prop).fget
        setattr(ALSModel, prop, property(tracer.wrap(getter, "ml.als.model_use")))

    def tag_summary(f):
        def wrapped(*a, **kw):
            df = f(*a, **kw)
            df._perfbench_span = "ml.antidote.summary"
            return df
        return wrapped

    patch_function(PACKAGE, f"{PACKAGE}.ml.antidote", "fused_item_summary", tag_summary)
    patch_function(PACKAGE, f"{PACKAGE}.ml.antidote", "bilevel_grad_from_summary",
                   lambda f: tracer.wrap(f, "ml.antidote.grad"))
    patch_function(PACKAGE, f"{PACKAGE}.ml.als_custom", "custom_als",
                   lambda f: tracer.wrap(f, "ml.als_custom.fit"))


def materialize(df):
    """Bring the whole result to the driver, the way bench.py does:
    Arrow ``toPandas`` unless a column is an array, map or struct."""
    from pyspark.sql import types as T

    nested = (T.ArrayType, T.MapType, T.StructType)
    if any(isinstance(f.dataType, nested) for f in df.schema.fields):
        return df.collect()
    return df.toPandas()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--eventlog", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import workloads

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()

    import __spark_entry__ as entry
    from antidote_data_framework_spark.registry import EXPECTED_EMPTY
    from antidote_data_framework_spark.session import clear_derived_caches, get_spark

    if tracer:
        install_wrappers(tracer)
        with tracer.span("session.start"):
            spark = get_spark("perfbench")
    else:
        spark = get_spark("perfbench")
    spark.range(1).count()
    setup_s = procfs.process_age_s()

    from checks import Checker, load_expected_rows

    queries = entry.queries()
    wl = workloads.WORKLOADS[args.workload]
    order = workloads.order(wl, args.seed)
    checker = Checker(args.fixtures, entry.oracle_sql(), load_expected_rows(), EXPECTED_EMPTY)
    uncovered = [k for k in order if not checker.covers(k)]
    if uncovered:
        raise SystemExit(f"no correctness check for {uncovered}")
    caches = cache_dicts()
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    jvm_pid = procfs.find_jvm()
    steal0 = procfs.steal_ticks()

    execs: list[dict] = []
    failures: list[dict] = []

    def run_pass(pno: int) -> dict:
        cpu0 = procfs.snapshot()
        t0 = time.time()
        clear_derived_caches(spark)
        clear = {"wall_s": time.time() - t0, "cpu": procfs.snapshot() - cpu0}
        for key in order:
            exec_id = f"{pno}:{key}"
            if tracer:
                tracer.exec_id = exec_id
                sc.setJobGroup(exec_id, exec_id)
            n_cache0 = sum(len(d) for _n, d in caches)
            cpu_a = procfs.snapshot()
            t_a = time.time()
            err = result = None
            try:
                if tracer:
                    with tracer.span("query"):
                        with tracer.span("query.build"):
                            df = queries[key](spark, args.fixtures)
                        with tracer.span("query.materialize"):
                            result = materialize(df)
                else:
                    result = materialize(queries[key](spark, args.fixtures))
            except Exception as e:  # a failing query is counted, not fatal
                err = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            t_b = time.time()
            cpu_b = procfs.snapshot()
            n_cache1 = sum(len(d) for _n, d in caches)
            if tracer:
                tracer.exec_id = ""
                # no query's group: later jobs fall to time-window attribution
                sc.setJobGroup("outside", "outside")
            if err is None:
                err = checker.check(key, result)
            rec = {
                "exec_id": exec_id, "pass": pno, "query": key,
                "start": t_a, "end": t_b, "wall_s": t_b - t_a,
                "cpu": cpu_b - cpu_a,
                "cache.entries_built": max(0, n_cache1 - n_cache0),
                "ok": err is None,
            }
            if err is not None:
                rec["error"] = err
                failures.append({"exec_id": exec_id, "error": err})
            execs.append(rec)
        return clear

    # A fresh process runs whole passes until --seconds have elapsed,
    # at least one.  The first pass is cold: it pays JIT warm-up, stream
    # staging and every shared fit, as a newly started session does.
    clears = {}
    t_meas = time.time()
    pno = 0
    while pno == 0 or time.time() - t_meas < args.seconds:
        pno += 1
        clears[pno] = run_pass(pno)
    passes = list(range(1, pno + 1))

    rss_mb = procfs.vm_hwm_mb(os.getpid()) + (procfs.vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)
    steal_s = (procfs.steal_ticks() - steal0) / procfs.TICKS
    app_id, spark_version = sc.applicationId, spark.version
    spark.stop()

    def pass_execs(p):
        return [e for e in execs if e["pass"] == p]

    def pass_wall(p):
        return clears[p]["wall_s"] + sum(e["wall_s"] for e in pass_execs(p))

    def pass_cpu(p):
        return clears[p]["cpu"].total_s + sum(e["cpu"].total_s for e in pass_execs(p))

    lat = [e["wall_s"] for e in execs if e["ok"]] or [0.0]
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": len(execs),
        "failed": len(failures),
        "failures": failures,
        "passes": len(passes),
        "queries": len(order),
        "executions": [
            {"exec_id": e["exec_id"], "wall_s": e["wall_s"], "cpu_s": e["cpu"].total_s,
             "ok": e["ok"]} for e in execs
        ],
        "summary": {
            "setup_s": setup_s,
            "wall_s": statistics.median(pass_wall(p) for p in passes),
            "cpu_s": statistics.median(pass_cpu(p) for p in passes),
            "query.p50_s": statistics.median(lat),
            "proc.peak_rss_mb": rss_mb,
        },
        "env": {
            "cores": cores,
            "app_id": app_id,
            "spark": spark_version,
            "python": sys.version.split()[0],
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "steal_s": steal_s,
        },
    }
    if tracer:
        from layers import trace_record

        out["trace"] = trace_record(tracer, execs, passes, args.eventlog, cores, pass_wall)
        for k in ("query.p50_s", "proc.peak_rss_mb"):
            out["trace"]["medians"][k] = out["summary"][k]
    _write(args.out, out)
    return 0


def _write(path: str, doc: dict) -> None:
    with open(path, "w") as fh:
        json.dump(doc, fh, default=_default)


def _default(o):
    if isinstance(o, procfs.TreeCpu):
        return {"driver_s": o.driver_s, "jvm_s": o.jvm_s, "pyworker_s": o.pyworker_s}
    raise TypeError(type(o).__name__)


if __name__ == "__main__":
    sys.exit(main())
