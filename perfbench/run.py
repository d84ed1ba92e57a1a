"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload recsys --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository.  The engine runs
in fresh worker processes (``worker.py``) with Spark ``local[<nproc>]``
and a driver heap below physical memory; everything they write stays
under ``.perfbench/`` and the program's own ``.scratch/`` in the
checkout, both reset at the start of every run.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
workload with job groups, spans and the Spark event log on, prints the
per-layer medians and writes the full per-query record to
``.perfbench/trace/<workload>-<seed>.json``.

A run starts the engine in a fresh process and runs whole passes of
the workload until ``--seconds`` have elapsed, at least one; the first
pass is cold.  Every result is checked after its timer stops.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``.  The exit code is 1 when any result was wrong (the line
then says ``"correct": false``) and 2, with no result line, when the
run could not complete or the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
DRIVER_MEM = "3g"
DEADLINE_S = 170.0

sys.path.insert(0, HERE)
import workloads  # noqa: E402


def declared_metrics() -> dict[str, list[dict]]:
    """The metric lists of BENCHMARK.json, the one place they are named."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {"e2e": spec["end_to_end"], "layer": spec["per_layer"]}


def pinned_env(trace: bool) -> dict[str, str]:
    """The engine's environment, identical on every run."""
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [f'--driver-java-options "{java_opts}"']
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{os.path.join(WORK, 'eventlog')}",
            "--conf spark.eventLog.compress=false",
        ]
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        # the launcher JVM that spark-submit runs first gets these, not the driver's
        "SPARK_LAUNCHER_OPTS": java_opts,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "OMP_NUM_THREADS": "1",
    })
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("SPARK_GRAFT_UI", None)
    return env


def reset_state() -> None:
    """Same on-disk state at the start of every run: the benchmark's
    scratch space and the program's own staging and warehouse dirs."""
    for d in ("tmp", "local", "eventlog", "out"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    for d in (".scratch", "spark-warehouse"):
        shutil.rmtree(os.path.join(ROOT, d), ignore_errors=True)


def run_worker(args, env, out: str, deadline: float) -> dict:
    """Run ``worker.py`` in its own process group; kill the whole group
    (driver, JVM, Python workers) if it overruns or leaves anything."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--fixtures", FIXTURES, "--eventlog", os.path.join(WORK, "eventlog"),
           "--out", out]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _kill_group(proc.pid)
    if rc != 0:
        raise RuntimeError(f"worker {'timed out' if rc is None else f'exited {rc}'}")
    with open(out) as fh:
        return json.load(fh)


def _kill_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rpartition(")")[2].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    missing = [p for p in ("__spark_entry__.py", "oracle_check.py", "BENCHMARK.json",
                           "antidote_data_framework_spark", FIXTURES)
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found in {ROOT}: {missing}", file=sys.stderr)
        return 2

    reset_state()
    env = pinned_env(bool(args.trace))
    try:
        res = run_worker(args, env, os.path.join(WORK, "out", "run.json"), deadline)
    except (RuntimeError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    declared = declared_metrics()
    if args.trace:
        metrics = {m["name"]: {"value": res["trace"]["medians"][m["name"]], "unit": m["unit"]}
                   for m in declared["layer"]}
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        path = os.path.join(WORK, "trace", f"{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(res, fh, indent=1)
        print(f"perfbench: trace record {path}", file=sys.stderr)
    else:
        metrics = {m["name"]: {"value": res["summary"][m["name"]], "unit": m["unit"]}
                   for m in declared["e2e"]}
    for f in res["failures"]:
        print(f"perfbench: wrong result {f['exec_id']}: {f['error']}", file=sys.stderr)
    print(json.dumps(res["env"]), file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
