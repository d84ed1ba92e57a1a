"""The driver JVM starts with the JIT compiler-pool cap on small hosts.

On a host whose driver sees at most 4 cores, ``session.get_spark``
passes ``-XX:CICompilerCount=2`` through
``spark.driver.defaultJavaOptions``; larger hosts keep HotSpot's
pool.  Launchers that hand spark-submit ``--driver-java-options``
(perfbench does) replace ``spark.driver.extraJavaOptions`` without a
warning, so the flag must survive exactly that launch.  The session
is started in a fresh subprocess because the test session's JVM is
already running and ignores launch options.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from antidote_data_framework_spark.session import _driver_jit_options

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from antidote_data_framework_spark.session import get_spark
spark = get_spark("jvm-args-probe")
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("ARGS " + json.dumps(list(mx.getInputArguments())))
spark.stop()
"""


def test_driver_jvm_keeps_jit_cap_under_driver_java_options():
    env = dict(os.environ)
    env.update({
        "PYSPARK_SUBMIT_ARGS": '--driver-java-options "-XX:-UsePerfData" pyspark-shell',
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": ROOT,
    })
    # the probe sees at most 4 cores, so the cap applies on any host
    cores = sorted(os.sched_getaffinity(0))[:4]
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        env=env,
        preexec_fn=lambda: os.sched_setaffinity(0, cores),
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(s for s in out.stdout.splitlines() if s.startswith("ARGS "))
    args = json.loads(line[len("ARGS "):])
    assert "-XX:CICompilerCount=2" in args, args
    assert "-XX:-UsePerfData" in args, args


def test_jit_cap_only_up_to_four_cores():
    for cores in (1, 2, 4):
        assert _driver_jit_options(cores) == "-XX:CICompilerCount=2"
    for cores in (5, 8, 32):
        assert _driver_jit_options(cores) == ""
