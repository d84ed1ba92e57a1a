"""Process-tree CPU from /proc."""

import os
import subprocess
import sys
import time

import procfs
from procfs import ProcStat, parse_stat, tree_cpu

T = procfs.TICKS


def test_parse_stat_with_spaces_and_parens_in_comm():
    line = ("4242 (py (worker) x) S 4000 4242 4000 0 -1 4194304 100 0 0 0 "
            "70 30 5 5 20 0 1 0 123456 1000 100 18446744073709551615")
    st = parse_stat(line)
    assert (st.pid, st.ppid, st.comm) == (4242, 4000, "py (worker) x")
    assert st.cpu_ticks == 110 and st.start_ticks == 123456


def test_tree_cpu_splits_driver_jvm_and_workers():
    stats = {
        1: ProcStat(1, 0, "init", 9999 * T, 0),
        10: ProcStat(10, 1, "python3", 2 * T, 0),  # driver
        11: ProcStat(11, 10, "java", 5 * T, 0),  # JVM
        12: ProcStat(12, 11, "python3", 1 * T, 0),  # worker daemon
        13: ProcStat(13, 12, "python3", 3 * T, 0),  # worker
        20: ProcStat(20, 1, "other", 50 * T, 0),  # not ours
    }
    cpu = tree_cpu(stats, 10)
    assert (cpu.driver_s, cpu.jvm_s, cpu.pyworker_s) == (2.0, 5.0, 4.0)
    assert cpu.total_s == 11.0
    d = tree_cpu(stats, 10) - procfs.TreeCpu(1.0, 1.0, 1.0)
    assert (d.driver_s, d.jvm_s, d.pyworker_s) == (1.0, 4.0, 3.0)


def test_tree_without_jvm_counts_helpers_as_jvm():
    stats = {10: ProcStat(10, 1, "python3", T, 0), 11: ProcStat(11, 10, "bash", T, 0)}
    cpu = tree_cpu(stats, 10)
    assert (cpu.driver_s, cpu.jvm_s, cpu.pyworker_s) == (1.0, 1.0, 0.0)


def test_live_tree_includes_busy_child():
    before = procfs.snapshot()
    code = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 10
        seen = 0.0
        while child.poll() is None and time.time() < deadline:
            seen = max(seen, (procfs.snapshot() - before).jvm_s)
            time.sleep(0.02)
        child.wait(timeout=10)
    finally:
        child.kill()
    # after the child is reaped its CPU is in the driver's cutime
    after = procfs.snapshot() - before
    assert after.total_s >= 0.25
    assert seen > 0.0  # visible as a helper process while it ran


def test_process_age_and_hwm():
    assert 0.0 <= procfs.process_age_s() < 3600 * 24 * 365
    assert procfs.vm_hwm_mb(os.getpid()) > 1.0
