"""Process-tree CPU and memory read from ``/proc``.

The measured process is the driver Python.  PySpark starts the JVM as
its child (through ``spark-submit``), and the JVM forks the Python
worker daemon and its workers.  CPU of the whole tree is the sum of
each live process's own time plus the time of the children it has
already reaped (``cutime``/``cstime``), so a worker that exits between
two snapshots is not lost: its time moves into its parent's total.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

TICKS = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime
    start_ticks: int  # start time after boot, in clock ticks


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line.  ``comm`` may hold spaces
    and parentheses, so fields are split after its last ``)``."""
    head, _, rest = text.rpartition(")")
    pid_s, _, comm = head.partition(" (")
    f = rest.split()
    # rest starts at field 3 (state); utime is field 14, starttime 22
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    return ProcStat(
        pid=int(pid_s),
        ppid=int(f[1]),
        comm=comm,
        cpu_ticks=utime + stime + cutime + cstime,
        start_ticks=int(f[19]),
    )


def read_stat(pid: int) -> ProcStat | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return parse_stat(fh.read())
    except (FileNotFoundError, ProcessLookupError):
        return None


def all_stats() -> dict[int, ProcStat]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_stat(int(name))
            if st is not None:
                out[st.pid] = st
    return out


def descendants(stats: dict[int, ProcStat], root: int) -> list[int]:
    """``root`` and every process below it, parents before children."""
    kids: dict[int, list[int]] = {}
    for st in stats.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    order, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            order.append(pid)
            todo.extend(sorted(kids.get(pid, ())))
    return order


@dataclass(frozen=True)
class TreeCpu:
    """CPU seconds of the driver, the JVM and the JVM's descendants
    (the Python workers) at one instant."""

    driver_s: float
    jvm_s: float
    pyworker_s: float

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.pyworker_s

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(
            self.driver_s - other.driver_s,
            self.jvm_s - other.jvm_s,
            self.pyworker_s - other.pyworker_s,
        )


def tree_cpu(stats: dict[int, ProcStat], root: int) -> TreeCpu:
    """Split the tree under ``root`` into driver, JVM and workers.  The
    JVM is the first ``java`` process below the root; everything below
    it counts as Python-worker time.  Any other helper process under
    the driver (the ``spark-submit`` shell before it execs java) counts
    as JVM time, since it exists only to start the JVM."""
    tree = descendants(stats, root)
    jvm = next((p for p in tree if stats[p].comm == "java"), None)
    below_jvm = set(descendants(stats, jvm)) - {jvm} if jvm is not None else set()
    driver = stats[root].cpu_ticks if root in stats else 0
    workers = sum(stats[p].cpu_ticks for p in below_jvm)
    rest = sum(stats[p].cpu_ticks for p in tree if p != root and p not in below_jvm)
    return TreeCpu(driver / TICKS, rest / TICKS, workers / TICKS)


def snapshot() -> TreeCpu:
    """CPU of this process's tree (this process is the driver)."""
    return tree_cpu(all_stats(), os.getpid())


def find_jvm() -> int | None:
    stats = all_stats()
    tree = descendants(stats, os.getpid())
    return next((p for p in tree if stats[p].comm == "java"), None)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started, from its start tick and the
    system uptime, so interpreter start-up counts."""
    st = read_stat(os.getpid())
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - st.start_ticks / TICKS


def steal_ticks() -> int:
    """Host steal time summed over all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0
