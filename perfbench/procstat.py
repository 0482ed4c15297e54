"""Process-tree and whole-box accounting read from ``/proc``.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, and the PySpark daemon and workers the JVM forks.  CPU is
split by process kind: the JVM's own threads (operators, codegen, GC,
JIT) against every Python process (the workers that run the Arrow
kernels plus this driver, which runs the driver-side collect and
union-find steps).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_HZ = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, own cpu ticks, reaped-children cpu ticks)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        comm = raw[raw.find("(") + 1 : raw.rfind(")")]
        f = raw[raw.rfind(")") + 2 :].split()
        # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        out[int(entry)] = (int(f[1]), comm, int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return out


def descendants(root: int, table=None) -> list[int]:
    """Live pids below ``root`` (not including it)."""
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


@dataclass(frozen=True)
class CpuSplit:
    """Cumulative CPU seconds of the tree below (and including) this
    process, by kind."""

    jvm: float
    python: float

    @property
    def total(self) -> float:
        return self.jvm + self.python

    def __add__(self, other: "CpuSplit") -> "CpuSplit":
        return CpuSplit(self.jvm + other.jvm, self.python + other.python)

    def __sub__(self, other: "CpuSplit") -> "CpuSplit":
        return CpuSplit(self.jvm - other.jvm, self.python - other.python)


def cpu_split() -> CpuSplit:
    """JVM threads vs Python processes.  A reaped process's time is
    carried by its reaper's children counters; the JVM only ever reaps
    Python processes, so its reaped time counts as Python."""
    me = os.getpid()
    table = _proc_table()
    jvm = py = 0
    for pid in [me, *descendants(me, table)]:
        _ppid, comm, own, reaped = table.get(pid, (0, "", 0, 0))
        if comm == "java":
            jvm += own
            py += reaped
        elif pid == me:
            py += own  # own reaped children are exited JVMs of this run
        else:
            py += own + reaped
    return CpuSplit(jvm / _HZ, py / _HZ)


def peak_rss_mb() -> float:
    """Sum of the per-process resident high-water marks (VmHWM) over the
    live tree: an upper bound on the tree's simultaneous peak, read
    without a sampling thread."""
    me = os.getpid()
    kb = 0
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


@dataclass(frozen=True)
class BoxSample:
    t: float
    busy: int  # whole-box guest-busy jiffies
    steal: int  # jiffies the hypervisor withheld
    tree_cpu: float  # this tree's CPU seconds


def box_sample() -> BoxSample:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    busy = vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
    steal = vals[7] if len(vals) > 7 else 0
    return BoxSample(time.time(), busy, steal, cpu_split().total)


#: a timed sample is annotated hostile when the hypervisor withheld more
#: than this many cores, or other tenants kept this many cores busy
HOSTILE_STEAL_CORES = 0.5
HOSTILE_EXTERNAL_CORES = 1.0


def box_load(before: BoxSample, after: BoxSample) -> dict:
    """Average cores over the bracket: steal, and busy cores not spent
    by this tree."""
    wall = max(after.t - before.t, 1e-9)
    busy = (after.busy - before.busy) / _HZ / wall
    mine = (after.tree_cpu - before.tree_cpu) / wall
    steal = (after.steal - before.steal) / _HZ / wall
    external = max(busy - mine, 0.0)
    return {
        "steal_cores": steal,
        "external_busy_cores": external,
        "hostile": steal > HOSTILE_STEAL_CORES or external > HOSTILE_EXTERNAL_CORES,
    }


def settle(max_s: float = 10.0, quiet_cores: float = 0.1, window: float = 0.5) -> float:
    """Wait until the process tree has been idle for ``window`` seconds
    (the JIT compilations and collections the last run queued have
    finished), at most ``max_s``; returns the seconds waited."""
    t0 = time.perf_counter()
    prev = cpu_split().total
    while time.perf_counter() - t0 < max_s:
        time.sleep(window)
        cur = cpu_split().total
        if cur - prev < quiet_cores * window:
            break
        prev = cur
    return time.perf_counter() - t0


def steal_corrected(wall: float, tree_cpu: float, steal_cores: float) -> float:
    """The wall scaled by the share of the tree's CPU demand that the
    hypervisor delivered, ``wall * busy / (busy + steal)`` with
    ``busy = tree_cpu / wall``: time the vCPUs were runnable but withheld
    (CPU steal, set by other tenants of the host, not by the program) is
    taken out.  Equal to the wall when nothing was stolen."""
    busy = tree_cpu / wall if wall > 0 else 0.0
    if busy + steal_cores <= 0:
        return wall
    return wall * busy / (busy + steal_cores)
