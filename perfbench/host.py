"""Host telemetry: CPU steal, the memory of the processes a run starts and
the CPU time the engine spends.

All read ``/proc``. Steal and memory describe the run, they are not part of
what it measures, so on a host without ``/proc`` they report 0 rather than
fail. ``EngineCpu`` is what the gated timings are made of; without ``/proc``
it raises.
"""

from __future__ import annotations

import os
import threading


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            parts = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (parts[7] if len(parts) > 7 else 0), sum(parts)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dt if dt > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kib(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by n
    processes counted 1/n. Summed over a process tree it counts shared
    pages once, where plain RSS counts a forked Python worker's pages
    again, and a JVM's whole heap again for a child it forked to run a
    command."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mb(root: int) -> float:
    """Resident memory (as PSS) of every descendant of ``root``: the
    driver JVM and the Python workers it forks, in MB."""
    try:
        kids = _children()
    except OSError:
        return 0.0
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        total += _pss_kib(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Samples descendants' RSS on a background thread; ``peak_mb`` is the
    largest sum seen. Stop it with ``stop()``, which joins the thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, descendants_rss_mb(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_mb


# JVM threads that do the JVM's own upkeep rather than the engine's work:
# JIT compilers, garbage collectors, the VM thread and its helpers. Their CPU
# depends on how far the JVM has compiled and when it collects, not on the
# operation that runs (a fresh JVM's compilers spend more CPU in one rollup
# than the engine's threads do), so ``EngineCpu`` leaves them out. GC time
# is reported apart, as ``jvm.gc_s``.
JVM_UPKEEP = (
    "C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread",
    "VM Periodic", "Sweeper thread", "Service Thread", "Monitor Deflati",
)
_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat_cpu_s(pid: int, reaped_only: bool = False) -> float:
    """CPU seconds of a process (utime, stime) and of the children it has
    reaped (cutime, cstime); with ``reaped_only`` those of the children only."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[13 if reaped_only else 11:15]) / _TICK


class EngineCpu:
    """CPU time of the engine's work in the driver JVM ``pid``: its threads
    other than ``JVM_UPKEEP`` (the driver thread that plans and compiles
    queries, Spark's scheduler, the task threads), plus every process the
    JVM forks (Python workers, with the children they reaped).

    Thread CPU is read from ``schedstat`` in nanoseconds. It is on-CPU time
    only: time a thread waits for a core, or (with paravirtual steal
    accounting) time the host steals the vCPU, is not in it. Busy
    neighbours still make each instruction slower, so it is not immune to
    a loaded host, only far less sensitive than wall time.
    ``take()`` returns a snapshot, ``since(snapshot)`` the CPU seconds spent
    after it. A thread that ends between the two loses what it spent after
    the snapshot; Spark's pools end a thread after 60 s idle, so that is
    nothing."""

    def __init__(self, pid: int) -> None:
        self.pid = pid

    def _threads(self) -> dict[int, int]:
        out = {}
        base = f"/proc/{self.pid}/task"
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as f:
                    comm = f.read()
                if comm.startswith(JVM_UPKEEP):
                    continue
                with open(f"{base}/{tid}/schedstat") as f:
                    out[int(tid)] = int(f.read().split()[0])
            except OSError:
                continue
        return out

    def _children_s(self) -> float:
        """The JVM's reaped children plus every live descendant."""
        total = _stat_cpu_s(self.pid, reaped_only=True)
        kids = _children()
        todo = list(kids.get(self.pid, []))
        while todo:
            pid = todo.pop()
            try:
                total += _stat_cpu_s(pid)
            except OSError:
                continue
            todo.extend(kids.get(pid, []))
        return total

    def total(self) -> float:
        """CPU seconds since the JVM started."""
        return self.since(({}, 0.0))

    def take(self) -> tuple[dict[int, int], float]:
        return self._threads(), self._children_s()

    def since(self, snap: tuple[dict[int, int], float]) -> float:
        threads0, kids0 = snap
        threads1, kids1 = self.take()
        ns = 0
        for tid, v in threads1.items():
            d = v - threads0.get(tid, 0)
            # a negative delta is a new thread that took an ended one's id
            ns += d if d >= 0 else v
        return ns / 1e9 + (kids1 - kids0)
