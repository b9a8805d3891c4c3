"""Process-tree CPU and memory from /proc, and host-load bookends.

The benchmark's process tree is this Python driver, the Spark JVM it
launches and the Python workers the JVM forks; their CPU and resident
memory are read from /proc so the numbers cover all three.
"""

from __future__ import annotations

import glob
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> set[str]:
    """This process (or ``root``) and every live descendant."""
    children: dict[str, list[str]] = {}
    for path in glob.glob("/proc/[0-9]*"):
        pid = path[6:]
        fields = _stat_fields(pid)
        if fields is not None:
            children.setdefault(fields[1], []).append(pid)
    out, todo = set(), [str(root or os.getpid())]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: set[str] | None = None) -> float:
    """User + system CPU seconds of the tree, including children that
    have exited and been reaped by a tree member."""
    total = 0
    for pid in pids or tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(f) for f in fields[11:15])
    return total / _TICK


def tree_rss_mb(pids: set[str]) -> float:
    """Summed resident memory of the tree in MB, from statm: reading it
    costs the same whatever a process's size (smaps would walk the page
    tables of the JVM's heap). A page shared by forked Python workers
    counts once in each of them."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 1e6


class RssSampler:
    """Samples the tree's summed RSS every ``INTERVAL`` seconds in a
    background thread; ``peak_mb`` is the largest sample. The pid set is
    refreshed every ``RESCAN`` seconds to pick up new workers.
    ``cpu_s`` is the sampler thread's own CPU time, which the tree's
    CPU includes."""

    INTERVAL, RESCAN = 0.1, 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        cpu0 = time.thread_time()
        pids, scanned = tree_pids(), time.monotonic()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            if self._stop.wait(self.INTERVAL):
                break
            if time.monotonic() - scanned > self.RESCAN:
                pids, scanned = tree_pids(), time.monotonic()
        self.cpu_s = time.thread_time() - cpu0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(tree_pids()))


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this host since boot
    (all CPUs summed)."""
    with open("/proc/stat") as fh:
        # cpu user nice system idle iowait irq softirq steal ...
        return int(fh.readline().split()[8]) / _TICK


def cpu_probe_s() -> float:
    """Seconds one thread takes for a fixed pure-Python loop: the host's
    single-core speed at this moment, comparable across runs."""
    t0 = time.perf_counter()
    total = 0
    for i in range(1_000_000):
        total += i * i
    return time.perf_counter() - t0


def host_bookend() -> dict:
    """/proc/loadavg, the thread count outside this tree, the CPU time
    stolen by the hypervisor so far and the host's current single-core
    speed, so a noisy run can be judged from its own artifact."""
    with open("/proc/loadavg") as fh:
        load1, load5, load15 = (float(x) for x in fh.read().split()[:3])
    own = tree_pids()
    foreign = sum(
        len(glob.glob(f"{path}/task/[0-9]*"))
        for path in glob.glob("/proc/[0-9]*")
        if path[6:] not in own
    )
    return {
        "time": time.time(),
        "load1": load1, "load5": load5, "load15": load15,
        "steal_s": steal_s(),
        "cpu_probe_s": cpu_probe_s(),
        "threads_foreign": foreign,
        "threads_own": sum(
            len(glob.glob(f"/proc/{pid}/task/[0-9]*")) for pid in own
        ),
    }
