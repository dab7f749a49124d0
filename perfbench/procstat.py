"""CPU time and resident memory of a process tree, read from /proc.

The tree is this Python process (the Spark driver's Python side), the driver
JVM it launched, and the JVM's Python workers. Nothing here runs inside the
program; the sampler is one thread of the benchmark process.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return data[data.rindex(")") + 2:].split()


def state(pid: int) -> str | None:
    """The process state letter (R, S, Z ...), None once it is gone."""
    st = _stat(pid)
    return st[0] if st else None


def tree(root: int) -> list[int]:
    """`root` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """(steal, demand) CPU ticks of the whole host since boot. On a shared VM,
    steal is time a vCPU was runnable but the hypervisor ran someone else;
    demand is the time the vCPUs were runnable: busy plus stolen."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return steal, user + nice + system + irq + softirq + steal


def steal_share(since: tuple[int, int]) -> float:
    """Share of the host's CPU demand stolen since the `host_ticks()` reading
    `since`. Idle vCPUs are not stolen from, so this is the share of runnable
    time lost: work that ran while a share s was stolen took about 1/(1-s)
    times as long as it would without neighbours."""
    steal, demand = (b - a for a, b in zip(since, host_ticks()))
    return steal / max(demand, 1)


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every `interval` seconds while open.
    The tree is re-listed once a second, which costs a scan of /proc."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, listed = [], float("-inf")
        while True:
            now = time.monotonic()
            if now - listed >= 1.0:
                pids, listed = tree(self.root), now
            self.peak = max(self.peak, rss_bytes(pids))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(tree(self.root)))
