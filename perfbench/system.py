"""Machine conditions and process bookkeeping, read from /proc."""

from __future__ import annotations

import os
import re
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat, as bench.py reads them."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def descendants(root: int) -> list[int]:
    """Every live process below `root` (children, grandchildren, ...)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n (forked Python workers share the daemon's)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class WorkerPssPoller:
    """Peak summed PSS of this process's descendants other than the JVM
    (Spark's Python daemon and workers), polled on a background thread.
    The JVM's resident size follows how far its collector grew the heap,
    not what the heap holds; see gc_peak_after_bytes."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = [p for p in descendants(me) if comm(p) != "java"]
            self.peak = max(self.peak, sum(pss_bytes(p) for p in pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "WorkerPssPoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# "GC(7) Pause Young (Normal) (G1 Evacuation Pause) 512M->120M(1024M) 3.1ms"
_GC_LINE = re.compile(r"GC\(\d+\) Pause .*?(\d+)([KMG])->(\d+)([KMG])\((\d+)[KMG]\)")
_UNIT = {"K": 2**10, "M": 2**20, "G": 2**30}


def gc_peak_after_bytes(log_path: str) -> int:
    """The largest heap occupancy right after a collection pause, from a
    JVM log written with -Xlog:gc: the most the heap held at any point
    where the collector had just freed what it could."""
    peak = 0
    with open(log_path) as f:
        for line in f:
            m = _GC_LINE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * _UNIT[m.group(4)])
    return peak


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in `pids` has ended (a worker orphaned by
    its JVM is re-parented, so the list is taken before shutdown); kill
    what outlives timeout_s."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in pids if _alive(p)]
        if not left or (killed and time.monotonic() > deadline):
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 5.0
        time.sleep(0.1)
