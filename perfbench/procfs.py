"""Process-tree CPU and memory, and the host-health stamp, read from /proc.

The benchmark's process tree is this interpreter plus everything it starts:
the Spark driver JVM and the Python workers the JVM forks. CPU time counts
live processes and the children they have reaped, so a worker that exits
during a pass still bills its time to its parent.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields after it are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU of ``pids`` and of their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: a page the forked Python workers share
    copy-on-write counts once across them, not once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024  # kB
                        break
        except OSError:
            pass
    return total


class TreeMeter:
    """CPU seconds of the process tree over a window, read at its two ends.

    With ``memory=True`` a background thread also samples the tree's summed
    PSS every ``interval`` seconds for its peak. The thread walks /proc inside
    the measured driver, so only the traced pass asks for it.
    """

    def __init__(self, memory: bool = False, interval: float = 0.1):
        self.memory = memory
        self.interval = interval
        self.peak_pss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0
        self.cpu_s = 0.0

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_pss = max(self.peak_pss, tree_pss_bytes(tree_pids()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeMeter":
        self._cpu0 = tree_cpu_s(tree_pids())
        if self.memory:
            self._thread = threading.Thread(target=self._sample, daemon=True)
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        pids = tree_pids()
        self.cpu_s = tree_cpu_s(pids) - self._cpu0
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self.peak_pss = max(self.peak_pss, tree_pss_bytes(pids))


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two reads."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 else 0.0


def calibrate(reps: int = 5) -> float:
    """Median seconds of a fixed single-thread numpy loop.

    The loop's work never changes, so a slow reading marks a slow host
    window rather than slow code.
    """
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.integers(0, 1 << 62, size=1 << 18, dtype=np.uint64)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = a
        for _ in range(40):
            x = (x * np.uint64(0x9E3779B97F4A7C15)) ^ (x >> np.uint64(29))
        np.sort(x[: 1 << 16])
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2]


def snapshot() -> dict[int, str]:
    """This process's descendants, each with its start time, so a pid the
    kernel hands to an unrelated process later is never mistaken for it."""
    me = os.getpid()
    out = {}
    for pid in tree_pids(me):
        fields = _stat_fields(pid)
        if pid != me and fields is not None:
            out[pid] = fields[19]  # starttime (stat field 22)
    return out


def _running(pid: int, start: str) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[19] == start and fields[0] != "Z"


def reap(started: dict[int, str], timeout: float = 30.0) -> list[int]:
    """Wait until the processes in ``started`` (a ``snapshot`` taken before
    shutdown began, so workers re-parented when the JVM exits are still
    covered) and this process's current descendants have ended; kill what is
    left after ``timeout``. Returns the pids killed."""

    def left() -> dict[int, str]:
        procs = {**started, **snapshot()}
        for pid in procs:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own exited children
            except ChildProcessError:
                pass
        return {p: s for p, s in procs.items() if _running(p, s)}

    deadline = time.monotonic() + timeout
    while left() and time.monotonic() < deadline:
        time.sleep(0.2)
    stragglers = left()
    for pid, start in stragglers.items():
        try:
            if _running(pid, start):
                os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while left():
        time.sleep(0.1)
    return sorted(stragglers)
