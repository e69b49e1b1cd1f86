"""Host diagnostics read from /proc: steal time, a fixed-work CPU canary,
and CPU seconds and peak resident memory of this process and all its
descendants (the Python driver, the JVM and the Python workers the JVM
forks).

None of these are benchmark metrics; they go into the run record so a run
slowed by the host (steal, a throttled canary) can be told apart from a
slow program.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
RSS_INTERVAL_S = 0.5  # PeakRss sampling period


def steal_s() -> float:
    """Host-wide steal seconds since boot, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def canary() -> dict:
    """Wall seconds of a fixed numpy gemm loop and a fixed pure-Python loop."""
    import numpy as np

    a = np.ones((384, 384))
    t0 = time.perf_counter()
    for _ in range(40):
        a = (a @ a) % 7 + 1.0
    gemm = time.perf_counter() - t0
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i & 1023
    py = time.perf_counter() - t0
    return {"gemm_s": round(gemm, 4), "py_s": round(py, 4)}


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children) of one process."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    rest = raw[raw.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14-17
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree(root: int) -> list[tuple]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _stat(int(name))
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append((pid, *procs[pid]))
        todo.extend(kids.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Every live process this process started, directly or not."""
    me = os.getpid()
    return [pid for pid, *_ in _tree(me) if pid != me]


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and its descendants."""
    return sum(t for _, _, t in _tree(os.getpid())) / _TICK


def tree_pss_mb() -> dict[str, float]:
    """Resident memory of the tree by process name (``java``, ``python3``),
    with shared pages counted once: the Python workers are forked from one
    daemon and share most of its pages, so a plain RSS sum would count
    those pages once per worker."""
    mb: dict[str, float] = {}
    for pid, *_ in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            mb[name] = mb.get(name, 0.0) + _pss_kb(pid) / 1024
        except OSError:
            continue  # exited since the listing
    return mb


class PeakRss:
    """Samples the process tree's resident memory (``tree_pss_mb``) on a
    background thread; ``peak_mb`` is the highest total seen and
    ``at_peak`` its split by process name. Use as a context manager."""

    def __init__(self):
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        mb = tree_pss_mb()
        if sum(mb.values()) > self.peak_mb:
            self.peak_mb = sum(mb.values())
            self.at_peak = {k: round(v, 1) for k, v in mb.items()}

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
