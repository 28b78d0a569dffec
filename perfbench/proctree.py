"""Outside-the-program accounting for one process tree, read from /proc.

``TreeSampler`` follows a root pid and its descendants (the Spark driver's
Python, the JVM it launches, and the JVM's Python daemon and workers). It
remembers the last CPU it saw for each pid and banks it when the pid exits,
because PySpark's daemon ignores SIGCHLD and its dead workers never roll into
anyone's cutime. It also tracks the peak summed PSS of the tree since the
last ``reset_peak``.

``host_counters`` reads machine-wide busy, iowait and steal seconds the way
``bench.py`` does; the difference between machine busy CPU and the tree's own
CPU is the foreign CPU another tenant burned during the run.
"""

from __future__ import annotations

import glob
import os
import threading

CLK = os.sysconf("SC_CLK_TCK")


def host_counters() -> dict:
    f = open("/proc/stat").readline().split()[1:]
    return {
        "busy_s": sum(int(v) for i, v in enumerate(f) if i not in (3, 4)) / CLK,
        "iowait_s": int(f[4]) / CLK,
        "steal_s": (int(f[7]) / CLK) if len(f) > 7 else 0.0,
    }


def _scan() -> dict[int, tuple[int, float]]:
    procs = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw.rsplit(") ", 1)[-1].split()
        procs[int(raw.split()[0])] = (int(rest[1]), (int(rest[11]) + int(rest[12])) / CLK)
    return procs


def _tree(procs: dict[int, tuple[int, float]], root: int) -> set[int]:
    """``root`` and its descendants among ``procs``."""
    mine = {root} if root in procs else set()
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine


def descendants(root: int) -> list[int]:
    return sorted(_tree(_scan(), root) - {root})


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver_py"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            exe = os.path.basename(fh.read().split(b"\0", 1)[0].decode(errors="replace"))
    except OSError:
        return "other"
    if exe == "java":
        return "jvm"
    if exe.startswith("python"):
        return "workers_py"
    return "other"


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeSampler(threading.Thread):
    def __init__(self, root: int, interval: float = 0.25, pss_every: int = 4):
        super().__init__(daemon=True)
        self.root = root
        self.pss_every = pss_every  # 0: never read PSS
        self._ticks = 0
        self.interval = interval
        self._lock = threading.Lock()
        self._last: dict[int, float] = {}
        self._kinds: dict[int, str] = {}
        self._banked: dict[str, float] = {}
        self.peak_pss_kb = 0
        self._halt = threading.Event()

    def sample(self, read_pss: bool = False) -> dict[str, float]:
        """Refresh now; return CPU seconds so far by kind, plus ``total``."""
        procs = _scan()
        mine = _tree(procs, self.root)
        # smaps_rollup walks the JVM's page tables, so PSS is read less
        # often than CPU; CPU is read often so short-lived workers are seen
        self._ticks += 1
        read_pss = read_pss or (self.pss_every and (self._ticks - 1) % self.pss_every == 0)
        pss = sum(_pss_kb(pid) for pid in mine) if read_pss else 0
        with self._lock:
            self.peak_pss_kb = max(self.peak_pss_kb, pss)
            for pid in list(self._last):
                if pid not in mine:
                    kind = self._kinds.pop(pid)
                    self._banked[kind] = self._banked.get(kind, 0.0) + self._last.pop(pid)
            for pid in mine:
                if self._kinds.get(pid, "other") == "other":  # exec may follow
                    self._kinds[pid] = _kind(pid, self.root)
                self._last[pid] = procs[pid][1]
            out = dict(self._banked)
            for pid, cpu in self._last.items():
                out[self._kinds[pid]] = out.get(self._kinds[pid], 0.0) + cpu
        out["total"] = sum(out.values())
        return out

    def reset_peak(self) -> dict[str, float]:
        """Start the peak PSS afresh from the tree's PSS now, so it covers
        only what follows (the timed window); returns ``sample()``."""
        with self._lock:
            self.peak_pss_kb = 0
        return self.sample(read_pss=True)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()


def delta(a: dict, b: dict) -> dict:
    return {k: b.get(k, 0.0) - a.get(k, 0.0) for k in set(a) | set(b)}
