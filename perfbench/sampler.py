"""Out-of-process CPU and memory sampler over ``/proc``.

Follows the benchmark's own process tree: the driver Python, the Spark
JVM it launches, and the ``pyspark.daemon`` Python workers the JVM
forks. A process is sampled by reading ``/proc/<pid>/stat``; nothing is
injected into it, so the sampler runs in untraced runs too.

CPU per process is the last cumulative user+system time seen for it,
so a process that exits keeps the CPU it was last seen with (at most
one sampling period is lost).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: CPU classes; ``cpu_s`` is their sum
CLASSES = ("driver_py", "jvm", "pyworker")


def _stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, utime+stime ticks, rss pages) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # comm may contain spaces and parens: split around the last ')'
    lpar, rpar = data.index("("), data.rindex(")")
    fields = data[rpar + 2:].split()
    # fields[0] is field 3 (state); utime/stime are fields 14/15, rss 24
    return data[lpar + 1:rpar], int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[21])


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def loadavg() -> float:
    """1-minute load average, a marker of co-tenant load."""
    return os.getloadavg()[0]


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over this machine's CPUs (``/proc/stat``); a marker of co-tenant load
    on a virtual machine."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


class ProcSampler:
    """Samples the process tree under ``root`` every ``period`` seconds
    from a background thread."""

    def __init__(self, root: int | None = None, period: float = 0.2):
        self.root = root or os.getpid()
        self.period = period
        self._lock = threading.Lock()
        self._cpu: dict[int, tuple[str, int]] = {}  # pid -> (class, ticks)
        self._class: dict[tuple[int, str], str] = {}
        self._peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def _classify(self, pid: int, comm: str) -> str | None:
        if pid == self.root:
            return "driver_py"
        if comm == "java":
            return "jvm"
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            return "pyworker"
        return None  # launcher shells and the like

    def tree(self) -> list[int]:
        """Live descendants of ``root``, ``root`` included."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(st[1], []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> None:
        rss = 0
        with self._lock:
            for pid in self.tree():
                st = _stat(pid)
                if st is None:
                    continue
                comm, _, ticks, pages = st
                # keyed on comm too: the launcher shell execs into the JVM
                cls = self._class.get((pid, comm))
                if cls is None:
                    cls = self._class[(pid, comm)] = self._classify(pid, comm) or "other"
                self._cpu[pid] = (cls, ticks)
                rss += pages
            self._peak_rss = max(self._peak_rss, rss * _PAGE)

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per class, sampled now."""
        self.sample()
        out = dict.fromkeys(CLASSES, 0.0)
        with self._lock:
            for cls, ticks in self._cpu.values():
                if cls in out:
                    out[cls] += ticks / _TICK
        return out

    def reset_peak(self) -> None:
        with self._lock:
            self._peak_rss = 0
        self.sample()

    def peak_rss_mb(self) -> float:
        self.sample()
        return self._peak_rss / 2**20

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
