"""Process-tree CPU and resident-memory probes read from ``/proc``.

The benchmark process, the JVM it launches and any Python workers the JVM
forks form one tree. CPU is the sum of user+system time of every live
process in the tree plus the time of children they have already reaped
(``cutime``/``cstime``), so work done by short-lived workers is kept.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process's tree, including reaped
    children."""
    total = 0
    for pid in tree_pids(os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_thread_cpu(prefixes: tuple[str, ...]) -> dict:
    """(pid, tid) -> user+system CPU seconds of the tree's live threads
    whose name starts with one of ``prefixes`` (e.g. ``"C2 CompilerThre"``,
    a JVM JIT compiler thread)."""
    out = {}
    for pid in tree_pids(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if raw[raw.index("(") + 1 :].startswith(prefixes):
                fields = raw[raw.rindex(")") + 2 :].split()
                out[(pid, tid)] = (int(fields[11]) + int(fields[12])) / _CLK_TCK
    return out


def thread_cpu_delta(before: dict, after: dict) -> float:
    """CPU the threads in ``after`` used since ``before``; a thread born in
    between counts from 0, one that exited in between is lost (threads
    come and go, so a plain difference of sums can go negative)."""
    return sum(c - before.get(k, 0.0) for k, c in after.items())


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a background thread. ``peak`` is
    the highest sum that held over two samples in a row: a process caught
    between fork and exec (e.g. a child the JVM spawns) maps its parent's
    memory, and counting it once more roughly doubled the sum for a single
    sample in 4 of 20 runs of the benchmark. Use as a context manager."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._last = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def add(self, rss: int) -> None:
        self.peak = max(self.peak, min(self._last, rss))
        self._last = rss

    def _run(self) -> None:
        while True:
            self.add(tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.add(tree_rss_bytes())

    def __enter__(self) -> "PeakRss":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()
