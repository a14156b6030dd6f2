"""CPU and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark process and every descendant: the Spark JVM it
launches and the Python workers the JVM forks. CPU of descendants that
already exited is included through the ``cutime``/``cstime`` their parent
collected when it reaped them.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None  # exited between listing and reading
    # fields after the ")" that closes the command name; index 0 is field 3
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields for ``root`` and all its live descendants."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(pid)) is not None:
            stats[int(pid)] = st
            children.setdefault(int(st[1]), []).append(int(pid))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    return [pid for pid in _tree(root) if pid != root]


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU-seconds of the tree, reaped children included."""
    tree = _tree(root or os.getpid())
    return sum(sum(int(v) for v in st[11:15]) for st in tree.values()) / _TICK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since the listing
    return 0


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident bytes of the tree as the sum of proportional set sizes, so
    pages that forked Python workers share are counted once."""
    return sum(_pss_bytes(pid) for pid in _tree(root or os.getpid()))


class PeakRss:
    """Background sampler of the tree's resident bytes; ``peak`` holds the
    largest sum seen. Use as a context manager so the thread always ends."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
