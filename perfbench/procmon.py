"""Process-tree CPU and memory from ``/proc``.

The benchmark's own process launches the Spark JVM, and the JVM forks
the Python workers, so the tree rooted at this process covers all three.
CPU includes children that exited and were reaped inside the tree
(``cutime``/``cstime``).
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
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests while this
    machine's vCPUs were ready to run (``steal`` in ``/proc/stat``),
    summed over vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _counted(pid: int) -> bool:
    """Java and Python processes only. Helpers the JVM forks (jspawnhelper,
    chmod) share its pages copy-on-write until they exec, so counting them
    would add the JVM's RSS a second time."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith(("java", "python"))
    except OSError:
        return False


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background thread that keeps the peak summed RSS of a tree. A walk
    of ``/proc`` costs about 2 ms, so the tree is walked again only every
    ``rescan_s``; in between only the known processes' ``statm`` is read."""

    def __init__(self, root: int, interval_s: float = 0.1, rescan_s: float = 1.0) -> None:
        self.root = root
        self.interval_s = interval_s
        self.rescan_s = rescan_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        rescan_at = 0.0
        while not self._stop.is_set():
            if time.monotonic() >= rescan_at:
                pids = [p for p in tree_pids(self.root) if _counted(p)]
                rescan_at = time.monotonic() + self.rescan_s
            self.peak_bytes = max(self.peak_bytes, _rss_bytes(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
