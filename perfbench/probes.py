"""Memory and disk probes, read from ``/proc`` and the file system."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # the command name may hold spaces: fields after the last ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each page shared by N
    processes counted 1/N in each, so forked Python workers that share the
    daemon's pages are not counted several times over."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        pass  # kernel without smaps_rollup: plain RSS
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def tree_rss_bytes(root_pid: int, exclude: frozenset[int] = frozenset()) -> int:
    """Resident bytes (PSS) summed over ``root_pid`` and its descendants (the
    driver Python, its JVM and the JVM's Python workers), skipping the
    subtrees rooted at ``exclude``."""
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue  # the process ended while we walked the tree
        stack.extend(kids.get(pid, ()))
    return total


class PeakRss:
    """Sampler thread: peak of ``tree_rss_bytes`` over its lifetime."""

    def __init__(self, exclude: frozenset[int] = frozenset(), interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude = exclude
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid, self.exclude))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total
