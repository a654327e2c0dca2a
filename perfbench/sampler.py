"""Resource samplers: resident memory of the benchmark's process tree
(the Python driver, the JVM it launches and the JVM's Python workers)
and the files and bytes a store directory holds on disk."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the summed RSS of this process's tree every ``INTERVAL``
    seconds on a daemon thread; ``peak`` is the largest sample so far."""

    INTERVAL = 0.5

    def __init__(self):
        self.root = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.INTERVAL):
                return

    def sample(self) -> int:
        rss = tree_rss_bytes(self.root)
        self.peak = max(self.peak, rss)
        return rss

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


def dir_usage(path: str) -> tuple[int, int]:
    """``(files, bytes)`` of the regular files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            st = os.lstat(os.path.join(root, name))
            files += 1
            size += st.st_size
    return files, size
