"""CPU and RSS accounting for a process tree, read from ``/proc``, and
the ending of that tree when a run is over.

The tree is the benchmark's own process and all its descendants: the
Spark JVM, the PySpark daemon and its Python workers.  CPU time of a
live process is utime + stime; a child that exited and was reaped by a
process in the tree lives on in its parent's cutime + cstime, so the sum
over the live tree of all four fields only grows.
"""
from __future__ import annotations

import os
import signal
import threading
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> tuple[int, int, int]:
    """(ppid, cpu ticks incl. reaped children, rss pages) from the text
    of ``/proc/<pid>/stat``.  The command name is parenthesised and may
    hold spaces or parentheses, so fields are counted from the last ')'."""
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14-17, rss 24
    ticks = sum(int(x) for x in rest[11:15])
    return int(rest[1]), ticks, int(rest[21])


def snapshot(proc: Path = Path("/proc")) -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, ticks, rss pages) for every readable process."""
    out = {}
    for d in proc.iterdir():
        if not d.name.isdigit():
            continue
        try:
            out[int(d.name)] = parse_stat((d / "stat").read_text())
        except (OSError, ValueError, IndexError):
            continue            # exited between listing and reading
    return out


def tree(snap: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    """``root`` and all its descendants present in ``snap``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in snap.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in snap:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def tree_usage(root: int | None = None,
               proc: Path = Path("/proc")) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over the tree under ``root``."""
    snap = snapshot(proc)
    pids = tree(snap, os.getpid() if root is None else root)
    ticks = sum(snap[p][1] for p in pids)
    rss = sum(snap[p][2] for p in pids)
    return ticks / CLK_TCK, rss * PAGE


def descendants() -> set[int]:
    """The live descendants of this process."""
    return set(tree(snapshot(), os.getpid())) - {os.getpid()}


def alive(pid: int, proc: Path = Path("/proc")) -> bool:
    """Whether ``pid`` still runs: it is listed and is not a zombie."""
    try:
        text = (proc / str(pid) / "stat").read_text()
    except OSError:
        return False
    return text[text.rindex(")") + 2] != "Z"


def end_processes(pids, grace: float, interval: float = 0.05) -> list[int]:
    """Wait up to ``grace`` seconds for ``pids`` to end on their own, then
    send SIGTERM to the rest and, 5 seconds later, SIGKILL; return once
    none runs.  Returns the pids that had to be signalled."""
    signalled: list[int] = []
    for sig, wait in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 30.0)):
        left = [p for p in pids if alive(p)]
        if not left:
            break
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    continue
                if p not in signalled:
                    signalled.append(p)
        deadline = time.monotonic() + wait
        while any(alive(p) for p in left) and time.monotonic() < deadline:
            time.sleep(interval)
    return signalled


def host_steal_s(proc: Path = Path("/proc")) -> float:
    """CPU seconds the hypervisor has taken from this host, summed over
    its CPUs (the ``steal`` column of ``/proc/stat``)."""
    fields = (proc / "stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / CLK_TCK


class PeakRss:
    """Samples the tree's summed RSS on a thread until stopped; use as a
    context manager around one pass and read ``peak`` (bytes)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_usage()[1])

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
