"""Process-tree helpers: peak memory sampling and the no-leftover self-check.

Linux-only (reads ``/proc``).  A process is identified by ``(pid, start
time)`` so a recycled pid is never mistaken for a survivor.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, start time in clock ticks), or None if gone/zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after it
    fields = raw[raw.rindex(")") + 2:].split()
    if fields[0] == "Z":
        return None
    return int(fields[1]), int(fields[19])


def descendants(root: int | None = None) -> set[tuple[int, int]]:
    """Live ``(pid, start_time)`` of every process below ``root``."""
    root = os.getpid() if root is None else root
    children: dict[int, list[tuple[int, int]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append((int(name), st[1]))
    out: set[tuple[int, int]] = set()
    todo = [root]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in out:
                out.add(child)
                todo.append(child[0])
    return out


def alive(procs: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """The members of ``procs`` still running (same pid AND start time)."""
    out = set()
    for pid, start in procs:
        st = _stat(pid)
        if st is not None and st[1] == start:
            out.add((pid, start))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so a tree sum
    counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Background thread recording the peak memory of this process tree
    (summed proportional set size) while it runs.

    Every pid seen below this process is remembered, so the exit check
    also covers workers whose parent died first (they are re-parented
    away from this tree and would be invisible to a final walk)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.seen: set[tuple[int, int]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory", daemon=True)

    def _sample(self) -> None:
        procs = descendants()
        self.seen |= procs
        kb = _pss_kb(os.getpid()) + sum(_pss_kb(p) for p, _ in procs)
        self.peak_mb = max(self.peak_mb, kb / 1024.0)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "MemorySampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)


def reap(procs: set[tuple[int, int]], timeout_s: float = 30.0) -> set[tuple[int, int]]:
    """Wait for ``procs`` and any remaining descendants to exit.

    Returns the processes that were still running at the deadline; those
    are then killed so the caller never leaves them behind, but they are
    reported — a leftover is a failed run, not a silently cleaned one."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = alive(procs) | descendants()
        if not left or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    end = time.monotonic() + 5.0
    while alive(left) and time.monotonic() < end:
        time.sleep(0.05)
    return left
