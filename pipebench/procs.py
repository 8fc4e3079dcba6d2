"""Process-tree helpers over /proc (the Spark JVM is a child of a worker)."""

from __future__ import annotations

import os
import signal
import time


def descendants(pid: int) -> list[int]:
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over ``pid`` and its descendants."""
    kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024


def kill_tree(pid: int, timeout: float = 30.0) -> None:
    """SIGKILL ``pid`` and its descendants and wait until all are gone (a
    reparented descendant counts as gone once it is a zombie)."""
    victims = [*descendants(pid), pid]
    for p in victims:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + timeout
    for p in victims:
        while time.monotonic() < end:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
