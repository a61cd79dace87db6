"""The benchmark's process tree, read from /proc: which processes it
holds and their peak resident memory."""

from __future__ import annotations

import os

def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name, so field 0 is
    the state and field 1 the parent pid."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_tree(root_pid: int) -> list[int]:
    """Pids of ``root_pid`` and all its descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat_fields(int(name))[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [root_pid], [root_pid]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def peak_rss_mb(pids: list[int]) -> dict[int, float]:
    """Peak resident set (VmHWM) of each live process, in MB."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return out


def is_gone(pid: int) -> bool:
    """The process has exited (it is a zombie or no longer listed)."""
    try:
        return _stat_fields(pid)[0] == "Z"
    except (OSError, IndexError):
        return True
