"""Readers for Linux ``/proc``: CPU time, bytes written, host steal, load.

Every parser takes the file's text, so the arithmetic is testable with
fixture text; ``Sampler`` does the reading. Times are in seconds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def parse_pid_stat(text: str) -> tuple[int, float]:
    """(ppid, user+sys CPU-s including reaped children) from
    ``/proc/<pid>/stat``. The command field may hold spaces and
    parentheses, so fields are counted after the last ``)``."""
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return ppid, ticks / CLK_TCK


def parse_io_wchar(text: str) -> int:
    """``wchar`` (bytes passed to write syscalls) from ``/proc/<pid>/io``."""
    for line in text.splitlines():
        key, _, value = line.partition(":")
        if key.strip() == "wchar":
            return int(value)
    raise ValueError("no wchar line in /proc/<pid>/io text")


def parse_steal(text: str) -> float:
    """Host steal CPU-s summed over all CPUs, from the ``cpu`` line of
    ``/proc/stat`` (field 8 after the label)."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            return int(parts[8]) / CLK_TCK if len(parts) > 8 else 0.0
    raise ValueError("no cpu line in /proc/stat text")


def parse_load1(text: str) -> float:
    return float(text.split()[0])


def descendants(parents: dict[int, int], root: int) -> set[int]:
    """Live descendants of ``root`` in a pid -> ppid map."""
    out = set()
    for pid in parents:
        p = pid
        while p in parents and p not in (0, root):
            p = parents[p]
        if p == root and pid != root:
            out.add(pid)
    return out


def tree_cpu(stats: dict[int, str], root: int) -> float:
    """CPU-s of ``root`` and every live descendant, from a map of
    pid -> ``/proc/<pid>/stat`` text."""
    parsed = {pid: parse_pid_stat(text) for pid, text in stats.items()}
    tree = descendants({pid: p[0] for pid, p in parsed.items()}, root)
    return sum(parsed[pid][1] for pid in tree | ({root} & parsed.keys()))


def read_stats() -> dict[int, str]:
    """pid -> ``/proc/<pid>/stat`` text for every process visible now."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = _read(f"/proc/{name}/stat")
            except OSError:
                pass  # the process ended between listdir and open
    return out


@dataclass(frozen=True)
class Sample:
    """One reading; subtract two with ``delta``."""

    wall: float
    cpu_s: float
    wchar: int
    steal_s: float
    load1: float

    def delta(self, earlier: "Sample") -> dict[str, float]:
        return {
            "wall_s": self.wall - earlier.wall,
            "cpu_s": self.cpu_s - earlier.cpu_s,
            "wchar": self.wchar - earlier.wchar,
            "steal_s": self.steal_s - earlier.steal_s,
            "load1": self.load1,
        }


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


class Sampler:
    """Reads the counters of this process tree (the Python driver, the
    Spark JVM and the JVM's Python workers) and of the host."""

    def __init__(self, root_pid: int, jvm_pid: int):
        self.root_pid = root_pid
        self.jvm_pid = jvm_pid

    def sample(self, wall: float) -> Sample:
        return Sample(
            wall=wall,
            cpu_s=tree_cpu(read_stats(), self.root_pid),
            wchar=parse_io_wchar(_read(f"/proc/{self.jvm_pid}/io")),
            steal_s=parse_steal(_read("/proc/stat")),
            load1=parse_load1(_read("/proc/loadavg")),
        )
