"""Readers for ``/proc``: the CPU time and peak RSS of a process tree, and
the host's steal time and load.

A served workload runs as a Python process that starts a JVM (and, for
some queries, Python workers). Its cost is the sum over that whole tree.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def _stat_fields(pid: int, proc: str = "/proc") -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (the name may hold
    spaces and parentheses, so split after its closing parenthesis)."""
    text = _read(f"{proc}/{pid}/stat")
    if text is None:
        return None
    return text[text.rindex(")") + 2 :].split()


def children_map(proc: str = "/proc") -> dict[int, list[int]]:
    """parent pid -> child pids, for every live process."""
    out: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name), proc)
        if fields is None:
            continue
        out.setdefault(int(fields[1]), []).append(int(name))
    return out


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    kids = children_map(proc)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


def process_group(pgid: int, proc: str = "/proc") -> list[int]:
    """Live processes whose process group is ``pgid`` (they outlive a
    parent that exits first, so ``process_tree`` no longer finds them)."""
    out = []
    for name in os.listdir(proc):
        if name.isdigit():
            fields = _stat_fields(int(name), proc)
            if fields is not None and int(fields[2]) == pgid:
                out.append(int(name))
    return out


def cpu_seconds(pid: int, proc: str = "/proc") -> float:
    """utime + stime of ``pid`` plus those of its waited-for children."""
    fields = _stat_fields(pid, proc)
    if fields is None:
        return 0.0
    # stat fields 14-17 (utime stime cutime cstime), 0-based 11-14 here
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def tree_cpu_seconds(root: int, proc: str = "/proc") -> dict[int, float]:
    """pid -> CPU seconds over the tree under ``root``."""
    return {pid: cpu_seconds(pid, proc) for pid in process_tree(root, proc)}


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree used between two ``tree_cpu_seconds`` readings;
    a process born in between counts from zero."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """VmHWM (peak resident set) summed over the tree, in MiB."""
    total_kb = 0
    for pid in process_tree(root, proc):
        text = _read(f"{proc}/{pid}/status") or ""
        for line in text.splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
                break
    return total_kb / 1024.0


def cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    text = _read(f"{proc}/stat") or ""
    for line in text.splitlines():
        if line.startswith("cpu "):
            vals = [int(x) for x in line.split()[1:]]
            # user nice system idle iowait irq softirq steal [guest guest_nice]
            # guest time is already counted in user/nice
            return sum(vals[:8]), vals[7] if len(vals) > 7 else 0
    return 0, 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def loadavg_1m(proc: str = "/proc") -> float:
    text = _read(f"{proc}/loadavg")
    return float(text.split()[0]) if text else -1.0


def is_gone(pid: int, proc: str = "/proc") -> bool:
    """True when ``pid`` has exited (a zombie counts as exited)."""
    fields = _stat_fields(pid, proc)
    return fields is None or fields[0] in ("Z", "X")


class PhaseMeter:
    """What a process tree and the host spent over one phase: wall time,
    the tree's CPU time and peak RSS, guest steal and the 1-minute load."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.t_start = 0.0
        self._before: tuple = ()

    def start(self) -> None:
        self._before = (tree_cpu_seconds(self.pid), cpu_ticks(), loadavg_1m())
        self.t_start = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def stop(self) -> dict:
        wall = self.elapsed()
        cpu, ticks, load = self._before
        return {
            "wall_s": wall,
            "cpu_s": cpu_delta(cpu, tree_cpu_seconds(self.pid)),
            "peak_rss_mb": peak_rss_mb(self.pid),
            "steal_pct": steal_pct(ticks, cpu_ticks()),
            "loadavg_1m": [load, loadavg_1m()],
        }
