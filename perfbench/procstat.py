"""Process-tree readings from ``/proc``: memory and CPU time.

The Spark driver JVM is a child of the benchmark process and the PySpark
worker daemon is a child of the JVM; PostgreSQL backends are children of
the postmaster. CPU of processes that already exited is still counted
through their parent's ``cutime``/``cstime`` once the parent has reaped
them, which is how short-lived Python workers and per-connection
PostgreSQL backends show up.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            out.setdefault(int(fields[1]), []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    tree = _children()
    out, todo = [], [pid]
    while todo:
        for child in tree.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (a forked Python worker and its daemon) split among them, so
    a sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_seconds(pid: int) -> float:
    """User+system CPU of ``pid`` and of its exited, already-waited-for
    children."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields[11..14] = utime stime cutime cstime (stat fields 14-17)
    return sum(int(f) for f in fields[11:15]) / _TICK


def tree_cpu_seconds(pid: int) -> float:
    """CPU of ``pid`` and every live or reaped descendant."""
    return cpu_seconds(pid) + sum(cpu_seconds(p) for p in descendants(pid))


class MemorySampler:
    """Samples the summed PSS of named process groups every ``interval``
    seconds on a daemon thread and keeps each group's peak and the peak of
    their total. ``groups()`` returns ``{name: [pid, ...]}`` and is
    re-evaluated each sample, so workers that come and go are included."""

    def __init__(self, groups, interval: float = 0.2):
        self._groups = groups
        self._interval = interval
        self._stop = threading.Event()
        self.peaks: dict[str, int] = {}
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            sizes = {name: sum(pss_bytes(p) for p in pids)
                     for name, pids in self._groups().items()}
            sizes["total"] = sum(sizes.values())
            for name, size in sizes.items():
                self.peaks[name] = max(self.peaks.get(name, 0), size)
            self._stop.wait(self._interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, int]:
        self._stop.set()
        self._thread.join()
        return self.peaks


def cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from the first
    line of ``/proc/stat``. Steal is time this virtual machine's CPUs were
    ready to run while the hypervisor ran something else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)
