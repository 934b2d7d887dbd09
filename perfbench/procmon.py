"""CPU, memory and host-noise readings from ``/proc``.

The engine runs as a process tree: the Python driver, the JVM it
launches, and the Python workers the JVM forks.  CPU seconds are the
tree's ``utime + stime`` plus ``cutime + cstime`` (workers that already
exited and were reaped inside the tree); resident memory is the tree's
proportional set size, sampled by a background thread.
"""

from __future__ import annotations

import os
import threading

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str = "/proc") -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            fields = _stat_fields(int(name), proc)
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by the tree rooted at ``root``."""
    ticks = 0
    for pid in tree_pids(root, proc):
        fields = _stat_fields(pid, proc)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / TICK


def tree_pss_bytes(root: int, proc: str = "/proc") -> int:
    """Proportional set size of the tree: pages shared between the forked
    Python workers count once, not once per worker as RSS would."""
    total = 0
    for pid in tree_pids(root, proc):
        try:
            with open(f"{proc}/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited
            pass
    return total


class PeakMemory:
    """Samples the tree's resident memory every ``interval`` seconds while
    active; ``peak`` is the largest total seen."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(self.root))


def cpu_times(proc: str = "/proc") -> dict:
    """Host-wide iowait and steal seconds from the ``cpu`` line of
    ``/proc/stat``."""
    with open(f"{proc}/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return {"iowait_s": int(fields[5]) / TICK, "steal_s": int(fields[8]) / TICK}


def host_noise(before: dict, after: dict) -> dict:
    """Noise record for one run: stored with the result, never gating it."""
    return {
        "loadavg": os.getloadavg(),
        "iowait_s": round(after["iowait_s"] - before["iowait_s"], 2),
        "steal_s": round(after["steal_s"] - before["steal_s"], 2),
        "cpu_affinity": sorted(os.sched_getaffinity(0)),
    }
