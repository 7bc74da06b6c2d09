"""Host readings from /proc: CPU steal, memory high-water marks, and the
process tree the benchmark starts (the Spark JVM and its Python workers)."""

from __future__ import annotations

import os
import signal
import time


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, as integers."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Stolen share of busy CPU time between two :func:`cpu_jiffies` reads.

    Fields: user nice system idle iowait irq softirq steal guest guest_nice.
    Guest time is already counted inside user/nice, so it is taken out of
    busy time; kernels that report fewer than eight fields have no steal.
    """
    d = [b - a for a, b in zip(before, after)]
    if len(d) < 8:
        return 0.0
    busy = sum(d) - d[3] - d[4]  # minus idle and iowait
    if len(d) >= 10:
        busy -= d[8] + d[9]
    elif len(d) == 9:
        busy -= d[8]
    return 100.0 * d[7] / busy if busy > 0 else 0.0


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, parent pid, start time in clock ticks) of ``pid``, or None
    if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return fields[0], int(fields[1]), int(fields[19])


def seconds_since_start() -> float:
    """Seconds since this process started."""
    stat = _stat(os.getpid())
    return time.clock_gettime(time.CLOCK_BOOTTIME) - stat[2] / os.sysconf("SC_CLK_TCK")


def descendants() -> dict[int, int]:
    """pid -> start ticks of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    starts: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _stat(int(name))
        if stat is not None:
            children.setdefault(stat[1], []).append(int(name))
            starts[int(name)] = stat[2]
    out: dict[int, int] = {}
    todo = [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), []):
            out[child] = starts[child]
            todo.append(child)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / 1e6
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def wait_gone(procs: dict[int, int], timeout: float) -> None:
    """Wait until every process in ``procs`` (pid -> start ticks) has ended;
    SIGKILL the ones still alive after ``timeout`` seconds and wait again."""

    def alive() -> list[int]:
        out = []
        for pid, start in procs.items():
            stat = _stat(pid)
            # a reused pid has another start time; a zombie has ended
            if stat is not None and stat[2] == start and stat[0] != "Z":
                out.append(pid)
        return out

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while alive():
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still alive: {alive()}")
        time.sleep(0.1)

