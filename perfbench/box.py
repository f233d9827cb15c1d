"""What else the machine was doing, and how much memory the run used."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            head, _, tail = fh.read().rpartition(")")
    except OSError:
        return None
    return [head.split("(", 1)[-1]] + tail.split()


def snapshot(exclude: set[int]) -> dict:
    """Load average, CPU count and the other processes running now
    (state R), by command name, so a contaminated run shows in its JSON."""
    running: dict[str, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in exclude:
            continue
        st = _stat(pid)
        if st and len(st) > 1 and st[1] == "R":
            running[st[0]] = running.get(st[0], 0) + 1
    return {
        "loadavg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "other_running_procs": sum(running.values()),
        "other_running_by_name": running,
    }


def cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks since boot, from the first line of
    ``/proc/stat``: user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def stolen_fraction(before: list[int], after: list[int]) -> float:
    """Between two ``cpu_ticks`` readings, the share of the time the
    machine had work to run (busy or stolen ticks, not idle) that the
    hypervisor gave to other guests instead. On a shared host this is
    the part of a slow interval that is not the program's doing; it is 0
    on a machine of its own."""
    d = [b - a for a, b in zip(before, after)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _stat(p)
            if st and len(st) > 2:
                children.setdefault(int(st[2]), []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid() -> int | None:
    """The Spark driver JVM started by this process."""
    for pid in descendants(os.getpid()):
        st = _stat(str(pid))
        if st and st[0] == "java":
            return pid
    return None


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Samples RSS of this process plus its JVM child every ``period``
    seconds on a background thread and keeps the peak."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak = 0
        self.samples = 0
        self._pids = [os.getpid()]
        jvm = jvm_pid()
        if jvm is not None:
            self._pids.append(jvm)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def has_jvm(self) -> bool:
        return len(self._pids) == 2

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(rss_bytes(p) for p in self._pids))
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False
