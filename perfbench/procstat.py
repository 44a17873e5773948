"""CPU time and resident memory of this process's tree, read from /proc.

The tree is this Python process (the PySpark driver), the JVM it launched
and the Python worker daemon and workers the JVM forks. Spark's own
``executorCpuTime`` misses the Python workers, so CPU is summed here.

CPU per process is utime + stime + cutime + cstime: a worker that exits
between two readings has its time folded into its parent's cutime (the
daemon reaps its workers), so the difference of two tree totals stays
right across worker churn.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[float, int] | None:
    """(cpu seconds incl. reaped children, rss bytes) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # the process exited
        return None
    # comm (field 2) may hold spaces; every later field follows its ")"
    fields = raw[raw.rindex(b")") + 2 :].split()
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return cpu, int(fields[21]) * _PAGE


def _rss(pid: int) -> int:
    """Resident bytes of ``pid``, 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _children(pid: int) -> list[int]:
    """Direct children of ``pid``, from its threads' ``children`` lists."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process exited
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:  # the thread exited
            pass
    return out


def tree(root: int | None = None) -> dict[int, tuple[float, int]]:
    """{pid: (cpu seconds, rss bytes)} for ``root`` and its descendants."""
    out, todo = {}, [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        st = _stat(pid)
        if st is not None:
            out[pid] = st
            todo.extend(_children(pid))
    return out


def tree_cpu_s() -> float:
    return sum(cpu for cpu, _ in tree().values())


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: the share
    a hypervisor gave to other guests, to judge how noisy a run was."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class RssSampler:
    """Samples, on a background thread, the RSS of the JVM and the summed
    RSS of the other processes under this one (the Python worker daemon and
    workers), keeping the peak of each. The process tree is walked once a
    second; in between only the RSS of the processes found is read, every
    50 ms (the workers are long-lived: the daemon reuses them). The
    sampler's own CPU time is kept in ``cpu_s``. Use as a context manager."""

    INTERVAL_S = 0.05
    WALK_S = 1.0

    def __init__(self):
        self.peak_jvm_bytes = 0
        self.peak_workers_bytes = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        t0 = time.thread_time()
        procs: dict[int, bool] = {}  # pid -> is a JVM
        walked = float("-inf")
        while not self._stop.is_set():
            if time.monotonic() - walked >= self.WALK_S:
                walked = time.monotonic()
                procs = {
                    pid: procs[pid] if pid in procs else _comm(pid) == "java"
                    for pid in tree(me) if pid != me
                }
            jvm = workers = 0
            for pid, is_jvm in procs.items():
                rss = _rss(pid)
                if is_jvm:
                    jvm += rss
                else:
                    workers += rss
            self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
            self.peak_workers_bytes = max(self.peak_workers_bytes, workers)
            self.cpu_s = time.thread_time() - t0
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
