"""Host facts read from the OS: process age, worker RSS, CPU ceiling."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time


def process_age_s(pid: int | str = "self") -> float:
    """Seconds since process ``pid`` was started, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        # field 22 (starttime, clock ticks since boot); the command name
        # in field 2 may hold spaces, so split after its closing paren
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks over all CPUs since boot, from
    /proc/stat: steal is time the hypervisor ran something else while
    a CPU of the host was ready to run."""
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal ...
        t = [int(v) for v in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


_BUSY = """import time
def busy(dur):
    n = 0
    end = time.perf_counter() + dur
    while time.perf_counter() < end:
        for _ in range(10_000):
            n += 1
    return n
print(busy({dur}))
"""


def busyloop_ceiling(nproc: int, dur: float = 0.5) -> float:
    """Aggregate pure-Python loop rate (M ops/s) over ``nproc`` processes:
    how fast this host is right now, independent of the program."""
    procs = [subprocess.Popen([sys.executable, "-c", _BUSY.format(dur=dur)],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(nproc)]
    total = sum(int(p.communicate(timeout=60)[0]) for p in procs)
    return total / dur / 1e6


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, ()):
            out.append(k)
            todo.append(k)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_workers(jvm_pid: int) -> list[int]:
    """Python worker processes (the pyspark daemon and its forks) under
    the Spark JVM."""
    out = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(pid)
    return out


class WorkerRssSampler:
    """Polls /proc while running and keeps the largest peak RSS (VmHWM)
    of any Python worker under the Spark JVM."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for pid in python_workers(self.jvm_pid):
            self.peak_kb = max(self.peak_kb, _status_kb(pid, "VmHWM:"))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> WorkerRssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
