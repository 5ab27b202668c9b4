"""Memory and CPU of the benchmark's process tree, read from /proc.

The tree is this process and every process it started: the driver JVM and
the Python workers the JVM forks.  CPU figures leave out time the
hypervisor gave to other guests (steal): the guest kernel keeps steal out
of every task's run time, so on a shared host a CPU figure moves with the
engine's work while a wall time also moves with the neighbours' load.
"""

from __future__ import annotations

import os
import threading
import time

TICKS = os.sysconf("SC_CLK_TCK")


def tree() -> dict[int, list[str]]:
    """pid → the fields of /proc/<pid>/stat after the command name, for
    every live process descended from this one (this one excluded), with
    the command name appended last."""
    stat = {}
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue  # exited between listdir and open
        fields = tail.split()
        stat[int(d)] = fields + [head.split("(", 1)[1]]
        parent[int(d)] = int(fields[1])
    me = os.getpid()
    out = {}
    for pid in stat:
        p = parent[pid]
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            out[pid] = stat[pid]
    return out


class CpuClock:
    """CPU seconds used so far, without the memory sampler's thread.

    ``driver()`` counts this process alone, at nanosecond resolution: the
    serving path (``search_local``) runs in it, pyarrow's threads included.
    ``tree()`` adds the driver JVM and the Python workers, at the kernel's
    tick resolution, and the workers that have exited and been reaped."""

    def __init__(self, sampler: threading.Thread):
        self._skip = time.pthread_getcpuclockid(sampler.ident)

    def driver(self) -> float:
        return time.process_time() - time.clock_gettime(self._skip)

    def tree(self) -> float:
        # utime, stime, cutime, cstime are fields 14-17 of stat, 12-15 here
        ticks = sum(int(x) for f in tree().values() for x in f[11:15])
        return self.driver() + ticks / TICKS


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants, sampled
    from /proc: in total and split into the driver JVM, this (driver Python)
    process and the Python workers.  Each process counts its proportional
    share (PSS): the workers are forked from one daemon and share most of
    their pages, so summing plain RSS would count those pages once per
    worker alive at the sample."""

    PARTS = ("total", "jvm", "driver", "workers")

    def __init__(self, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_mb = dict.fromkeys(self.PARTS, 0.0)
        self._done = threading.Event()

    def sample(self) -> dict[str, float]:
        out = dict.fromkeys(self.PARTS, 0.0)
        procs = {pid: f[-1] for pid, f in tree().items()}
        procs[os.getpid()] = "driver"
        for pid, comm in procs.items():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            part = "driver" if pid == os.getpid() else "jvm" if comm == "java" else "workers"
            out[part] += pss_kb / 1024
            out["total"] += pss_kb / 1024
        return out

    def run(self):
        while not self._done.is_set():
            for part, mb in self.sample().items():
                self.peak_mb[part] = max(self.peak_mb[part], mb)
            self._done.wait(self.period_s)

    def stop(self) -> dict[str, float]:
        self._done.set()
        self.join()
        return self.peak_mb
