"""Host facts the benchmark reports next to its metrics, so a reader can
tell a host swing from a code change: core count, memory, the heap the
JVM is given, CPU steal/iowait over the timed phase, a sha256 calibration
at the run's parallelism, and the peak resident memory of the whole
process tree."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_CALIBRATE = r"""
import hashlib, sys, time
buf = b"x" * 4096
end = time.perf_counter() + float(sys.argv[1])
n = 0
while time.perf_counter() < end:
    hashlib.sha256(buf).digest()
    n += 1
print(n / float(sys.argv[1]) / 1e6)
"""


def meminfo_kb(path: str = "/proc/meminfo") -> dict[str, int]:
    out = {}
    with open(path) as fh:
        for line in fh:
            name, rest = line.split(":", 1)
            out[name] = int(rest.split()[0])
    return out


def heap_mb(mem_total_kb: int) -> int:
    """Driver heap: an eighth of physical memory, between 1 and 8 GiB.
    Local mode runs everything in this one JVM, and the workloads' state
    is a few hundred MB; the rest of memory is left to the Python workers,
    the page cache and other tenants."""
    return max(1024, min(8192, mem_total_kb // 1024 // 8))


def cpu_ticks(path: str = "/proc/stat") -> dict[str, int]:
    with open(path) as fh:
        fields = fh.readline().split()
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal"]
    return {n: int(v) for n, v in zip(names, fields[1:9])}


def steal_iowait_s(before: dict[str, int], after: dict[str, int]) -> dict:
    hz = os.sysconf("SC_CLK_TCK")
    return {k + "_s": (after[k] - before[k]) / hz for k in ("steal", "iowait")}


def calibrate(n_procs: int, seconds: float = 0.3) -> dict:
    """sha256 Mhash/s per process with ``n_procs`` hashing at once."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _CALIBRATE, str(seconds)],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(n_procs)
    ]
    rates = sorted(float(p.communicate()[0]) for p in procs)
    return {"procs": n_procs, "mhash_per_s_min": round(rates[0], 3),
            "mhash_per_s_max": round(rates[-1], 3)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pss_kb(root_pid: int) -> int:
    """Proportional set size summed over ``root_pid`` and its descendants.
    Python workers are forked from one daemon and share most pages; PSS
    counts a shared page once across the tree, where summed RSS would
    count it in every worker."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(line.split()[1]) for line in fh
                              if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total


class PeakMemorySampler:
    """Samples the resident memory of this process and all descendants
    (JVM, Python workers; see ``tree_pss_kb``) on a background thread;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
