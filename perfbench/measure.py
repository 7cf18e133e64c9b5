"""Statistics and host/process probes shared by every workload.

Timings are summarised as a median plus a tail: the highest percentile that
still has at least ``TAIL_BEYOND`` samples above it, reported with that
percentile and the sample count. Resource use comes from ``/proc`` (no
psutil): peak RSS is ``VmHWM`` and CPU is ``utime + stime`` summed over the
benchmark process, the Spark JVM and the JVM's Python worker processes.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import statistics
import threading
import time

#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: list[float]) -> dict | None:
    """Highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    With ``n`` sorted samples that is the ``n - TAIL_BEYOND``-th smallest
    (1-based): exactly ``TAIL_BEYOND`` samples are larger. Returns the value,
    its percentile and ``n``, or None when there are too few samples for
    any percentile above zero.
    """
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(values)
    k = n - TAIL_BEYOND  # 1-based rank of the tail sample
    return {
        "value": ordered[k - 1],
        "percentile": round(100.0 * k / n, 2),
        "samples": n,
    }


def summary(values: list[float]) -> dict:
    """Median, tail and count of one timing series (None when empty)."""
    return {"median": median(values), "tail": tail(values), "samples": len(values)}


# -- /proc probes -----------------------------------------------------------


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return None


def _parent_map() -> dict[int, list[int]]:
    """ppid -> child pids for every live process."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        text = _read(f"/proc/{entry}/stat")
        if text:
            ppid = int(text[text.rindex(")") + 2 :].split()[1])
            kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(roots: list[int]) -> list[int]:
    """``roots`` plus every live descendant, each pid once."""
    kids = _parent_map()
    seen: list[int] = []
    stack = list(roots)
    while stack:
        pid = stack.pop()
        if pid in seen or not os.path.isdir(f"/proc/{pid}"):
            continue
        seen.append(pid)
        stack.extend(kids.get(pid, []))
    return seen


def vm_hwm_mb(pid: int) -> float:
    text = _read(f"/proc/{pid}/status") or ""
    m = re.search(r"^VmHWM:\s+(\d+)\s+kB", text, re.MULTILINE)
    return int(m.group(1)) / 1024.0 if m else 0.0


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` plus the reaped children it waited for."""
    text = _read(f"/proc/{pid}/stat")
    if not text:
        return 0.0
    # the command name may contain spaces; fields resume after the last ')'
    fields = text[text.rindex(")") + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return (utime + stime + cutime + cstime) / _CLK_TCK


class TreeProbe:
    """CPU and peak-RSS readings over the benchmark process, the JVM and the
    JVM's Python workers."""

    def __init__(self, roots: list[int]) -> None:
        self.roots = roots

    def pids(self) -> list[int]:
        return process_tree(self.roots)

    def cpu_s(self) -> float:
        return sum(cpu_seconds(p) for p in self.pids())

    def peak_rss_parts(self) -> dict[str, float]:
        """Peak RSS of the benchmark process, of the JVM and of the JVM's
        descendants (the Python workers)."""
        python, jvm = self.roots
        workers = [p for p in self.pids() if p not in self.roots]
        return {
            "python": vm_hwm_mb(python),
            "jvm": vm_hwm_mb(jvm),
            "workers": sum(vm_hwm_mb(p) for p in workers),
        }


# -- host load ----------------------------------------------------------------


def loadavg() -> list[float]:
    text = _read("/proc/loadavg") or "0 0 0"
    return [float(x) for x in text.split()[:3]]


def cpu_probe() -> dict:
    """Fixed sha256 work, timed on every core and on one thread.

    The same probe as the repository bench's ``cpu_probe``: hashlib releases
    the GIL on large updates, so the threaded variant occupies every core.
    Co-tenant load inflates the threaded figure while leaving the
    single-thread one near its floor; a disagreeing pair of runs can be read
    against these numbers.
    """
    buf = b"\x00\x01\x02\x03" * 262144  # 1 MiB

    def hash_mb(n_mb: int) -> None:
        h = hashlib.sha256()
        for _ in range(n_mb):
            h.update(buf)
        h.hexdigest()

    threads = [
        threading.Thread(target=hash_mb, args=(64,))
        for _ in range(os.cpu_count() or 1)
    ]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    all_cores = time.perf_counter() - t0
    t0 = time.perf_counter()
    hash_mb(256)
    one_thread = time.perf_counter() - t0
    return {
        "loadavg": loadavg(),
        "probe_all_cores_s": round(all_cores, 4),
        "probe_one_thread_s": round(one_thread, 4),
    }


def finite_or_none(value: float | None) -> float | None:
    if value is None or not math.isfinite(value):
        return None
    return value


class Phase:
    """What one timed phase measured: latency series by name, op counts,
    failures, and CPU and peak RSS of the process tree."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.cpu_s = 0.0
        self.wall_s = 0.0
        self.peak_rss_mb = 0.0
        self.rss_parts: dict[str, float] = {}

    def add(self, series: str, seconds: float) -> None:
        self.samples.setdefault(series, []).append(seconds)

    def fail(self, series: str | None, message: str) -> None:
        """A failed or wrong op misses every latency limit: it enters its
        series as an infinite sample."""
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(message[:300])
        if series is not None:
            self.add(series, math.inf)

    def series(self, name: str) -> list[float]:
        return self.samples.get(name, [])

    def latencies(self) -> list[float]:
        """Every op latency sample, whatever its kind."""
        return [v for k, vs in self.samples.items() if k.startswith("latency.") for v in vs]

    def typical_latency(self) -> float | None:
        """Geometric mean over op kinds of each kind's median latency.

        Kinds differ several-fold (a 4-way join against a 25-row lookup), so
        a median pooled over the mix falls in the gap between two kinds and
        jumps with every reshuffle; each kind's median is steady, and the
        geometric mean weighs every kind alike."""
        medians = [
            statistics.median(vs)
            for k, vs in self.samples.items()
            if k.startswith("latency.") and vs
        ]
        if not medians:
            return None
        if not all(math.isfinite(m) and m > 0 for m in medians):
            return math.inf
        return math.exp(statistics.fmean(math.log(m) for m in medians))
