"""Summary statistics, memory sampling and host metadata."""

from __future__ import annotations

import os
import platform
import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it; p50
    when there are too few samples for any."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:  # tolerate float error at the boundary
            return p
    return 50.0


def summarize(values: list[float]) -> dict:
    """Median and tail of a timing series, with the tail's percentile
    and the sample count."""
    p = tail_percentile(len(values))
    return {
        "p50": statistics.median(values),
        "tail": percentile(values, p),
        "tail_pct": p,
        "n": len(values),
    }


def mix_throughput(samples: list[tuple[str, float]]) -> float:
    """Operations per second of a mix that runs every kind once: the
    number of kinds over the sum of each kind's median time. Per-kind
    medians keep a burst of load on a shared host from moving it, and a
    window that ends in the middle of a round does not tilt the mix."""
    by_kind: dict[str, list[float]] = {}
    for kind, seconds in samples:
        by_kind.setdefault(kind, []).append(seconds)
    if not by_kind:
        return 0.0
    return len(by_kind) / sum(statistics.median(v) for v in by_kind.values())


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        c = todo.pop()
        if c not in out:
            out.append(c)
            todo += _children(c)
    return out


def tree_cpu_s() -> float:
    """User plus system CPU time of this process and its descendants
    (with the children each of them has reaped), in seconds."""
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def rss_peak_mb() -> float:
    """Peak resident set (VmHWM) of this Python process plus its JVM
    descendants, in MiB."""
    me = os.getpid()
    jvms = [pid for pid in _descendants(me) if _comm(pid) == "java"]
    return sum(_status_kb(pid, "VmHWM") for pid in [me] + jvms) / 1024.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (the `steal` column of /proc/stat), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_metadata(spark_version: str | None = None) -> dict:
    """Recorded with every run, never used as a gate."""
    import bench  # the repository's bench of record, for its CPU probe

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "cpu_probe_s": bench._cpu_probe(),
        "python": platform.python_version(),
        "spark": spark_version,
    }
