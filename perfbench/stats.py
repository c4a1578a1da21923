"""Summary statistics and process readings from /proc."""

from __future__ import annotations

import math
import os
import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when it would not lie above the median."""
    if n <= 0:
        return None
    q = 100 * (n - beyond) // n
    return q if q > 50 else None


def percentile(xs: list[float], q: int) -> float:
    """The ``q``-th percentile, linearly interpolated between samples."""
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def per_kind_medians(samples: list[tuple[str, float]]) -> dict[str, float]:
    by_kind: dict[str, list[float]] = {}
    for kind, s in samples:
        by_kind.setdefault(kind, []).append(s)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def summarize(samples: list[tuple[str, float]]) -> dict:
    """Latency summary of (op kind, seconds) samples.

    ``typical`` is the geometric mean over op kinds of each kind's
    median: it weighs every kind of a mix alike however many of each a
    run completed, and it averages over the kinds, where a pooled median
    would jump between them. ``p50``, ``tail`` (by
    :func:`tail_percentile`) and ``n`` are over all samples pooled."""
    xs = [s for _, s in samples]
    out: dict = {"n": len(xs)}
    if not xs:
        return out
    meds = per_kind_medians(samples)
    out["typical"] = math.exp(statistics.fmean(math.log(m) for m in meds.values()))
    out["p50"] = statistics.median(xs)
    q = tail_percentile(len(xs))
    if q is not None:
        out["tail_pct"] = q
        out["tail"] = percentile(xs, q)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds a process (all its threads) has used."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def load_per_cpu() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0]) / (os.cpu_count() or 1)
