"""Statistics, process-tree peak memory and the host CPU canary."""

from __future__ import annotations

import hashlib
import os
import statistics
import time

# A tail percentile from fewer samples than this is mostly noise (one
# slow sample moves it a whole rank), so it is not reported at all.
TAIL_MIN_SAMPLES = 100


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def percentile(values, q: float) -> float | None:
    """Nearest-rank percentile ``q`` (0-100), or None when there are too
    few samples for it: a median needs one sample, a tail percentile
    (q >= 90) needs TAIL_MIN_SAMPLES."""
    values = sorted(values)
    if not values or (q >= 90 and len(values) < TAIL_MIN_SAMPLES):
        return None
    if q == 50:
        return statistics.median(values)
    rank = max(1, -(-len(values) * q // 100))  # ceil(n*q/100), nearest-rank
    return values[int(rank) - 1]


def spread(values) -> dict:
    """Median, quartiles, IQR/median and (max-min)/median of run values."""
    values = sorted(values)
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    rel = (lambda x: x / med) if med else (lambda x: float("nan"))
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_rel": rel(q3 - q1),
        "range_rel": rel(values[-1] - values[0]),
    }


# Fixed single-threaded work of the host CPU canary: chained SHA-256 digests.
CANARY_ROUNDS = 300_000


def cpu_canary_ms() -> float:
    """Fixed single-threaded CPU work outside Spark, in ms. Recorded at
    the start and end of a run so a drifting host can be told apart
    from a code change; it is not a metric."""
    t0 = time.perf_counter()
    h = b"lakebench"
    for _ in range(CANARY_ROUNDS):
        h = hashlib.sha256(h).digest()
    return (time.perf_counter() - t0) * 1000.0


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    /proc/stat. The steal share between two readings is the time the
    hypervisor ran something else on this VM's CPUs."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident memory (VmHWM) of this process and of
    every live descendant (the JVM and its Python workers), read once.
    Each process's own peak counts, so this bounds the peak of the whole
    tree from above; workers that already exited are not counted."""
    return sum(_status_kb(p, "VmHWM:") for p in process_tree(os.getpid())) / 1024.0
