"""Summary statistics and process memory readings for the benchmark."""

from __future__ import annotations

import hashlib
import math
import os

#: Percentiles a report may name, highest last.
PERCENTILES = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest percentile in PERCENTILES that has at least MIN_BEYOND
    samples beyond it, with its value; None when even the median lacks
    that many (fewer than 2 * MIN_BEYOND samples)."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            best = p
    if best is None:
        return None
    return best, percentile(values, best)


def rows_digest(rows, columns) -> str:
    """Order-insensitive fingerprint of a result: the parity module's
    canonical sorted rows, hashed."""
    from gtec_etl_spark.parity import normalize

    h = hashlib.sha256()
    for row in normalize(rows, list(columns)):
        h.update(repr(row).encode())
    return h.hexdigest()


def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, in MB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak RSS of a process and all its live descendants (the
    benchmark's Python process plus its JVM and any Python workers)."""
    root = os.getpid() if root is None else root
    children = _proc_children()
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += vm_hwm_mb(pid)
        todo.extend(children.get(pid, []))
    return total
