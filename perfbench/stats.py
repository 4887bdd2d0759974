"""Small measurement helpers that need no Spark: percentiles and the
sample rule, bytes written counted by (inode, mtime), and host noise."""

from __future__ import annotations

import os
import statistics

PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported_percentile(n: int) -> float | None:
    """The highest of :data:`PERCENTILES` with at least ten of ``n``
    samples beyond it, or ``None`` when even the median has fewer."""
    ok = [p for p in PERCENTILES if n * (100.0 - p) / 100.0 >= 10 - 1e-9]
    return max(ok) if ok else None


def median(values: list[float]) -> float:
    return statistics.median(values)


class NewBytes:
    """Bytes of files that appeared since the last call, under some roots.

    A file is identified by (device, inode, mtime): a hard-linked carry
    shares all three with its source and is not counted again, while a
    rewrite, even one reusing a freed inode number, is."""

    def __init__(self, *roots: str):
        self.roots = roots
        self.seen: set[tuple[int, int, int]] = set()

    def scan(self) -> int:
        new = 0
        for root in self.roots:
            for d, _dirs, files in os.walk(root):
                for fn in files:
                    try:
                        st = os.stat(os.path.join(d, fn))
                    except FileNotFoundError:
                        continue  # removed by version GC mid-walk
                    key = (st.st_dev, st.st_ino, st.st_mtime_ns)
                    if key not in self.seen:
                        self.seen.add(key)
                        new += st.st_size
        return new


def steal_seconds() -> float:
    """Host-wide CPU steal time so far, from ``/proc/stat`` (0 when the
    kernel does not report it)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))
