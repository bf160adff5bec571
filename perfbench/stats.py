"""Small, dependency-free statistics and filesystem helpers."""

from __future__ import annotations

import math
import os
import statistics


def percentile(values: list[float], q: float) -> dict:
    """Nearest-rank percentile of `values` (0 < q <= 100).

    Returns {"value", "n", "beyond"}: the sample at rank ceil(q/100 * n),
    the sample count, and how many samples rank above it. A percentile
    is only worth reporting when `beyond` is at least 10; callers print
    `n` and `beyond` next to the value so a reader can judge it."""
    if not 0 < q <= 100:
        raise ValueError(f"percentile q must be in (0, 100], got {q}")
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"value": None, "n": 0, "beyond": 0}
    rank = max(1, math.ceil(q / 100 * n))
    return {"value": xs[rank - 1], "n": n, "beyond": n - rank}


def median(values: list[float], default: float = 0.0) -> float:
    return statistics.median(values) if values else default


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under `path`, counting each inode once
    (compaction carries clean buckets forward as hard links)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.lstat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total
