"""The benchmark's own arithmetic, kept free of Spark so it can be
tested in isolation (``python3 perfbench/selftest.py``)."""

from __future__ import annotations

import math
import os
import re
import stat
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples, q: float = 0.9, beyond: int = 10) -> tuple[float, float, int]:
    """The ``q`` percentile of ``samples``, or — when fewer than
    ``beyond`` samples lie above it — the highest percentile that still
    has ``beyond`` samples above it. That percentile is never taken
    below the median: a run too small to have ``beyond`` samples above
    its median reports its maximum. Returns ``(value, percentile, n)``
    so every report can state which percentile it is and over how many
    samples (nearest-rank percentiles on the sorted samples)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(math.ceil(q * n), 1)  # 1-based nearest rank
    rank = min(rank, n - beyond)
    if rank < math.ceil(0.5 * n):
        return float(xs[-1]), 1.0, n
    return float(xs[rank - 1]), rank / n, n


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (children may overlap each other or stick out of the
    parent; only their union inside the parent counts)."""
    lo, hi = span
    covered = 0.0
    cur_lo = cur_hi = None
    for c_lo, c_hi in sorted((max(a, lo), min(b, hi)) for a, b in children):
        if c_hi <= c_lo:
            continue
        if cur_hi is None or c_lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = c_lo, c_hi
        else:
            cur_hi = max(cur_hi, c_hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def attribute_jobs(jobs, spans) -> tuple[dict, list]:
    """Assign Spark jobs to spans.

    ``jobs``: iterable of ``(job_id, group, submitted)``; ``spans``:
    iterable of ``(span_id, group, start, end, depth)`` on the same
    clock as ``submitted``. A job whose group names a span belongs to
    it. A job without a known group — one submitted from a thread that
    did not inherit the group, such as a ``ThreadPoolExecutor`` worker —
    belongs to the deepest span whose window contains its submission
    time. Returns ``({job_id: span_id}, [unattributed job ids])``."""
    spans = list(spans)
    by_group = {g: sid for sid, g, _, _, _ in spans}
    out: dict = {}
    lost: list = []
    for job_id, group, submitted in jobs:
        sid = by_group.get(group)
        if sid is None:
            inside = [s for s in spans if s[2] <= submitted <= s[3]]
            if inside:
                sid = max(inside, key=lambda s: (s[4], s[2]))[0]
        if sid is None:
            lost.append(job_id)
        else:
            out[job_id] = sid
    return out, lost


def tree_bytes(*roots: str) -> int:
    """Bytes of the regular files under ``roots``, each inode counted
    once — what the files occupy, however many hard links name them
    (missing roots count 0)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                st = os.lstat(os.path.join(dirpath, f))
                if stat.S_ISREG(st.st_mode) and (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
    return total


def stored_bytes_per_user_byte(store_roots, user_bytes: int) -> float:
    """Bytes under the store roots divided by the parquet bytes of the
    generated batches written into them."""
    if user_bytes <= 0:
        raise ValueError("no user bytes")
    return tree_bytes(*store_roots) / user_bytes


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str | None) -> float:
    """A SQL metric as the status store renders it, in base units
    (bytes, seconds or a plain count). Stage-aggregated values render
    as ``total (min, med, max ...)\\n<total> (...)``; the total is what
    counts."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)
