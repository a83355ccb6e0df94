"""Pure helpers of the benchmark: sample summaries, digests, interval
unions and Spark metric-string parsing. No Spark import, so the tests run
without a JVM."""

from __future__ import annotations

import hashlib
import re
import statistics

# Percentiles a summary may report, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest percentile in TAIL_PERCENTILES with at least MIN_BEYOND of
    ``n`` samples beyond it, or None when ``n`` is too small for any."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count and the tail percentile the count supports."""
    if not values:
        raise ValueError("no samples to summarize")
    out = {"median": statistics.median(values), "n": len(values)}
    p = tail_percentile(len(values))
    if p is not None:
        ordered = sorted(values)
        # nearest-rank percentile
        rank = max(1, -(-len(ordered) * p // 100))
        out[f"p{p:g}"] = ordered[int(rank) - 1]
    return out


def digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) of an iterable of tuples;
    each field is rendered with ``str``."""
    lines = sorted("\x1f".join(str(f) for f in row) for row in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "PiB": 2.0 ** 50,
}
_VALUE = re.compile(r"^\s*(-?[\d.]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a Spark SQL metric as the status store formats it, in
    seconds for timings and bytes for sizes. Accepts both the bare form
    ("0 ms") and the per-task form whose second line starts with the total
    ("total (min, med, max ...)\\n5.6 s (1.4 s, ...)")."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable metric value {text!r}")
    value, unit = float(m.group(1)), m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return value * _UNITS.get(unit, 1.0)
