"""Latency summaries and the percentile-placement self-check."""

from __future__ import annotations

import statistics

MIN_BEYOND = 10  # samples that must lie above the reported tail


def tail_rank(n: int) -> int:
    """0-based rank of the highest order statistic with at least
    ``MIN_BEYOND`` samples above it.  A run too short for that to lie
    above the median reports the median rank instead (the output states
    the percentile used)."""
    return max(n - 1 - MIN_BEYOND, (n - 1) // 2)


def summarize(samples: list[tuple[str, float]], tol: dict[str, float]) -> dict:
    """p50 and tail of ``(entry, seconds)`` samples from a mix of entries.

    In a mix, latencies form one band per entry.  A rank that sits on
    the gap between two bands that do not overlap flips between them from
    run to run, moving the value by the whole gap.  The check looks at
    the samples one rank either side of each reported rank: if two
    neighbours there belong to entries with disjoint bands and the gap
    between them exceeds the metric's tolerance (its regression bound),
    the placement is unstable and the run fails its self-check.
    """
    ranked = sorted(samples, key=lambda s: s[1])
    n = len(ranked)
    out: dict = {"n": n, "checks": {}}
    if n == 0:
        return out
    vals = [v for _, v in ranked]
    bands: dict[str, list[float]] = {}
    for e, v in ranked:
        bands.setdefault(e, []).append(v)
    out["p50"] = statistics.median(vals)
    lo, hi = (n - 1) // 2 - 1, n // 2 + 1  # around the one or two middle samples
    out["checks"]["latency_p50_s"] = _placement(ranked, bands, lo, hi, out["p50"], tol["latency_p50_s"])
    r = tail_rank(n)
    out["tail"] = vals[r]
    out["tail_pct"] = round(100.0 * (r + 1) / n, 1)
    out["tail_beyond"] = n - 1 - r
    out["checks"]["latency_tail_s"] = _placement(ranked, bands, r - 1, r + 1, vals[r], tol["latency_tail_s"])
    return out


def _placement(ranked, bands, lo: int, hi: int, value: float, tol: float) -> dict:
    window = ranked[max(lo, 0) : min(hi, len(ranked) - 1) + 1]
    gap = 0.0
    for (a, x), (b, y) in zip(window, window[1:]):
        if a != b and max(bands[a]) < min(bands[b]):
            gap = max(gap, (y - x) / value)
    return {
        "entries": sorted({e for e, _ in window}),
        "gap": round(gap, 4),
        "ok": gap <= tol,
    }


def median_or_zero(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
