"""Pure helpers the benchmark's figures rest on (no Spark, unit-tested
in ``perfbench/tests``): percentiles, the per-kind latency median,
span self time and the segment→epoch freshness join."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is only reported where at least this many samples
#: lie beyond it, so one outlier cannot set it
MIN_BEYOND = 10


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def supported_percentile(n: int, want: float = 90.0, beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile <= ``want`` whose nearest-rank sample
    leaves at least ``beyond`` samples above it, or None when ``n`` is
    too small for any."""
    if n <= beyond:
        return None
    # nearest rank r leaves n - r samples beyond; r = n - beyond is the
    # highest allowed rank, and floor keeps ceil(p * n) from exceeding it
    return min(want, math.floor(100.0 * (n - beyond) / n))


def tail(samples: list[float], want: float = 90.0) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest supported tail percentile."""
    p = supported_percentile(len(samples), want)
    return (p, percentile(samples, p)) if p is not None else (None, None)


def kind_median(by_kind: dict[str, list[float]]) -> float:
    """The geometric mean, over request kinds, of each kind's median.

    Every kind weighs the same, whatever its speed or count: doubling
    one kind's latencies out of ``k`` kinds scales the result by
    2^(1/k). A median over the pooled samples would instead sit on
    whichever kind holds its middle rank and miss a change in any
    other."""
    meds = [percentile(xs, 50) for xs in by_kind.values() if xs]
    if not meds:
        raise ValueError("kind_median of no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def quartile_spread(values: list[float]) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median) as ``statistics.quantiles``
    gives them — the steadiness test the benchmark is held to."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, ((q3 - q1) / med if med else math.inf)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once). Spans are dicts with ``id``, ``parent``, ``start``
    and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def freshness(
    segments: list[tuple[int, int, float]], epochs: list[tuple[int, int, float]]
) -> list[float | None]:
    """Per segment, seconds from its due release to the return of the
    epoch whose lsn span covers it.

    ``segments``: (lsn_lo, lsn_hi, due_time) per released segment;
    ``epochs``: (span_lo, span_hi, return_time) per applied epoch. A
    segment nobody applied gets None (the caller counts it as failed)."""
    out: list[float | None] = []
    for lo, hi, due in segments:
        done = [t for a, b, t in epochs if a <= lo and hi <= b]
        out.append(min(done) - due if done else None)
    return out
