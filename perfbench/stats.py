"""Pure aggregation helpers of the benchmark (no Spark, no I/O)."""

from __future__ import annotations

import math
import statistics

#: the tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def op_medians(samples: list[tuple[str, float]]) -> dict[str, float]:
    """op -> median latency over that op's samples."""
    by_op: dict[str, list[float]] = {}
    for op, secs in samples:
        by_op.setdefault(op, []).append(secs)
    return {op: statistics.median(v) for op, v in by_op.items()}


def tail_ratio(samples: list[tuple[str, float]]) -> dict:
    """Tail latency relative to each op's own median.

    Every sample becomes ``latency / median(latency of its op)``. Of
    those ratios, the result is the one at the highest percentile that
    still has at least ``TAIL_MIN_BEYOND`` samples strictly beyond it:
    with ``n`` sorted ratios that is index ``n - 1 - TAIL_MIN_BEYOND``,
    i.e. percentile ``100 * (n - TAIL_MIN_BEYOND) / n``. With too few
    samples for any such percentile the median ratio (p50) is reported
    instead, and ``percentile`` says so.
    """
    med = op_medians(samples)
    ratios = sorted(secs / med[op] for op, secs in samples)
    n = len(ratios)
    if n > TAIL_MIN_BEYOND:
        idx = n - 1 - TAIL_MIN_BEYOND
        pct = 100.0 * (idx + 1) / n
        return {"value": ratios[idx], "percentile": pct, "samples": n}
    return {"value": statistics.median(ratios), "percentile": 50.0, "samples": n}


def span_self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the durations of its direct children.

    A span is a dict with ``id``, ``parent`` (an id or None), ``start``
    and ``end``. Children that overlap each other are merged first, so
    self time never counts one instant twice and never goes negative.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
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
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out
