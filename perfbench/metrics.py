"""Metric math shared by the workloads and the traced run.

Everything here is pure Python over plain numbers so it can be tested
without Spark (``test_metrics.py``).
"""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile of an ascending list; also returns how many
    samples lie beyond (after) the chosen rank."""
    n = len(sorted_values)
    # round() first: 99.9 / 100 * 10000 is 9990.000000000002 in floats.
    rank = max(1, math.ceil(round(pct / 100.0 * n, 9)))
    return sorted_values[rank - 1], n - rank


def tail(values: list[float]) -> dict:
    """The highest percentile of ``TAIL_LADDER`` with at least
    ``TAIL_MIN_BEYOND`` samples beyond it.

    With fewer than 20 samples no rung qualifies; the maximum is then
    reported as percentile 100 so the metric still exists, and the
    sample count says how little it rests on."""
    s = sorted(values)
    for pct in TAIL_LADDER:
        v, beyond = nearest_rank(s, pct)
        if beyond >= TAIL_MIN_BEYOND:
            return {"value": v, "pct": pct, "n": len(s), "beyond": beyond}
    return {"value": s[-1], "pct": 100.0, "n": len(s), "beyond": 0}


def median(values: list[float]) -> float:
    return statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the union of its children (clipped to it)."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def due_count(schedule: list, t: float) -> int:
    """Messages due ``t`` seconds into an open loop whose offered rate
    follows ``schedule``: consecutive ``(rate, seconds)`` segments. A
    segment ``(n, 0)`` is a burst: ``n`` messages due at once."""
    n = 0
    for rate, dur in schedule:
        if t < 0:
            break
        n += int(rate) if dur == 0 else int(rate * min(t, dur))
        t -= dur
    return n


def due_time(schedule: list, i: int) -> float:
    """Seconds into the loop at which message ``i`` falls due: when
    :func:`due_count` first reaches ``i + 1``."""
    start = 0.0
    for rate, dur in schedule:
        n = int(rate) if dur == 0 else int(rate * dur)
        if i < n:
            return start if dur == 0 else start + (i + 1) / rate
        i -= n
        start += dur
    raise ValueError("message index beyond the schedule")


def epoch_latencies(first_idx: int, count: int, commit: float, due) -> list[float]:
    """Per-message latency of one delivered epoch: ``commit - due(i)``.

    Every message of the epoch counts as delivered when the epoch
    commits, and latency runs from the message's due time, so a stall
    shows in every message queued behind it."""
    return [commit - due(i) for i in range(first_idx, first_idx + count)]


def innermost(spans: list[dict], t: float) -> dict | None:
    """The innermost span (latest start, then shortest) containing ``t``."""
    best = None
    for sp in spans:
        if sp["start"] <= t <= sp["end"]:
            if best is None or (sp["start"], -sp["end"]) > (best["start"], -best["end"]):
                best = sp
    return best


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict:
    """Map job id -> span id by submission time, ``None`` when no span
    holds it. Job groups are not used: streams run under their own group
    and jobs submitted from worker threads lose the caller's group, but
    every job's submission time still falls inside the span that caused
    it."""
    out = {}
    for j in jobs:
        sp = innermost(spans, j["submit"])
        out[j["id"]] = sp["id"] if sp is not None else None
    return out
