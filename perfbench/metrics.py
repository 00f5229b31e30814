"""Metric arithmetic, kept free of Spark so it can be tested directly."""

from __future__ import annotations

import statistics
from datetime import datetime

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def tail_quantile(n: int, beyond: int = TAIL_BEYOND) -> float:
    """Highest quantile with at least ``beyond`` of ``n`` samples above it,
    ``(n - beyond) / n``; never below the median, and the maximum (1.0)
    when there are not more than ``beyond`` samples."""
    if n <= beyond:
        return 1.0
    return max(0.5, (n - beyond) / n)


def parse_ts(s: str) -> float:
    """ISO-8601 progress timestamp (``...Z``) -> epoch seconds."""
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def due(event_time: float, speed: float, origin: float) -> float:
    """Wall time a row was due, from its event time.

    Event time runs ``speed`` times faster than wall time from
    ``origin``, the event time of row 0, which is also its due time.
    """
    return origin + (event_time - origin) / speed


def trigger_end(p: dict) -> float:
    return parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def trigger_latencies(progress: list[dict], speed: float, origin: float) -> list[float]:
    """Per trigger: its end minus the due time of ``eventTime.max``, the
    time from the last event it read to its output."""
    return [trigger_end(p) - due(parse_ts(p["eventTime"]["max"]), speed, origin) for p in progress]


def row_latency_spans(progress: list[dict], speed: float, origin: float) -> list[tuple]:
    """Per trigger: ``(rows, lo, hi)``, the spread of event-to-emit latency
    of its input rows.

    A row's latency is the end of the trigger that consumed it minus the
    wall time at which the row was due (:func:`due`). The rate source spaces rows
    evenly between ``eventTime.min`` and ``eventTime.max``, so the
    trigger's rows spread evenly over ``[end - due(max), end - due(min)]``.
    Each trigger's row count is read from ``p["rows"]``; triggers with no
    rows are skipped.
    """
    spans = []
    for p in progress:
        rows = p["rows"]
        et = p.get("eventTime") or {}
        if rows <= 0 or "max" not in et:
            continue
        end = trigger_end(p)
        spans.append(
            (rows, end - due(parse_ts(et["max"]), speed, origin), end - due(parse_ts(et["min"]), speed, origin))
        )
    return spans


def spans_quantile(spans: list[tuple], q: float) -> float:
    """Quantile ``q`` of the mixture of uniform spans ``(weight, lo, hi)``."""
    total = sum(w for w, _, _ in spans)
    if total <= 0:
        raise ValueError("no samples")

    def cdf(x: float) -> float:
        acc = 0.0
        for w, lo, hi in spans:
            if x >= hi:
                acc += w
            elif x > lo:
                acc += w * (x - lo) / (hi - lo)
        return acc / total

    lo = min(s[1] for s in spans)
    hi = max(s[2] for s in spans)
    for _ in range(60):
        mid = (lo + hi) / 2
        if cdf(mid) < q:
            lo = mid
        else:
            hi = mid
    return hi


def latency_summary(spans: list[tuple]) -> dict:
    """Median and tail of row latency; rows are the samples."""
    n = sum(w for w, _, _ in spans)
    tail_q = tail_quantile(n)
    return {
        "p50_s": spans_quantile(spans, 0.5),
        "tail_s": spans_quantile(spans, tail_q),
        "tail_pct": 100.0 * tail_q,
        "samples": n,
        "triggers": len(spans),
    }


def capacity(progress: list[dict]) -> float:
    """Input rows (``p["rows"]``) per second of trigger execution."""
    rows = sum(p["rows"] for p in progress)
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0
    return rows / busy if busy > 0 else 0.0


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs."""
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def backlogged(times: list[float], latencies: list[float], rise_frac: float = 0.5) -> bool:
    """True when latency still trends up over the second half of a phase.

    The fitted rise across the second half must exceed ``rise_frac`` of
    the phase's median latency; a system keeping up shows a flat line,
    one falling behind a line that climbs with the queue.
    """
    half = len(times) // 2
    xs, ys = times[half:], latencies[half:]
    if len(xs) < 3:
        return False
    rise = slope(xs, ys) * (xs[-1] - xs[0])
    return rise > rise_frac * statistics.median(latencies)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover.

    Children may overlap one another; their union is subtracted, and a
    child's interval is clipped to its parent's.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run spread the benchmark is held to."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
