"""Tests for the benchmark's metric arithmetic.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import metrics  # noqa: E402

# One join trigger as StreamingQueryProgress reported it (trimmed to the
# fields the benchmark reads); event time ran 10x wall time.
PROGRESS = json.loads(
    """{"name": "join_out", "timestamp": "2026-10-16T23:22:52.003Z", "batchId": 5,
    "numInputRows": 40000,
    "durationMs": {"addBatch": 2449, "commitOffsets": 135, "getBatch": 0, "latestOffset": 0,
                   "queryPlanning": 267, "triggerExecution": 2944, "walCommit": 86},
    "eventTime": {"avg": "2026-10-16T23:25:05.289Z", "max": "2026-10-16T23:25:15.289Z",
                  "min": "2026-10-16T23:24:55.290Z", "watermark": "2026-10-16T23:24:45.289Z"},
    "sources": [{"startOffset": 14, "endOffset": 16, "numInputRows": 40000}]}"""
)
ORIGIN = metrics.parse_ts("2026-10-16T23:22:36.000Z")


def test_tail_quantile_leaves_ten_samples_beyond():
    assert metrics.tail_quantile(100) == pytest.approx(0.90)
    assert metrics.tail_quantile(60_000) == pytest.approx(0.99983333)
    assert metrics.tail_quantile(15) == 0.5  # never below the median
    assert metrics.tail_quantile(10) == 1.0  # too few: the maximum


def test_row_latency_from_recorded_progress():
    p = dict(PROGRESS, rows=20000)
    [(rows, lo, hi)] = metrics.row_latency_spans([p], speed=10, origin=ORIGIN)
    end = metrics.parse_ts(p["timestamp"]) + 2.944
    due_max = ORIGIN + (metrics.parse_ts(p["eventTime"]["max"]) - ORIGIN) / 10
    due_min = ORIGIN + (metrics.parse_ts(p["eventTime"]["min"]) - ORIGIN) / 10
    assert rows == 20000
    assert lo == pytest.approx(end - due_max)
    assert hi == pytest.approx(end - due_min)
    # event time 23:25:15.289 is 159.289 s past origin: due 15.9289 s
    # after it, and the trigger ended 16.003 + 2.944 s after it
    assert lo == pytest.approx(16.003 + 2.944 - 15.9289, abs=1e-6)
    assert hi - lo == pytest.approx(19.999 / 10, abs=1e-6)


def test_trigger_latency_from_recorded_progress():
    [lat] = metrics.trigger_latencies([PROGRESS], speed=10, origin=ORIGIN)
    assert lat == pytest.approx(16.003 + 2.944 - 15.9289, abs=1e-6)


def test_rows_spread_evenly_over_a_trigger():
    spans = [(100, 1.0, 2.0), (300, 3.0, 3.0)]
    s = metrics.latency_summary(spans)
    assert s["p50_s"] == pytest.approx(3.0)  # 3/4 of the rows sit at 3.0 s
    assert metrics.spans_quantile(spans, 0.125) == pytest.approx(1.5)
    assert s["tail_pct"] == pytest.approx(100 * 390 / 400)
    assert s["samples"] == 400 and s["triggers"] == 2


def test_empty_triggers_are_skipped():
    p = dict(PROGRESS, rows=0)
    assert metrics.row_latency_spans([p], speed=10, origin=ORIGIN) == []


def test_capacity_counts_rows_over_busy_time():
    ps = [dict(PROGRESS, rows=20000), dict(PROGRESS, rows=10000)]
    assert metrics.capacity(ps) == pytest.approx(30000 / 5.888)


def test_backlog_slope():
    t = [float(i) for i in range(10)]
    assert metrics.slope(t, [2 * x + 1 for x in t]) == pytest.approx(2.0)
    flat = [1.0, 1.2, 0.9, 1.1, 1.0, 1.05, 0.95, 1.1, 1.0, 0.98]
    assert not metrics.backlogged(t, flat)
    rising = [1.0, 1.0, 1.0, 1.0, 1.0, 1.2, 1.6, 2.0, 2.4, 2.8]
    assert metrics.backlogged(t, rising)
    assert not metrics.backlogged(t[:4], rising[:4])  # too few triggers to judge


def test_span_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = metrics.self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1)  # [1,5] and [9,10] covered
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_quartile_spread():
    assert metrics.quartile_spread([10.0] * 10) == 0.0
    assert metrics.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )
