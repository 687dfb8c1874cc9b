"""Tests of the live_ingest ladder's keep-up test on recorded progress."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import live  # noqa: E402


def progress(seen: float, end: int, rows: int, ms: int) -> tuple[float, dict]:
    return seen, {
        "sources": [{"endOffset": {"seq": end}}],
        "numInputRows": rows,
        "durationMs": {"triggerExecution": ms},
    }


def run_with(batches) -> live.LiveRun:
    r = object.__new__(live.LiveRun)
    r.progress = batches
    return r


def test_sustained_rate_skips_the_batch_that_started_idle():
    # a step of offsets [100, 400) from t=10: the first batch read only a
    # trigger's worth; the next two are full; the last reads past the step
    r = run_with([
        progress(9.0, 100, 100, 1000),
        progress(14.0, 110, 10, 4000),
        progress(18.0, 210, 100, 4000),
        progress(22.0, 300, 90, 4000),
        progress(27.0, 450, 150, 5000),
    ])
    assert r.sustained_rate(100, 400, 10.0) == 190 / 8.0


def test_sustained_rate_is_zero_without_a_full_batch():
    r = run_with([progress(9.0, 100, 100, 1000), progress(15.0, 500, 400, 6000)])
    assert r.sustained_rate(100, 400, 10.0) == 0.0
