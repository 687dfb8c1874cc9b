"""Tests of the benchmark's seeded input generators.

    python3 -m pytest perfbench/tests -q

The expected outputs the benchmark checks the engine against are derived
from the generator's spec; here they are cross-checked against an
independent reading of the generated bytes.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import tablegen  # noqa: E402
import tsgen  # noqa: E402
from sender import schedule  # noqa: E402

from streamprocessors_spark.codec.ts import parse_ts_buffer_np  # noqa: E402

SMALL = dict(n_programs=3, es_per_program=2, video_weight=4, psi_interval=32,
             cc_error_rate=0.01, n_es_packets=3000)


def _cc_errors(pid: np.ndarray, cc: np.ndarray) -> dict[int, int]:
    """Plain sequential continuity check (every packet carries payload)."""
    last: dict[int, int] = {}
    errs: dict[int, int] = {}
    for p, c in zip(pid.tolist(), cc.tolist()):
        if p in last and c != (last[p] + 1) % 16:
            errs[p] = errs.get(p, 0) + 1
        last[p] = c
    return errs


def test_mux_is_seeded():
    a = tsgen.build_mux(tsgen.MuxDesign(seed=3, **SMALL))
    b = tsgen.build_mux(tsgen.MuxDesign(seed=3, **SMALL))
    c = tsgen.build_mux(tsgen.MuxDesign(seed=4, **SMALL))
    assert a.data == b.data
    assert a.data != c.data


def test_expected_pid_stats_match_the_bytes():
    mux = tsgen.build_mux(tsgen.MuxDesign(seed=5, **SMALL))
    cols = parse_ts_buffer_np(mux.data)
    assert cols["sync_ok"].all()
    errs = _cc_errors(cols["pid"], cols["cc"])
    for pid, (n, payload, e) in tsgen.expected_pid_stats(mux).items():
        m = cols["pid"] == pid
        assert int(m.sum()) == n
        assert int(cols["payload_len"][m].sum()) == payload
        assert errs.get(pid, 0) == e
    assert sum(errs.values()) == len(tsgen.expected_violations(mux))


def test_every_video_stream_has_a_cc_error():
    mux = tsgen.build_mux(tsgen.MuxDesign(seed=6, **dict(SMALL, cc_error_rate=0.0)))
    stats = tsgen.expected_pid_stats(mux)
    for prog in mux.programs:
        assert stats[prog["pcr_pid"]][2] >= 1


def test_pmt_bump_adds_a_stream_and_a_table():
    bumped = tsgen.build_mux(tsgen.MuxDesign(seed=7, **SMALL))
    flat = tsgen.build_mux(tsgen.MuxDesign(seed=7, **dict(SMALL, pmt_bump_at=None)))
    assert bumped.programs[0]["n_streams"] == flat.programs[0]["n_streams"] + 1
    assert bumped.n_tables == flat.n_tables + 1
    sub_pid = bumped.programs[0]["reference_pid"] + 0xF
    assert (bumped.pid == sub_pid).any() and not (flat.pid == sub_pid).any()


def test_live_period_repeats_without_a_seam():
    period = tsgen.build_live_period(tsgen.MuxDesign(seed=8, **dict(SMALL, pmt_bump_at=None)))
    cols = parse_ts_buffer_np(period.data * 3)
    errs = _cc_errors(cols["pid"], cols["cc"])
    want = tsgen.expected_prefix(period, 3 * period.n_packets)
    assert sum(errs.values()) == sum(e for _, e in want.values()) == 3 * int(period.cc_err.sum())


def test_expected_prefix_counts_a_partial_period():
    period = tsgen.build_live_period(tsgen.MuxDesign(seed=9, **dict(SMALL, pmt_bump_at=None)))
    n = period.n_packets + 1234
    cols = parse_ts_buffer_np((period.data * 2)[: n * 188])
    errs = _cc_errors(cols["pid"], cols["cc"])
    for pid, (count, e) in tsgen.expected_prefix(period, n).items():
        assert int((cols["pid"] == pid).sum()) == count
        assert errs.get(pid, 0) == e


def test_datagrams_tile_the_repeated_period():
    period = tsgen.build_live_period(tsgen.MuxDesign(seed=10, **dict(SMALL, pmt_bump_at=None)))
    k = period.n_packets // 7 + 3  # crosses the wrap
    stream = b"".join(tsgen.datagram(period.data, i) for i in range(k))
    assert stream == (period.data * 2)[: k * tsgen.DATAGRAM_SIZE]


def test_schedule_is_back_to_back():
    times = schedule(100.0, [(200.0, 4), (400.0, 4)])
    assert times[:4] == [100.0, 100.005, 100.01, 100.015]
    assert times[4] == 100.02 and times[-1] == 100.02 + 3 / 400.0


def test_tables_are_seeded_and_typed(tmp_path):
    a = tablegen.generate(str(tmp_path / "a"), seed=1, sf=0.001)
    tablegen.generate(str(tmp_path / "b"), seed=1, sf=0.001)
    assert a["lineitem"] > 0 and a["documents"] == 500
    for name in a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.equals(tb)
    ev = pq.read_table(tmp_path / "a" / "events.parquet").schema
    assert [(f.name, str(f.type)) for f in ev] == [
        ("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ]
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pandas()
    assert (docs.text.str.len() == docs.n_chars).all()
    assert docs.text.str.endswith(" dup").any()

