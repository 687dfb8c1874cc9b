"""Workload definitions: every fixed value, with the reason it was chosen,
and the seeded input generators ``run.py`` calls before an engine starts.

The benchmark gets 3420 s for 4 + 22 runs of each workload in
BENCHMARK.json. A run of this engine costs 55-85 s on a shared 4-core host
(the JVM alone takes ~7 s to start, a streaming query's first micro-batch
~10 s, every later one 4-6 s), so two workloads fit and three do not;
``capture_demux`` is kept for hand runs and as the traced runs'
single-thread baseline.
"""

from __future__ import annotations

import json
import os

import tsgen

WORKLOADS = ("live_ingest", "capture_demux", "query_mix")

#: Spark cores for every run. Fixed rather than "all cores" so a run means
#: the same thing on any host; 4 is the reference host's core count.
CPUS = 4

#: Driver heap. get_spark defaults to 8g; 2g holds every workload here and
#: keeps a run small on a shared host.
DRIVER_MEM = "2g"

LIVE = {
    # Offered rates in datagrams/s, the same on every commit, from ~0.66 to
    # ~84 Mbit/s (7 x 188 B per datagram); 8000/s is 64 streams at ~1.3
    # Mbit/s each. Each micro-batch of the parent commit pays 3-5 s of
    # fixed cost (mostly the state store's commit) plus ~1.3 ms a datagram
    # (each 7-packet datagram is sliced on its own): its batches settle at
    # 62.5/s, keep up at 125/s only on a quiet host and fall behind from
    # 250/s. So the ladder starts at 62.5/s, below the 250/s first
    # proposed, and it steps x4 up to 1000/s and doubles above: a doubling
    # ladder from 62.5/s would add two steps (~14 s) to every run, past the
    # benchmark's time budget, and the saturated rate below does not depend
    # on where the ladder stops.
    "ladder": (62.5, 250, 1000, 2000, 4000, 8000),
    # A step passes when every datagram commits, none is lost, the engine
    # keeps up (below) and the p99 of send -> commit-visible latency stays
    # under this limit. The parent runs 62.5/s at p99 8-12 s on a loaded
    # host (about two micro-batches), so 15 s passes it with a margin; it
    # is not set for any higher step.
    "latency_limit_s": 15.0,
    # The backlog test: over the step's full batches (those that read only
    # the step's datagrams, after a batch that also ran in the step), the
    # engine must commit at least this share of the offered rate. A batch
    # commits what arrived while the one before it ran, so an engine that
    # keeps up commits the offered rate, and a growing backlog shows as a
    # lower one. The share leaves room for the step's first full batch,
    # which still grows out of the smaller batch before it: the parent
    # commits 0.88-0.96 of the rate at 62.5/s, where its batches settle.
    # A step with no full batch has not shown that it kept up, and fails:
    # with the parent's 5-6 s batches a 7 s step above the lowest seldom
    # holds one (the lowest does, as the engine starts it idle), so the
    # parent's verdicts above 62.5/s are conservative; an engine with
    # shorter batches is judged on its rate.
    "keep_up_frac": 0.85,
    # The ladder stops (that step fails) once the kernel receive queue
    # passes this share of its buffer: loss is imminent, and a lost
    # datagram would be a failed operation rather than a slow one. The
    # queue is charged ~2.3 KB of kernel memory a datagram, so it then
    # holds ~3300 of them. The batches that start after the stop drain it
    # at the engine's saturated rate, reported as throughput: a batch of a
    # fixed size, so the figure follows the engine, not the step reached.
    "queue_abort_frac": 0.9,
    # Every step lasts --seconds (7 s in BENCHMARK.json): room for one full
    # micro-batch of the parent after the step's first.

    # the mux: 4 programs x (video + audio), video-heavy, PSI every 64 ES
    # packets, rare CC errors; one period of ~4300 packets repeats forever
    "design": dict(n_programs=4, es_per_program=2, video_weight=6,
                   psi_interval=64, cc_error_rate=0.002, pmt_bump_at=None,
                   n_es_packets=4000),
    # bootstrap datagrams carry their own PID and open the first batch
    "bootstrap_pid": 0x1FF0,
    "bootstrap_datagrams": 7,
    "trigger": "1 second",  # the reference refreshes per-PID state every 1 s
    # traced layers the pipeline runs
    "traced_layers": ("sources.", "codec.", "streaming."),
}

CAPTURE = {
    # 4 segment files of ~8.6k packets (~1.6 MB) each, one row per file;
    # a warm pass (seven Spark jobs) takes ~6 s on 4 cores
    "segments": 4,
    "design": dict(n_programs=4, es_per_program=2, video_weight=6,
                   psi_interval=64, cc_error_rate=0.002, pmt_bump_at=0.5,
                   n_es_packets=8_000),
    "min_warm_passes": 3,  # a median needs three
    # traced layers a demux pass runs (one slice per segment file)
    "traced_layers": ("sources.slice", "sources.fused", "codec."),
    "max_warm_passes": 8,
}

MIX = {
    # Five registered queries, one per family the layers need: packet
    # demux and CC stats, PSI reassembly and joins, streaming reassembly
    # over sliced packets in keyed state, an append to a durable store
    # (the IVF index is written on the first call and read back on every
    # later one) and a read through an artifact memo (the PQ code table
    # is encoded on the first call). A cold pass of these takes ~22 s and
    # a warm one ~7 s on 4 quiet cores; the first query also pays the
    # session's first-query cost (~5 s).
    #
    # Left out for the time budget, which leaves ~60 s a run:
    # snapshot_upsert_dedup, the durable-store query first chosen (its
    # cold call alone took 9-14 s and each warm one ~5 s, which left room
    # for a single warm pass, so every warm figure was one sample that
    # followed the host's load); q5_local_supplier_volume, a TPC-H
    # scan/join that no layer here needs (the memo query took its place);
    # stream_cc_state, which live_ingest runs continuously; and
    # stream_window_event_rate, stream_dedup_minhash, dedup_minhash_lsh
    # and quality_classifier_train (~35 s more a run).
    "queries": (
        "ts_demux_pid_stats",
        "ts_programs_summary",
        "stream_section_reassembly",
        "ann_ivf_append",
        "ann_pq_topk",
    ),
    # after the cold pass, one warm-up pass (checked, not timed: the
    # first pass after the cold one still ran its queries 10-30% slower,
    # by a share that differed between runs), then warm passes: at least
    # this many, and more while less than --seconds was spent in them;
    # each query's warm time is the median of its passes
    "min_warm_passes": 3,
    # the demux operators' stage time: the stages run while the registered
    # query that is mostly that operator runs
    "operator_queries": {
        "pid_stats": "ts_demux_pid_stats",
        "reassemble": "stream_section_reassembly",
        "psi_tables": "ts_programs_summary",
    },
    # the traced layers read from the cold pass (stores are written
    # there), from the cold and the traced warm pass together (a memo is
    # built in the one and hit in the other) and from the traced warm pass
    "cold_layers": ("storage.",),
    "whole_layers": ("plans.corpus_cached",),
    "traced_layers": ("sources.slice", "sources.fused", "codec.", "streaming."),
    # sf 0.01 (60k lineitem, 10k events, 500 documents): at sf 0.1 a cold
    # plus one warm pass takes ~110 s, beyond the per-run budget
    "sf": 0.01,
}


def pick(layers: dict, prefixes: tuple[str, ...]) -> dict:
    """The per-layer figures of the layers a workload runs."""
    return {k: v for k, v in layers.items() if k.startswith(prefixes)}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def build_capture(run_dir: str, seed: int) -> None:
    """Segment files plus their expected demux results."""
    cap = os.path.join(run_dir, "capture")
    os.makedirs(cap)
    expected = {"segments": {}, "bytes": 0}
    for i in range(CAPTURE["segments"]):
        mux = tsgen.build_mux(tsgen.MuxDesign(seed=seed * 1000 + i, **CAPTURE["design"]))
        name = f"seg{i:02d}.ts"
        with open(os.path.join(cap, name), "wb") as f:
            f.write(mux.data)
        expected["bytes"] += len(mux.data)
        expected["segments"][name] = {
            "pid_stats": tsgen.expected_pid_stats(mux),
            "violations": tsgen.expected_violations(mux),
            "programs": mux.programs,
            "n_tables": mux.n_tables,
            "n_sections": mux.n_sections,
        }
    with open(os.path.join(run_dir, "capture_expected.json"), "w") as f:
        json.dump(expected, f)


def live_period(seed: int) -> tsgen.Mux:
    return tsgen.build_live_period(tsgen.MuxDesign(seed=seed, **LIVE["design"]))


def build_live(run_dir: str, seed: int) -> None:
    """The repeating mux period the sender reads; the engine rebuilds the
    same period from the seed for its expectations."""
    with open(os.path.join(run_dir, "live_period.ts"), "wb") as f:
        f.write(live_period(seed).data)


def build_mix(run_dir: str, seed: int) -> None:
    """Tables plus each query's oracle hash (DuckDB, outside any timing)."""
    import tablegen
    from tools.compare import duckdb_conn, value_hash

    from streamprocessors_spark import plans

    data = os.path.join(run_dir, "data")
    tablegen.generate(data, seed, MIX["sf"])
    plans.load_all()
    con = duckdb_conn(data)
    oracle = {}
    for name in MIX["queries"]:
        res = con.execute(plans.REGISTRY[name].oracle)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        oracle[name] = {"columns": cols, "rows": len(rows), "hash": value_hash(rows, cols)}
    con.close()
    with open(os.path.join(run_dir, "oracle.json"), "w") as f:
        json.dump(oracle, f)
