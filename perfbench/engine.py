"""One engine process of a benchmark run.

    python3 engine.py --workload W --run-dir D --seconds S --trace 0|1 [--master M]

Started by ``run.py`` with the run's environment (per-run TMPDIR, store
dir, Spark local dirs, cwd inside the run dir). Builds the session with
the engine's own ``get_spark``, runs the workload against the inputs
``run.py`` generated into the run dir, checks every output, and writes
``<run-dir>/engine-<tag>.json``. Setup time is measured from
``PERFBENCH_T0`` (the monotonic clock just before the process was
started).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import sparkstats  # noqa: E402
import tracer as tracing  # noqa: E402
import workloads as W  # noqa: E402


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.dir = args.run_dir
        self.t0 = float(os.environ["PERFBENCH_T0"])
        self.tracer = tracing.install() if args.trace else None
        self.out: dict = {"metrics": {}, "layers": {}, "host": {}, "errors": []}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.windows: dict[str, list[tuple[float, float]]] = {}  # request windows

    # -- shared helpers ------------------------------------------------------

    def session(self):
        from streamprocessors_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=self.args.master,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        return spark

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the JVM")

    def verify(self, ok: bool, what: str) -> None:
        if not ok:
            self.correct = False
            if len(self.out["errors"]) < 20:
                self.out["errors"].append(what)

    def check(self, ok: bool, what: str) -> None:
        """One checked request: counts as attempted, and as failed when
        its output is wrong."""
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.verify(ok, what)

    def trace_on(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.set_enabled(on)
            time.sleep(0.3)  # workers poll the flag every 0.2 s

    def collect_trace(self) -> dict:
        """Every process's trace file, merged."""
        self.tracer.flush()
        time.sleep(0.8)  # worker flushers write every 0.5 s
        return tracing.collect(self.tracer.out_dir)

    @staticmethod
    def trace_since(t: dict, since: dict) -> dict:
        """The aggregates and counters recorded after the earlier
        collection ``since``."""
        return {
            "agg": {
                k: [x - y for x, y in zip(v, since["agg"].get(k, [0, 0.0, 0.0]))]
                for k, v in t["agg"].items()
            },
            "counters": {k: v - since["counters"].get(k, 0.0) for k, v in t["counters"].items()},
        }

    @staticmethod
    def layers_from_trace(t: dict) -> dict:
        """Per-layer figures from a collected trace."""
        agg, c = t["agg"], t["counters"]

        def tot(name):
            return agg.get(name, [0, 0.0, 0.0])[1]

        def calls(name):
            return agg.get(name, [0, 0.0, 0.0])[0]

        rows = c.get("sources.slice_rows", 0.0)
        reads = c.get("sources.udp_reads", 0.0)
        crc = c.get("codec.crc_checks", 0.0)
        cc_calls = c.get("plans.corpus_cached_calls", 0.0)
        loads = c.get("storage.durable_disk", 0.0)
        builds = c.get("storage.durable_build", 0.0)
        return {
            "sources.slice_s": tot("sources.slice"),
            "sources.slice_rows": rows,
            "sources.slice_pkts": c.get("sources.slice_pkts", 0.0),
            "sources.fused_row_frac": c.get("sources.fused_rows", 0.0) / rows if rows else 0.0,
            "sources.udp_read_s": tot("sources.udp_read"),
            "sources.udp_dgrams_per_read": c.get("sources.udp_dgrams", 0.0) / reads if reads else 0.0,
            "codec.parse_calls": calls("codec.parse"),
            "codec.parse_bytes": c.get("codec.parse_bytes", 0.0),
            "codec.parse_s": tot("codec.parse"),
            "codec.section_push_calls": calls("codec.section_push"),
            "codec.section_push_s": tot("codec.section_push"),
            "codec.sections_out": c.get("codec.section_push.items", 0.0),
            "codec.crc_fail_frac": c.get("codec.crc_fails", 0.0) / crc if crc else 0.0,
            "streaming.run_available_now_s": tot("streaming.run_available_now"),
            "streaming.run_available_now_calls": calls("streaming.run_available_now"),
            "plans.corpus_cached_hit_frac": c.get("plans.corpus_cached_hits", 0.0) / cc_calls if cc_calls else 0.0,
            "plans.corpus_cached_build_s": c.get("plans.corpus_cached_build_s", 0.0),
            "storage.write_store_calls": calls("storage.write_store"),
            "storage.write_store_s": tot("storage.write_store"),
            "storage.durable_load_frac": loads / (loads + builds) if loads + builds else 0.0,
        }

    def calibrate(self, spark) -> None:
        """bench.py's host-speed probes (aggregate and single-task)."""
        spark.range(200_000_000).selectExpr("sum(id % 1000) as s", "count(1) as n").collect()
        t = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id % 1000) as s", "count(1) as n").collect()
        self.out["host"]["calib_sec"] = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(0, 25_000_000, numPartitions=1).selectExpr(
            "sum(id % 1000) as s", "count(1) as n"
        ).collect()
        self.out["host"]["calib_1t_sec"] = time.perf_counter() - t

    def finish(self, spark, tag: str) -> None:
        self.out["metrics"]["jvm_peak_rss_mb"] = self.jvm_peak_rss_mb()
        self.out["host"]["work_done_s"] = time.monotonic() - self.t0
        if tag == "main":
            self.calibrate(spark)
        self.out["attempted"] = self.attempted
        self.out["failed"] = self.failed
        self.out["correct"] = self.correct and self.attempted > 0
        spark.stop()
        self.out["host"]["engine_done_s"] = time.monotonic() - self.t0
        with open(os.path.join(self.dir, f"engine-{tag}.json"), "w") as f:
            json.dump(self.out, f)

    # -- capture_demux -------------------------------------------------------

    def demux_pass(self, spark, expected: dict) -> list[float]:
        """One closed-loop pass: six requests, each checked. Returns the
        request latencies."""
        from pyspark.sql import functions as F

        from streamprocessors_spark.operators import demux as D
        from streamprocessors_spark.sources import read_ts_files

        cap = os.path.join(self.dir, "capture")
        pkts = read_ts_files(spark, cap)
        base = F.regexp_extract("stream_id", r"([^/]+)$", 1).alias("seg")
        lat = []

        def request(op: str, fn):
            """Time one request; its wall-clock window is the operator's."""
            start, t = time.time(), time.perf_counter()
            out = fn()
            lat.append(time.perf_counter() - t)
            self.windows.setdefault(op, []).append((start, time.time()))
            return out

        stats = request(
            "pid_stats",
            lambda: D.pid_packet_stats(pkts)
            .select(base, "pid", "n_packets", "n_bytes", "payload_bytes", "cc_errors")
            .collect(),
        )
        got = {(r.seg, r.pid): (r.n_packets, r.n_bytes, r.payload_bytes, r.cc_errors) for r in stats}
        want = {
            (seg, int(pid)): (n, 188 * n, pb, e)
            for seg, per in expected["segments"].items()
            for pid, (n, pb, e) in per["pid_stats"].items()
        }
        self.check(got == want, "capture pid stats differ")

        viol = request(
            "pid_stats",
            lambda: D.cc_violations(pkts).select(base, "pid", "pkt_index").collect(),
        )
        want_v = sorted(
            (seg, p, i) for seg, per in expected["segments"].items() for p, i in per["violations"]
        )
        self.check(sorted((r.seg, r.pid, r.pkt_index) for r in viol) == want_v, "cc violations differ")

        pat0 = request(
            "reassemble",
            lambda: D.pat_programs(D.reassemble_sections(pkts, [0]))
            .select(base, "reference_pid")
            .collect(),
        )
        pmt_pids = sorted({r.reference_pid for r in pat0})
        want_pmt = sorted({p["reference_pid"] for s in expected["segments"].values() for p in s["programs"]})
        self.check(pmt_pids == want_pmt, "PAT discovery differs")

        psi_pids = [0, 0x11] + pmt_pids
        secs = request(
            "reassemble",
            lambda: D.reassemble_sections(pkts, psi_pids).localCheckpoint(eager=True),
        )
        n_secs = request(
            "reassemble",
            lambda: secs.where("crc_ok").groupBy(base).count().collect(),
        )
        self.check(
            {r.seg: r["count"] for r in n_secs}
            == {seg: s["n_sections"] for seg, s in expected["segments"].items()},
            "section counts differ",
        )

        summary = request(
            "psi_tables",
            lambda: D.programs_summary(D.pat_programs(secs), D.pmt_streams(secs), D.sdt_services(secs))
            .select(base, "program_number", "reference_pid", "service_name", "n_streams", "pcr_pid")
            .collect(),
        )
        got_s = sorted(tuple(r) for r in summary)
        want_s = sorted(
            (seg, p["program_number"], p["reference_pid"], p["service_name"], p["n_streams"], p["pcr_pid"])
            for seg, s in expected["segments"].items()
            for p in s["programs"]
        )
        self.check(got_s == want_s, "programs summary differs")

        tables = request(
            "psi_tables",
            lambda: D.complete_tables(secs).groupBy(base).count().collect(),
        )
        self.check(
            {r.seg: r["count"] for r in tables}
            == {seg: s["n_tables"] for seg, s in expected["segments"].items()},
            "complete tables differ",
        )
        secs.unpersist()
        return lat

    def capture_demux(self) -> None:
        with open(os.path.join(self.dir, "capture_expected.json")) as f:
            expected = json.load(f)
        cap_bits = 8 * expected["bytes"]
        spark = self.session()
        self.out["metrics"]["setup_s"] = time.monotonic() - self.t0
        if self.args.baseline:
            # the single-thread baseline: one pass in a fresh session
            t = time.perf_counter()
            self.demux_pass(spark, expected)
            self.out["layers"]["baseline.local1_demux_mbps"] = cap_bits / (time.perf_counter() - t) / 1e6
            self.finish(spark, "baseline")
            return

        t = time.perf_counter()
        self.demux_pass(spark, expected)
        self.out["metrics"]["cold_s"] = time.perf_counter() - t

        passes, lat = [], []
        spent = 0.0
        while len(passes) < W.CAPTURE["min_warm_passes"] or (
            spent < self.args.seconds and len(passes) < W.CAPTURE["max_warm_passes"]
        ):
            t = time.perf_counter()
            lat += self.demux_pass(spark, expected)
            passes.append(time.perf_counter() - t)
            spent += passes[-1]
        warm = statistics.median(passes)
        m = self.out["metrics"]
        m["warm_s"] = warm
        m["throughput_mbps"] = cap_bits / warm / 1e6
        m["p50_ms"] = 1000 * statistics.median(lat)
        m["p99_ms"] = 1000 * sparkstats.pct(lat, 99)

        if self.args.trace:
            self.trace_on(True)
            ph = sparkstats.Phase(spark)
            t = time.perf_counter()
            self.demux_pass(spark, expected)
            traced = time.perf_counter() - t
            self.trace_on(False)
            L = self.out["layers"]
            L.update(ph.session_metrics())
            L.update(ph.window_metrics(self.windows))
            trace = self.collect_trace()
            L.update(W.pick(self.layers_from_trace(trace), W.CAPTURE["traced_layers"]))
            L["trace.overhead_pct"] = 100.0 * (traced - warm) / warm
            L["trace.wall_s"] = ph.wall_s
            self.out["accounting"] = ph.accounting(trace, [], trace["counters"])
        self.finish(spark, "main")

    # -- query_mix -----------------------------------------------------------

    def mix_pass(self, spark, oracle: dict, times: dict) -> None:
        from tools.compare import value_hash

        from streamprocessors_spark import plans

        data = os.path.join(self.dir, "data")
        for name in W.MIX["queries"]:
            start, t = time.time(), time.perf_counter()
            df = plans.REGISTRY[name].fn(spark, data)
            rows = df.collect()
            times.setdefault(name, []).append(time.perf_counter() - t)
            self.windows.setdefault(name, []).append((start, time.time()))
            want = oracle[name]
            ok = (
                sorted(df.columns) == sorted(want["columns"])
                and len(rows) == want["rows"]
                and value_hash([tuple(r) for r in rows], df.columns) == want["hash"]
            )
            self.check(ok, f"{name}: result differs from its oracle")

    def query_mix(self) -> None:
        with open(os.path.join(self.dir, "oracle.json")) as f:
            oracle = json.load(f)
        from streamprocessors_spark import plans

        plans.load_all()
        spark = self.session()
        self.out["metrics"]["setup_s"] = time.monotonic() - self.t0
        listener = None
        if self.args.trace:
            listener = sparkstats.ProgressLog()
            spark.streams.addListener(listener)
            self.trace_on(True)

        cold: dict = {}
        t = time.perf_counter()
        self.mix_pass(spark, oracle, cold)
        self.out["metrics"]["cold_s"] = time.perf_counter() - t
        self.trace_on(False)
        cold_trace = self.collect_trace() if self.args.trace else None

        self.mix_pass(spark, oracle, {})  # warm-up
        warm: dict = {}
        spent, passes = 0.0, 0
        while passes < W.MIX["min_warm_passes"] or spent < self.args.seconds:
            t = time.perf_counter()
            self.mix_pass(spark, oracle, warm)
            spent += time.perf_counter() - t
            passes += 1
        per_query = {q: statistics.median(v) for q, v in warm.items()}
        self.out["host"]["mix_cold_s"] = {q: v[0] for q, v in cold.items()}
        self.out["host"]["mix_warm_s"] = warm
        m = self.out["metrics"]
        m["warm_s"] = sum(per_query.values())
        # the median query's latency: each query's median warm time, then
        # the median over the queries. The median of all 15 latencies is
        # the second-highest of the three fastest queries' nine (they are
        # within ~30% of each other), an extreme of single samples: its
        # quartiles over ten runs lay 0.15-0.4 of its median apart
        m["p50_ms"] = 1000 * statistics.median(per_query.values())
        m["p99_ms"] = 1000 * sparkstats.pct([x for v in warm.values() for x in v], 99)
        m["throughput_mbps"] = 8 * W.dir_bytes(os.path.join(self.dir, "data")) / m["warm_s"] / 1e6

        if self.args.trace:
            L = self.out["layers"]
            for q, v in cold.items():
                L[f"plans.{q}.cold_s"] = v[0]
            self.trace_on(True)
            listener.clear()
            traced: dict = {}
            ph = sparkstats.Phase(spark)
            t = time.perf_counter()
            self.mix_pass(spark, oracle, traced)
            traced_s = time.perf_counter() - t
            self.trace_on(False)
            for q, v in traced.items():
                L[f"plans.{q}.warm_s"] = v[0]
            L.update(ph.session_metrics())
            L.update(ph.window_metrics({
                op: [w for w in self.windows[q] if w[0] >= ph.start]
                for op, q in W.MIX["operator_queries"].items()
            }))
            events = listener.events()
            L.update(sparkstats.progress_metrics(events))
            # the durable stores and artifact memos do their work in the
            # cold pass; every other layer is read from the traced warm pass
            trace = self.collect_trace()
            warm_trace = self.trace_since(trace, cold_trace)
            L.update(W.pick(self.layers_from_trace(cold_trace), W.MIX["cold_layers"]))
            L.update(W.pick(self.layers_from_trace(trace), W.MIX["whole_layers"]))
            L.update(W.pick(self.layers_from_trace(warm_trace), W.MIX["traced_layers"]))
            L["storage.store_bytes"] = W.dir_bytes(os.environ["SPARK_GRAFT_STORE_DIR"])
            L["trace.overhead_pct"] = 100.0 * (traced_s - m["warm_s"]) / m["warm_s"]
            L["trace.wall_s"] = ph.wall_s
            self.out["accounting"] = ph.accounting(trace, events, warm_trace["counters"])
        self.finish(spark, "main")

    # -- live_ingest ---------------------------------------------------------

    def live_ingest(self) -> None:
        import live

        spark = self.session()
        live.LiveRun(self, spark).execute()
        self.finish(spark, "main")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--master", default=None)
    ap.add_argument("--baseline", type=int, default=0)
    args = ap.parse_args()
    run = Run(args)
    getattr(run, args.workload)()


if __name__ == "__main__":
    main()
