"""The live_ingest workload: an open-loop rate ladder into the UDP source.

Engine: ``udp_ts`` -> ``packets_from_binary_column`` -> ``cc_state_stream``
-> memory sink, on a 1 s processing-time trigger. Bootstrap datagrams on
their own PID open the first micro-batch (the source binds its socket on
its first read). Then one ``sender.py`` process sends the endlessly
repeated mux through every ladder step back to back. The Spark driver
polls ``lastProgress`` every 10 ms, so a datagram's latency is its
scheduled send time -> the moment the driver sees progress for the batch
whose end offset covers it. The ladder stops when the kernel receive
queue nears overflow. A step passes when all its datagrams committed,
none was lost, its backlog did not grow and its p99 is under the limit;
the step the ladder stopped on measures the saturated committed rate.
"""

from __future__ import annotations

import json
import os
import re
import socket
import statistics
import subprocess
import sys
import time

import numpy as np

import sparkstats
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))


def free_port() -> int:
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def udp_socket_state(port: int) -> tuple[int, int] | None:
    """(rx_queue bytes, kernel drops) of the socket bound to ``port``;
    None while nothing is bound to it."""
    want = f":{port:04X}"
    with open("/proc/net/udp") as f:
        next(f)
        for line in f:
            cols = line.split()
            if cols[1].endswith(want):
                return int(cols[4].split(":")[1], 16), int(cols[-1])
    return None


def _rate(batches: list[dict]) -> float:
    """Rows per second of execution over ``batches``."""
    return sum(b["numInputRows"] for b in batches) / max(
        1e-3, sum(b["durationMs"]["triggerExecution"] for b in batches) / 1000
    )


def _end_offset(p: dict) -> int:
    """The source's end offset; Python data sources report it as the
    repr of their offset dict."""
    off = p["sources"][0]["endOffset"]
    return int(re.search(r"seq\D+(\d+)", str(off)).group(1))


class LiveRun:
    def __init__(self, run, spark) -> None:
        self.run = run
        self.spark = spark
        self.cfg = W.LIVE
        self.seed = int(os.environ["PERFBENCH_SEED"])
        self.period = W.live_period(self.seed)
        self.period_file = os.path.join(run.dir, "live_period.ts")
        self.port = free_port()
        self.limit = self.cfg["latency_limit_s"]
        self.progress: list[tuple[float, dict]] = []  # (seen at, progress)
        self.seen_batch = -1
        self.boot = 0  # bootstrap datagrams committed ahead of the mux

    # -- engine side -----------------------------------------------------------

    def start_query(self) -> None:
        from streamprocessors_spark.sources import packets_from_binary_column
        from streamprocessors_spark.sources.udp import register_udp_source
        from streamprocessors_spark.streaming.stateful import cc_state_stream

        register_udp_source(self.spark)
        stream = (
            self.spark.readStream.format("udp_ts").option("port", str(self.port)).load()
        )
        pkts = packets_from_binary_column(
            stream.selectExpr("'live' AS stream_id", "data AS value", "arrival_seq * 7 AS base"),
            index_col="base",
        )
        self.q = (
            cc_state_stream(pkts)
            .writeStream.format("memory")
            .queryName("live_cc")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.run.dir, "ckpt-live"))
            .trigger(processingTime=self.cfg["trigger"])
            .start()
        )

    def poll(self) -> None:
        lp = self.q.lastProgress
        if lp is None:
            return
        d = sparkstats.as_dict(lp)
        if d["batchId"] <= self.seen_batch:
            return
        now = time.monotonic()
        if d["batchId"] > self.seen_batch + 1 and self.seen_batch >= 0:
            for p in map(sparkstats.as_dict, self.q.recentProgress):
                if self.seen_batch < p["batchId"] < d["batchId"]:
                    self.progress.append((now, p))
        self.progress.append((now, d))
        self.seen_batch = d["batchId"]

    def committed(self) -> int:
        return _end_offset(self.progress[-1][1]) if self.progress else 0

    def quiesce(self) -> None:
        """Wait until the socket is drained and no batch is running, so
        every datagram received so far is committed."""
        calm = 0
        while calm < 3:
            time.sleep(0.1)
            self.poll()
            rx, _ = udp_socket_state(self.port)
            busy = self.q.status["isTriggerActive"] or self.q.status["isDataAvailable"]
            calm = calm + 1 if rx == 0 and not busy else 0

    def bootstrap(self) -> None:
        """Open the first micro-batch: once the source has bound its socket
        (on its first read), send one burst of bootstrap datagrams, which
        the next read takes whole, and wait for that batch to commit."""
        from streamprocessors_spark.codec.ts import encode_ts_packet

        while udp_socket_state(self.port) is None:
            time.sleep(0.05)
        pid = self.cfg["bootstrap_pid"]
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        for i in range(self.cfg["bootstrap_datagrams"]):
            dgram = b"".join(
                encode_ts_packet(pid, payload=b"\x00" * 184, cc=(7 * i + j) % 16)
                for j in range(7)
            )
            sock.sendto(dgram, ("127.0.0.1", self.port))
        sock.close()
        while not any(p.get("numInputRows") for _, p in self.progress):
            time.sleep(0.01)
            self.poll()
        first_seen, first = next((t, p) for t, p in self.progress if p.get("numInputRows"))
        self.run.out["metrics"]["setup_s"] = first_seen - self.run.t0
        self.run.out["metrics"]["cold_s"] = first["durationMs"]["triggerExecution"] / 1000
        self.quiesce()
        self.boot = self.committed()

    def sink_by_pid(self) -> dict[int, tuple[int, int]]:
        rows = self.spark.sql(
            "SELECT pid, sum(n_packets) AS n, sum(cc_errors) AS e FROM live_cc GROUP BY pid"
        ).collect()
        return {int(r.pid): (int(r.n), int(r.e)) for r in rows}

    # -- the ladder ------------------------------------------------------------

    def ladder(self, steps: list[tuple[float, float]], trace_from: int | None) -> dict:
        """Run ``steps`` [(rate, seconds)] back to back from one sender;
        tracing switches on at step ``trace_from``. Returns the sender's
        report with the schedule."""
        from sender import schedule

        counts = [(rate, int(rate * secs)) for rate, secs in steps]
        t0 = time.monotonic() + 0.5
        due = np.array(schedule(t0, counts))
        bounds = np.cumsum([0] + [c for _, c in counts])
        stop = os.path.join(self.run.dir, "stop-sender")
        env = {k: v for k, v in os.environ.items() if not k.startswith("PERFBENCH_TRACE")}
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sender.py"), "--period", self.period_file,
             "--port", str(self.port), "--steps", ",".join(f"{r}:{c}" for r, c in counts),
             "--t0", repr(t0), "--stop", stop],
            stdout=subprocess.PIPE, env=env,
        )
        with open("/proc/sys/net/core/rmem_max") as f:
            # the source asks for a 4 MB buffer; the kernel doubles it
            queue_cap = self.cfg["queue_abort_frac"] * 2 * min(1 << 22, int(f.read()))
        self.abort = None  # the step the ladder stopped on
        self.drop_step = None  # first step during which the kernel dropped
        lags = {}
        while proc.poll() is None:
            time.sleep(0.01)
            self.poll()
            now = time.monotonic()
            k = int(np.searchsorted(bounds, np.searchsorted(due, now), side="right")) - 1
            if trace_from is not None and self.phase is None and k == trace_from:
                self.run.trace_on(True)
                self.phase = sparkstats.Phase(self.spark)
                self.trace_window = [now, None]
            elif self.phase is not None and k > trace_from and self.phase.end is None:
                self.end_trace()
            done = self.committed() - self.boot
            n_due = int(np.searchsorted(due, now, side="right"))
            lags.setdefault(k, []).append(n_due - done)
            rx, drops = udp_socket_state(self.port)
            if drops and self.drop_step is None:
                self.drop_step = k
            if rx > queue_cap or drops:
                self.abort, self.abort_t = k, now
                open(stop, "w").close()
                break
        report = json.loads(proc.communicate(timeout=60)[0])
        report.update(due=due, bounds=bounds, counts=counts, lags=lags)
        return report

    def evaluate(self, rep: dict) -> list[dict]:
        """Per-step verdicts once every sent datagram has committed (waits
        at most twice the latency limit past the last send)."""
        sent, due, bounds = rep["sent"], rep["due"], rep["bounds"]
        deadline = (due[sent - 1] if sent else time.monotonic()) + 2 * self.limit
        while self.committed() - self.boot < sent and time.monotonic() < deadline:
            time.sleep(0.01)
            self.poll()
        self.drops = udp_socket_state(self.port)[1]  # read while the socket is open
        seen = np.array([t for t, _ in self.progress])
        ends = np.array([_end_offset(p) for _, p in self.progress])
        idx = np.searchsorted(ends, self.boot + np.arange(sent), side="right")
        # a datagram not committed yet counts as late as it is by now
        vis = np.where(idx < len(ends), seen[np.minimum(idx, len(ends) - 1)], time.monotonic())
        lat = vis - due[:sent]
        sent_at = np.array(rep["sent_at"])
        steps = []
        for k, (rate, count) in enumerate(rep["counts"]):
            lo, hi = int(bounds[k]), int(min(bounds[k + 1], sent))
            if lo >= sent:
                break
            step_lat = lat[lo:hi]
            full = hi - lo == count
            p99 = sparkstats.pct(step_lat, 99)
            batches = self.batches_covering(self.boot + lo, self.boot + hi)
            kept_up = self.sustained_rate(self.boot + lo, self.boot + hi, due[lo])
            steps.append({
                "rate": rate,
                "sent": hi - lo,
                "p50_ms": 1000 * float(np.median(step_lat)),
                "p99_ms": 1000 * p99,
                "mbps": (hi - lo - 1) * W.tsgen.DATAGRAM_SIZE * 8
                / (sent_at[hi - 1] - sent_at[lo]) / 1e6 if hi - lo > 1 else 0.0,
                "sustained_rate": kept_up,
                "lag_dgrams": float(np.median(rep["lags"].get(k, [0]))),
                "aborted": self.abort == k,
                "passed": bool(
                    full
                    and (self.drop_step is None or k < self.drop_step)
                    and p99 <= self.limit
                    and kept_up >= self.cfg["keep_up_frac"] * rate
                    and self.abort != k
                ),
                "batches": batches,
                "inner": self.batches_covering(self.boot + lo, self.boot + hi, inner=True),
            })
        return steps

    def sustained_rate(self, lo: int, hi: int, start: float) -> float:
        """Datagrams/s the engine committed over the batches that read only
        offsets in [lo, hi) and whose predecessor committed after ``start``
        (a batch that started from an idle engine read less than a full
        batch of this step). At a rate the engine keeps up with, each batch
        commits what arrived during the one before it, so this equals the
        offered rate; below it the backlog grows. 0 with no such batch."""
        out, prev_end, prev_seen = [], 0, 0.0
        for seen, p in self.progress:
            end = _end_offset(p)
            if lo <= prev_end and end <= hi and prev_seen >= start:
                out.append(p)
            prev_end, prev_seen = end, seen
        return _rate(out) if out else 0.0

    def batches_covering(self, lo: int, hi: int, inner: bool = False) -> list[dict]:
        """Progress of the batches that committed offsets in [lo, hi);
        with ``inner``, only those that read nothing outside it."""
        out, prev = [], 0
        for _, p in self.progress:
            end = _end_offset(p)
            if (lo <= prev and end <= hi) if inner else (end > lo and prev < hi):
                out.append(p)
            prev = end
        return out

    def check_sink(self) -> None:
        """Exact per-PID counts and CC errors for the committed prefix
        (bootstrap datagrams, then the mux in send order)."""
        mux = self.committed() - self.boot
        want = W.tsgen.expected_prefix(self.period, 7 * mux)
        if self.boot:
            want[self.cfg["bootstrap_pid"]] = (7 * self.boot, 0)
        got = self.sink_by_pid()
        self.run.verify(got == want, f"live per-PID counts differ after {mux} datagrams")

    # -- the run -----------------------------------------------------------------

    def execute(self) -> None:
        trace = bool(self.run.args.trace)
        self.phase = None  # the traced step
        self.start_query()
        self.bootstrap()
        ladder = self.cfg["ladder"]
        secs = self.run.args.seconds
        # traced runs repeat the lowest step: untraced, then traced
        plan = [(r, secs) for r in ladder[:1] * (1 + trace) + ladder[1:]]
        rep = self.ladder(plan, trace_from=1 if trace else None)
        if self.phase is not None and self.phase.end is None:
            self.end_trace()
        steps = self.evaluate(rep)
        self.q.stop()
        self.poll_after_stop()
        self.check_sink()

        passed = []
        for s in steps:
            if not s["passed"]:
                break
            passed.append(s)
        base, last = steps[0], steps[-1]
        self.run.attempted += rep["sent"]
        self.run.failed += self.drops
        m = self.run.out["metrics"]
        m["p50_ms"] = base["p50_ms"]
        m["p99_ms"] = base["p99_ms"]
        # The saturated committed rate: the batches that started after the
        # ladder stopped drain the nearly full receive queue. A top step
        # the engine kept up with has no saturated rate, so it counts at
        # the rate it was sent.
        drain = [
            p for t, p in self.progress
            if self.abort is not None
            and t - p["durationMs"]["triggerExecution"] / 1000 >= self.abort_t
        ] or last["batches"]
        m["throughput_mbps"] = (
            last["mbps"] if last["passed"]
            else _rate(drain) * W.tsgen.DATAGRAM_SIZE * 8 / 1e6
        )
        trig = lambda bs: statistics.median(  # noqa: E731
            [b["durationMs"]["triggerExecution"] for b in bs] or [0]
        )
        m["warm_s"] = trig(base["batches"]) / 1000
        host = self.run.out["host"]
        host["gen_late_p99_ms"] = rep["late_p99_ms"]
        host["gen_late_max_ms"] = rep["late_max_ms"]
        host["highest_passed_mbps"] = passed[-1]["mbps"] if passed else 0.0
        host["lowest_step_passed"] = base["passed"]
        host["drain_batches"] = [
            (p["numInputRows"], p["durationMs"]["triggerExecution"]) for p in drain
        ]
        self.run.out["ladder"] = [
            {**{k: v for k, v in s.items() if k not in ("batches", "inner")},
             "batch_ms": [b["durationMs"]["triggerExecution"] for b in s["batches"]]}
            for s in steps
        ]
        if self.phase is not None:
            ph = self.phase
            low = steps[min(1, len(steps) - 1)]
            t_on, t_off = self.trace_window
            events = [p for t, p in self.progress if t_on <= t <= t_off]
            L = self.run.out["layers"]
            L.update(ph.session_metrics())
            L.update(sparkstats.progress_metrics(events))
            trace = self.run.collect_trace()
            L.update(W.pick(self.run.layers_from_trace(trace), self.cfg["traced_layers"]))
            L["trace.wall_s"] = ph.wall_s
            # full-rate batches of the untraced and the traced lowest step
            L["trace.overhead_pct"] = 100.0 * (
                trig(low["inner"] or low["batches"]) / max(1, trig(base["inner"] or base["batches"])) - 1
            )
            L["sources.udp_lag_dgrams"] = low["lag_dgrams"]
            L["sources.udp_lost_dgrams"] = float(self.drops)
            self.run.out["accounting"] = ph.accounting(
                trace, [p for _, p in self.progress], trace["counters"]
            )

    def end_trace(self) -> None:
        """Tracing and the traced phase cover the traced step only."""
        self.run.trace_on(False)
        self.phase.stop()
        self.trace_window[1] = time.monotonic()

    def poll_after_stop(self) -> None:
        """Record a batch that committed while the query was stopping."""
        for p in map(sparkstats.as_dict, self.q.recentProgress):
            if p["batchId"] > self.seen_batch:
                self.progress.append((time.monotonic(), p))
                self.seen_batch = p["batchId"]
