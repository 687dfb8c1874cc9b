"""Spark-side numbers for a measured phase: stage metrics from the status
store (present with the UI off) and StreamingQueryProgress events."""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from tracer import MAX_SPANS


def _status(spark) -> tuple[list, list]:
    """(stages, jobs) as plain dicts, serialized in the JVM in one call."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stage_list = store.stageList(None, False, False, no_quantiles, None)
    stages = json.loads(mapper.writeValueAsString(stage_list))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    return stages, jobs


def pct(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    v = sorted(values)
    return float(v[min(len(v) - 1, max(0, math.ceil(q / 100 * len(v)) - 1))])


def _epoch(iso: str) -> float:
    """A progress event's timestamp (UTC, ISO 8601) as epoch seconds."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _merge(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint union of intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _union(intervals) -> float:
    return sum(e - s for s, e in _merge(intervals))


def _minus(intervals, holes) -> list[tuple[float, float]]:
    """Parts of ``intervals`` outside the merged, sorted ``holes``."""
    out = []
    for s, e in intervals:
        for hs, he in holes:
            if he <= s or hs >= e:
                continue
            if hs > s:
                out.append((s, hs))
            s = max(s, he)
        if s < e:
            out.append((s, e))
    return out


# Traced layers that run inside Spark tasks (in the Python workers). The
# others run outside tasks: in the engine process, or in the Python helper
# that serves the driver's data-source reads.
TASK_SPANS = ("sources.slice", "codec.")
# CPU seconds of the Python workers' tasks (a tracer counter)
PYTHON_CPU = "session.python_task_cpu_s"
# accounting flags a phase when more than this share of its wall time is
# not covered by a measured part
UNACCOUNTED_FLAG = 0.25


class Phase:
    """Everything Spark ran between construction and the first metrics
    call."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.start = time.time()
        self.end = None

    @property
    def wall_s(self) -> float:
        return (self.end or time.time()) - self.start

    def stop(self) -> None:
        """End the phase now; its metrics can be read later."""
        if self.end is None:
            self.end = time.time()

    def _stages(self):
        """Every finished stage that overlaps the phase, clipped to it: its
        times cut to the phase and its task metrics scaled by the share of
        the stage inside (so a micro-batch that straddles a boundary counts
        once, in part, on each side)."""
        self.stop()
        stages, jobs = _status(self.spark)
        lo, hi = self.start * 1000, self.end * 1000
        out = []
        for st in stages:
            s0, s1 = st.get("submissionTime"), st.get("completionTime")
            if not (s0 and s1) or min(s1, hi) <= max(s0, lo):
                continue
            frac = (min(s1, hi) - max(s0, lo)) / (s1 - s0)
            c = {k: v * frac for k, v in st.items()
                 if isinstance(v, (int, float)) and not isinstance(v, bool)}
            c.update(submissionTime=max(s0, lo), completionTime=min(s1, hi))
            out.append(c)
        return out, jobs

    def session_metrics(self) -> dict:
        stages, jobs = self._stages()
        lo, hi = self.start * 1000, self.end * 1000
        n_jobs = sum(
            1 for j in jobs if j.get("submissionTime") and lo <= j["submissionTime"] <= hi
        )
        busy = _union((s["submissionTime"], s["completionTime"]) for s in stages) / 1000
        return {
            "session.jobs": n_jobs,
            "session.stages": len(stages),
            "session.tasks": sum(s["numCompleteTasks"] for s in stages),
            "session.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000,
            "session.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "session.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
            "session.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "session.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "session.spill_bytes": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in stages),
            "session.driver_gap_s": self.wall_s - busy,
        }

    def window_metrics(self, windows: dict[str, list[tuple[float, float]]]) -> dict:
        """``operators.<name>_s``: stage time inside the wall-clock windows
        (epoch seconds) of the requests that run operator ``name``; rows in
        and out over all of them. Windows rather than job descriptions,
        because streaming queries run their jobs on their own thread."""
        stages, _ = self._stages()
        out = {}
        rows_in = rows_out = 0
        for name, spans in windows.items():
            mine = [
                s for s in stages
                if any(lo * 1000 <= s["submissionTime"] <= hi * 1000 for lo, hi in spans)
            ]
            out[f"operators.{name}_s"] = _union(
                (s["submissionTime"], s["completionTime"]) for s in mine
            ) / 1000
            rows_in += sum(s["inputRecords"] + s["shuffleReadRecords"] for s in mine)
            rows_out += sum(s["outputRecords"] + s["shuffleWriteRecords"] for s in mine)
        out["operators.rows_in"] = rows_in
        out["operators.rows_out"] = rows_out
        return out

    def accounting(self, trace: dict, events: list[dict], counters: dict) -> dict:
        """Split the phase's wall time into measured parts, with no
        balancing term. ``driver_gap_s`` is the time no stage ran. Stage
        time is shared out in proportion to task time among the parts of
        the tasks that were measured: the traced Python layers in the
        workers, the rest of the Python workers' CPU (``session.python``,
        from the phase's tracer ``counters``), the state store's commit
        (the part of the ``events`` that ran inside the phase), and the JVM
        (task CPU, GC, (de)serialization, shuffle write and fetch wait:
        ``session.jvm``). Task time none of these covers (waits on I/O and
        on other processes) is left ``unaccounted_s`` and flagged above
        ``UNACCOUNTED_FLAG`` of the wall time. The driver gap is broken
        down by the self time the other traced layers spent outside
        stages; the rest of it is untraced driver work."""
        stages, _ = self._stages()
        lo, hi = self.start, self.end
        wall = hi - lo
        stage_iv = _merge((s["submissionTime"] / 1000, s["completionTime"] / 1000) for s in stages)
        busy = sum(e - s for s, e in stage_iv)
        task_s = sum(s["executorRunTime"] for s in stages) / 1000

        def inside(e) -> float:
            """Share of a micro-batch that ran inside the phase."""
            t0 = _epoch(e["timestamp"])
            t1 = t0 + e["durationMs"].get("triggerExecution", 0) / 1000
            return max(0.0, min(t1, hi) - max(t0, lo)) / (t1 - t0) if t1 > t0 else 0.0

        parts = {
            "session.jvm": sum(
                s["executorCpuTime"] / 1e9 + s.get("shuffleWriteTime", 0) / 1e9
                + sum(s.get(k, 0) for k in ("jvmGcTime", "executorDeserializeTime",
                                            "resultSerializationTime", "shuffleFetchWaitTime")) / 1000
                for s in stages
            ),
            # the state store's commit, summed over its tasks (its update
            # time would count the upstream work the operator pulls)
            "streaming.state_commit": sum(
                inside(e) * op.get("commitTimeMs", 0)
                for e in events for op in e.get("stateOperators", [])
            ) / 1000,
        }
        # self time of every traced span inside the phase, by layer
        offset = time.time() - time.monotonic()  # spans use the monotonic clock
        driver: dict[str, float] = {}
        capped = False
        for proc in trace["by_pid"].values():
            spans = proc["spans"]
            capped |= len(spans) >= MAX_SPANS
            kids: dict[int, list] = {}
            for sp in spans:
                if sp is not None and sp[3] >= 0:
                    kids.setdefault(sp[3], []).append((sp[1] + offset, sp[2] + offset))
            for i, sp in enumerate(spans):
                # a Python task counts by its CPU, below
                if sp is None or sp[0] == "session.python_task":
                    continue
                s0, s1 = max(sp[1] + offset, lo), min(sp[2] + offset, hi)
                if s1 <= s0:
                    continue
                own = _minus([(s0, s1)], _merge(kids.get(i, [])))
                layer = sp[0].split(".")[0]
                if sp[0].startswith(TASK_SPANS):
                    parts[layer] = parts.get(layer, 0.0) + sum(e - s for s, e in own)
                else:
                    outside = sum(e - s for s, e in _minus(own, stage_iv))
                    driver[layer] = driver.get(layer, 0.0) + outside
        # the traced layers' self time is Python worker CPU as well
        traced = sum(v for k, v in parts.items() if k in ("sources", "codec"))
        parts["session.python"] = max(0.0, counters.get(PYTHON_CPU, 0.0) - traced)
        scale = busy / task_s if task_s else 0.0
        layers = {k: v * scale for k, v in parts.items()}
        gap = wall - busy
        accounted = gap + sum(layers.values())
        return {
            "wall_s": wall,
            "driver_gap_s": gap,
            "task_s": task_s,
            "layers_s": layers,
            "accounted_s": accounted,
            "unaccounted_s": wall - accounted,
            "flagged": abs(wall - accounted) > UNACCOUNTED_FLAG * wall,
            "driver_gap_by_layer_s": dict(driver, untraced=gap - sum(driver.values())),
            "spans_capped": capped,
        }


class ProgressLog(StreamingQueryListener):
    """Every StreamingQueryProgress of the session, as dicts."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def clear(self) -> None:
        with self._lock:
            self._events.clear()

    def events(self) -> list[dict]:
        """Once no event arrived for a second (delivery is asynchronous)."""
        n = -1
        while n != len(self._events):
            n = len(self._events)
            time.sleep(1.0)
        with self._lock:
            return list(self._events)


def progress_metrics(events: list[dict]) -> dict:
    """Micro-batch phase durations and state-store numbers."""

    def med(values):
        return float(statistics.median(values)) if values else 0.0

    def dur(key):
        return [e.get("durationMs", {}).get(key, 0) for e in events]

    trig = dur("triggerExecution")
    ops = [op for e in events for op in e.get("stateOperators", [])]
    last_ops = {}
    for e in events:
        for i, op in enumerate(e.get("stateOperators", [])):
            last_ops[(e["id"], i)] = op
    return {
        "streaming.batches": len(events),
        "streaming.empty_batch_frac": (
            sum(1 for e in events if not e.get("numInputRows")) / len(events) if events else 0.0
        ),
        "streaming.trigger_ms_p50": med(trig),
        "streaming.trigger_ms_p90": pct(trig, 90) if trig else 0.0,
        "streaming.latest_offset_ms_p50": med(dur("latestOffset")),
        "streaming.get_batch_ms_p50": med(dur("getBatch")),
        "streaming.query_planning_ms_p50": med(dur("queryPlanning")),
        "streaming.add_batch_ms_p50": med(dur("addBatch")),
        "streaming.wal_commit_ms_p50": med(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": med(dur("commitOffsets")),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last_ops.values()),
        "streaming.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_ops.values()),
        "streaming.state_commit_ms_p50": med([op.get("commitTimeMs", 0) for op in ops]),
    }


def as_dict(progress) -> dict:
    """A StreamingQueryProgress (or the dict older PySpark returns)."""
    if isinstance(progress, dict):
        return progress
    return json.loads(progress.json)
