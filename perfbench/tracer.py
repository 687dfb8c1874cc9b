"""Spans and counters for the traced run, in every process of a run.

A process with ``PERFBENCH_TRACE_DIR`` set (the engine, and through
``hook/sitecustomize.py`` every Spark Python worker) wraps the public
functions listed in ``TARGETS``. While the run's ``ENABLED`` flag file
exists, each call records a span (name, start, end, parent, run id) and
bumps its counters; self time is span time minus child span time. Data
is held in memory and written to ``<dir>/<pid>.json``: by a background
thread every half second (Spark workers are killed, not shut down) and
by ``flush()``. ``collect()`` merges the files of all processes.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"
RUN_ID_ENV = "PERFBENCH_RUN_ID"
MAX_SPANS = 20_000  # per process; aggregates stay exact beyond it


def _slice_obs(t, args, kwargs, result, *_) -> None:
    blobs = args[1] if len(args) > 1 else kwargs["blobs"]
    n = len(blobs)
    t.count("sources.slice_rows", n)
    t.count("sources.slice_pkts", len(result))
    if n > 1 and all(b is not None and len(b) == 188 for b in blobs):
        t.count("sources.fused_rows", n)


def _udp_read_obs(t, args, kwargs, result, *_) -> None:
    start = args[1] if len(args) > 1 else kwargs["start"]
    t.count("sources.udp_reads", 1)
    t.count("sources.udp_dgrams", int(result[1]["seq"]) - int(start["seq"]))


def _parse_obs(t, args, kwargs, result, *_) -> None:
    t.count("codec.parse_bytes", len(args[0] if args else kwargs["buf"]))


def _crc_obs(t, args, kwargs, result, *_) -> None:
    t.count("codec.crc_checks", 1)
    if not result:
        t.count("codec.crc_fails", 1)


def _cpu_pre(t, args, kwargs):
    return time.process_time()


def _python_task_obs(t, args, kwargs, result, cpu0, dt) -> None:
    t.count("session.python_task_cpu_s", time.process_time() - cpu0)


def _corpus_cached_pre(t, args, kwargs):
    cache, spark, sf_dir = args[0], args[1], args[2]
    return (spark.sparkContext.applicationId, sf_dir) in cache


def _corpus_cached_obs(t, args, kwargs, result, hit, dt) -> None:
    t.count("plans.corpus_cached_calls", 1)
    if hit:
        t.count("plans.corpus_cached_hits", 1)
    else:
        t.count("plans.corpus_cached_build_s", dt)


def _durable_pre(t, args, kwargs):
    from streamprocessors_spark import storage

    cache, spark, sf_dir, parts = args[0], args[1], args[2], args[3]
    if (spark.sparkContext.applicationId, sf_dir) in cache:
        return "memory"
    paths = [storage.store_path(sf_dir, p[0]) for p in parts]
    return "disk" if all(storage._committed(p) for p in paths) else "build"


def _durable_obs(t, args, kwargs, result, how, dt) -> None:
    t.count(f"storage.durable_{how}", 1)


# (span name, module, attribute path,
#  observer(t, args, kwargs, result, token, seconds) called after each call,
#  pre(t, args, kwargs) -> the token, called before it)
TARGETS = [
    ("sources.slice", "streamprocessors_spark.sources.ts_source", "_slice_batch", _slice_obs, None),
    ("sources.udp_read", "streamprocessors_spark.sources.udp", "UDPStreamReader.read", _udp_read_obs, None),
    ("codec.parse", "streamprocessors_spark.codec.ts", "parse_ts_buffer_np", _parse_obs, None),
    ("codec.section_push", "streamprocessors_spark.codec.psi", "SectionReassembler.push", None, None),
    ("codec.parse_section", "streamprocessors_spark.codec.psi", "parse_section", None, None),
    ("codec.crc", "streamprocessors_spark.codec.crc", "crc32_mpeg2_ok", _crc_obs, None),
    # one Spark task in a Python worker, from the first byte read to the
    # last written, and the CPU the worker spent on it
    ("session.python_task", "pyspark.worker", "main", _python_task_obs, _cpu_pre),
    ("streaming.run_available_now", "streamprocessors_spark.streaming.runner", "run_available_now", None, None),
    ("streaming.run_available_now", "streamprocessors_spark.streaming.runner", "run_available_now_many", None, None),
    ("plans.corpus_cached", "streamprocessors_spark.plans.llm_ops", "corpus_cached", _corpus_cached_obs, _corpus_cached_pre),
    ("storage.write_store", "streamprocessors_spark.storage", "write_store", None, None),
    ("storage.durable_frames", "streamprocessors_spark.storage", "durable_frames", _durable_obs, _durable_pre),
]


class Tracer:
    def __init__(self, out_dir: str, run_id: str) -> None:
        self.out_dir = out_dir
        self.run_id = run_id
        self.flag = os.path.join(out_dir, "ENABLED")
        self._reset()

    def _reset(self) -> None:
        self.pid = os.getpid()
        self.lock = threading.Lock()
        self.local = threading.local()
        self.spans: list[tuple] = []
        self.agg: dict[str, list[float]] = {}  # name -> [calls, total_s, self_s]
        self.counters: dict[str, float] = {}
        self.dirty = False
        self.flusher_started = False
        self._on = False
        self._next_check = 0.0

    # -- switching ---------------------------------------------------------

    def enabled(self) -> bool:
        if os.getpid() != self.pid:  # forked worker: start clean
            self._reset()
        now = time.monotonic()
        if now >= self._next_check:
            self._on = os.path.exists(self.flag)
            self._next_check = now + 0.2
        return self._on

    def set_enabled(self, on: bool) -> None:
        """Switch tracing for every process of the run (workers see the
        flag within 0.2 s)."""
        if on:
            open(self.flag, "w").close()
        elif os.path.exists(self.flag):
            os.remove(self.flag)
        self._on = on
        self._next_check = time.monotonic() + 0.2

    # -- recording ---------------------------------------------------------

    def count(self, name: str, v: float = 1.0) -> None:
        with self.lock:
            self.counters[name] = self.counters.get(name, 0.0) + v
            self.dirty = True

    def _stack(self) -> list:
        st = getattr(self.local, "stack", None)
        if st is None:
            st = self.local.stack = []
        return st

    def begin(self, name: str) -> list:
        st = self._stack()
        idx = -1
        with self.lock:
            if len(self.spans) < MAX_SPANS:
                idx = len(self.spans)
                self.spans.append(None)  # reserved; filled by end()
        # frame: name, start, child time, parent span index, own index
        frame = [name, time.monotonic(), 0.0, st[-1][4] if st else -1, idx]
        st.append(frame)
        if not self.flusher_started:
            self._start_flusher()
        return frame

    def end(self, frame: list) -> float:
        end = time.monotonic()
        st = self._stack()
        st.pop()
        name, start, child, parent, idx = frame
        dur = end - start
        if st:
            st[-1][2] += dur
        with self.lock:
            a = self.agg.setdefault(name, [0, 0.0, 0.0])
            a[0] += 1
            a[1] += dur
            a[2] += dur - child
            if idx >= 0:
                self.spans[idx] = (name, start, end, parent, self.run_id)
            self.dirty = True
        return dur

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.frame = tracer.begin(name)
                return self

            def __exit__(self, *exc):
                tracer.end(self.frame)
                return False

        return _Span()

    def wrap(self, fn, name: str, observe=None, pre=None):
        tracer = self
        if inspect.isgeneratorfunction(fn):

            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                it = fn(*args, **kwargs)
                if not tracer.enabled():
                    yield from it
                    return
                while True:
                    frame = tracer.begin(name)
                    try:
                        item = next(it)
                    except StopIteration:
                        tracer.end(frame)
                        return
                    tracer.end(frame)
                    tracer.count(name + ".items", 1)
                    yield item

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled():
                return fn(*args, **kwargs)
            token = pre(tracer, args, kwargs) if pre else None
            frame = tracer.begin(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                dt = tracer.end(frame)
            if observe is not None:
                observe(tracer, args, kwargs, result, token, dt)
            return result

        return wrapper

    # -- output ------------------------------------------------------------

    def flush(self) -> None:
        with self.lock:
            if not self.dirty:
                return
            doc = {
                "pid": self.pid,
                "run_id": self.run_id,
                # a span still open is null, so parent indices hold
                "spans": list(self.spans),
                "agg": self.agg,
                "counters": self.counters,
            }
            self.dirty = False
        path = os.path.join(self.out_dir, f"{self.pid}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, path)

    def _start_flusher(self) -> None:
        self.flusher_started = True

        def loop():
            while True:
                time.sleep(0.5)
                try:
                    self.flush()
                except OSError:
                    return  # run directory gone: the run is over

        threading.Thread(target=loop, daemon=True, name="perfbench-trace").start()


_TRACER: Tracer | None = None


def _resolve(module, path: str):
    owner = module
    parts = path.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


def install() -> Tracer | None:
    """Wrap every target once per process; no-op without the env var."""
    global _TRACER
    out_dir = os.environ.get(TRACE_DIR_ENV)
    if not out_dir:
        return None
    if _TRACER is not None:
        return _TRACER
    t = Tracer(out_dir, os.environ.get(RUN_ID_ENV, "run"))
    originals = {}
    for name, mod_name, path, observe, pre in TARGETS:
        mod = importlib.import_module(mod_name)
        owner, attr = _resolve(mod, path)
        fn = getattr(owner, attr)
        w = t.wrap(fn, name, observe, pre)
        setattr(owner, attr, w)
        if owner is mod:
            originals[id(fn)] = (fn, w)
    # re-point names other modules imported with ``from x import f``
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("streamprocessors_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
    _TRACER = t
    return t


def collect(out_dir: str) -> dict:
    """Merge every process's file: summed aggregates and counters, all
    closed spans (tagged with their pid), and each process's own
    aggregates and span list (``by_pid``; parent indices point into it)."""
    agg: dict[str, list[float]] = {}
    counters: dict[str, float] = {}
    spans = []
    by_pid = {}
    for fn in sorted(os.listdir(out_dir)):
        if not fn.endswith(".json"):
            continue
        try:
            with open(os.path.join(out_dir, fn)) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        for k, v in doc["agg"].items():
            a = agg.setdefault(k, [0, 0.0, 0.0])
            for i in range(3):
                a[i] += v[i]
        for k, v in doc["counters"].items():
            counters[k] = counters.get(k, 0.0) + v
        spans.extend([*s, doc["pid"]] for s in doc["spans"] if s is not None)
        by_pid[doc["pid"]] = {"agg": doc["agg"], "spans": doc["spans"]}
    return {"agg": agg, "counters": counters, "spans": spans, "by_pid": by_pid}
