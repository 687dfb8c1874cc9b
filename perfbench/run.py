"""Benchmark entry point.

    python3 perfbench/run.py --workload {live_ingest,capture_demux,query_mix}
                             --seed N --seconds S --trace {0,1} [--trace-out FILE]

Run from the root of a checkout. Builds the workload's inputs from the
seed into a per-run directory (``.perfbench-runs/``), starts the engine
process with TMPDIR, the durable-store dir, Spark's local dirs, the JVM
temp dir and its working directory all inside that run directory, checks
the outputs, deletes the run directory and prints, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the run's host record (calibration
probes, generator lateness, ladder, trace accounting).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # a run must end within 180 s


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(proc: subprocess.Popen) -> None:
    """Stop whatever is left of the engine's process group (JVM, Python
    workers, senders) and wait until the group is gone: a grace period to
    exit on its own, then SIGTERM, then SIGKILL."""
    for sig, grace in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            proc.poll()
            if not _group_alive(proc.pid):
                return
            time.sleep(0.1)


def engine(args, run_dir: str, env: dict, deadline: float, extra=()) -> None:
    log_path = os.path.join(run_dir, "engine.log")
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"),
        "--workload", args.workload, "--run-dir", run_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace), *extra,
    ]
    env = dict(env, PERFBENCH_T0=repr(time.monotonic()))
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=log, start_new_session=True
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            code = proc.poll()
            stop_group(proc)
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        fail(f"engine failed (exit {code}):\n{tail}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()
    start = time.monotonic()

    for need in ("streamprocessors_spark/session.py", "tools/compare.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    sys.path[:0] = [ROOT, HERE]
    import workloads as W
    import tracer

    if args.workload not in W.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(W.WORKLOADS)}")

    run_dir = os.path.join(ROOT, ".perfbench-runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        for sub in ("tmp", "stores", "spark-local", "trace"):
            os.makedirs(os.path.join(run_dir, sub))
        getattr(W, {"live_ingest": "build_live", "capture_demux": "build_capture",
                    "query_mix": "build_mix"}[args.workload])(run_dir, args.seed)

        env = dict(os.environ)
        env.pop(tracer.TRACE_DIR_ENV, None)
        env.update(
            TMPDIR=os.path.join(run_dir, "tmp"),
            SPARK_GRAFT_STORE_DIR=os.path.join(run_dir, "stores"),
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            SPARK_SUBMIT_OPTS=(
                env.get("SPARK_SUBMIT_OPTS", "")
                + f" -Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
            ).strip(),
            # spark-class first runs a launcher JVM, which reads only these;
            # without -XX:-UsePerfData it creates /tmp/hsperfdata_<user>
            SPARK_LAUNCHER_OPTS=(
                env.get("SPARK_LAUNCHER_OPTS", "")
                + f" -Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
            ).strip(),
            SPARK_GRAFT_CPUS=str(W.CPUS),
            SPARK_GRAFT_DRIVER_MEM=W.DRIVER_MEM,
            PYTHONPATH=os.pathsep.join([ROOT, HERE]),
            PYTHONDONTWRITEBYTECODE="1",
            PERFBENCH_SEED=str(args.seed),
        )
        traced_env = dict(
            env,
            PYTHONPATH=os.pathsep.join([ROOT, HERE, os.path.join(HERE, "hook")]),
            **{tracer.TRACE_DIR_ENV: os.path.join(run_dir, "trace"),
               tracer.RUN_ID_ENV: f"{args.workload}-{args.seed}"},
        )
        deadline = start + RUN_LIMIT_S
        engine(args, run_dir, traced_env if args.trace else env, deadline)
        with open(os.path.join(run_dir, "engine-main.json")) as f:
            out = json.load(f)
        if args.trace:
            # the single-thread stream-processing baseline: capture_demux
            # at local[1], untraced
            if not os.path.isdir(os.path.join(run_dir, "capture")):
                W.build_capture(run_dir, args.seed)
            engine(args, run_dir, env, deadline,
                   ("--workload", "capture_demux", "--master", "local[1]",
                    "--baseline", "1", "--trace", "0"))
            with open(os.path.join(run_dir, "engine-baseline.json")) as f:
                key = "baseline.local1_demux_mbps"
                out["layers"][key] = json.load(f)["layers"][key]
        if args.trace and args.trace_out:
            with open(args.trace_out, "w") as f:
                json.dump(tracer.collect(os.path.join(run_dir, "trace")), f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is using it

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        catalogue = json.load(f)["per_layer" if args.trace else "end_to_end"]
    names = [(m["name"], m["unit"]) for m in catalogue]
    values = out["layers" if args.trace else "metrics"]
    missing = [n for n, _ in names if n not in values]
    if missing and not args.trace:
        fail(f"engine did not measure {missing}")
    record = {k: out.get(k) for k in ("host", "ladder", "accounting", "errors") if out.get(k)}
    if missing:
        # layers this workload does not run: printed as 0, listed here
        record["not_measured"] = missing
    record.setdefault("host", {})["run_s"] = time.monotonic() - start
    record["workload"] = args.workload
    record["seed"] = args.seed
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": bool(out["correct"]),
                "attempted": int(out["attempted"]),
                "failed": int(out["failed"]),
                "metrics": {
                    n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names
                },
            }
        )
    )


if __name__ == "__main__":
    main()
