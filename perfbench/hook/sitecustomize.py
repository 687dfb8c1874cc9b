"""Installs the benchmark's tracer in every Python process of a traced
run, Spark's Python workers included (they inherit PYTHONPATH)."""

import os
import sys

if os.environ.get("PERFBENCH_TRACE_DIR"):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    try:
        import tracer

        tracer.install()
    except Exception as exc:  # never break a worker over tracing
        sys.stderr.write(f"perfbench: tracer not installed: {exc!r}\n")
