"""Installs perfbench's worker-side tracer in Python processes started
with this directory on PYTHONPATH and PERFBENCH_SPANS_DIR set (the Spark
Python workers of a traced run)."""

import os

if os.environ.get("PERFBENCH_SPANS_DIR"):
    import pbtrace

    pbtrace.install()
