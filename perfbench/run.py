#!/usr/bin/env python3
"""Benchmark of record for eynollah_spark on one box.

    python3 perfbench/run.py --workload extraction|queries \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  One process starts a
``local[<cores>]`` session through ``session.build_session``, ships the
package (``packaging.ensure_distributed``), warms the Python workers,
then runs the workload's timed operations one at a time (closed
loop, one client) and checks every output untimed.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics, scaled to a quiet host by the host
clock sampled before the session starts and after it stops
(``procs.HostClock``), or with ``--trace 1`` the per-layer metrics of
BENCHMARK.json.  ``--all`` runs both workloads untraced and prints the
named end-to-end metrics of each.

Everything the run writes stays under ``perfbench/.work/<pid>`` (removed
at exit) and ``perfbench/.cache`` (seeded inputs, DuckDB oracle).  On
every way out, SIGTERM included, the run ends every process it started,
directly or not, and waits for each (``procs.reap_all``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extraction", "queries")
HEAVY_MIN_SPANS = 5000     # heavy docs have ~10^4 spans; generator docs far fewer
JVM_MEMORY = "4g"           # local mode runs the executors in this JVM; the box has 15 GB


def _configure_env(work: str, cache: str):
    """Launch settings, fixed before any JVM starts: local[cores], box-sized
    JVM memory, every working directory (Spark local dirs, JVM and Python
    temp files, the program's oracle exports) inside this checkout."""
    import procs

    tmp = f"{work}/tmp"
    for d in (tmp, f"{work}/spark-local"):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,   # workers run this interpreter
        "SPARK_GRAFT_CPUS": str(procs.cores()),
        "SPARK_GRAFT_DRIVER_MEM": JVM_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": f"{work}/spark-local",
        "EYNOLLAH_SPARK_REPO": f"{cache}/program",
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip(),
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    import tempfile

    tempfile.tempdir = tmp


def _configure_trace(work: str):
    """Traced run: the event log by launch conf, and the worker-side tracer
    on the Python workers' path."""
    for d in (f"{work}/spans", f"{work}/eventlog"):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (f"{HERE}/hook", os.environ.get("PYTHONPATH")) if p)
    os.environ["PERFBENCH_SPANS_DIR"] = f"{work}/spans"
    conf = ["spark.ui.showConsoleProgress=false", "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work}/eventlog", "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"


def _warm(batches):
    """Import the engine's worker-side modules in a Python worker."""
    import time

    import eynollah_spark.corpus  # noqa: F401
    import eynollah_spark.kernels.sublines  # noqa: F401
    import eynollah_spark.pipeline  # noqa: F401
    import eynollah_spark.queries  # noqa: F401

    time.sleep(0.25)  # keep every task alive so each core gets its own worker
    yield from batches


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """One run: the host clock's samples around the measured session, and
    the result line."""
    cache = f"{HERE}/.cache"
    sys.path.insert(0, ROOT)
    import procs

    n = procs.cores()
    t0 = time.perf_counter()
    clock = procs.HostClock(n)
    try:
        clock.sample()
        clock_s = time.perf_counter() - t0
        res, setup_s, layer = _measure(workload, seed, seconds, trace, work, cache, clock_s)
        setup_s += res.get("warmup_s", 0.0)   # extraction's warm-up operations
        clock.sample()   # the session and its workers have stopped
    finally:
        clock.close()
    scaled = {k: clock.scale(v) for k, v in (("setup_s", setup_s),
                                             ("primary_s", res["primary_s"]),
                                             ("secondary_s", res["secondary_s"]))}
    host_ref_s = statistics.median(clock.samples)
    named = ({"bucketed_docs_per_s": res["n_docs"] / scaled["primary_s"],
              "snapshot_docs_per_s": res["snapshot_docs"] / scaled["secondary_s"]}
             if workload == "extraction" else
             {"queries_warm_s": scaled["primary_s"], "queries_cold_s": scaled["secondary_s"]})
    for k, v in {"setup_s": scaled["setup_s"], **named}.items():
        print(f"perfbench: {workload} {k} = {v:.4f} {'docs/s' if k.endswith('per_s') else 's'}",
              flush=True)
    print(f"perfbench: {workload} host_ref_s = {host_ref_s:.4f} s (quiet host "
          f"{procs.REF_NOMINAL_S} s); measured setup_s {setup_s:.4f} s, primary_s "
          f"{res['primary_s']:.4f} s, secondary_s {res['secondary_s']:.4f} s", flush=True)
    if trace:
        import layers

        layer["kernels.py_calls_per_doc"] = layers.py_calls_per_doc()
        units = set(res["traced_units"])
        layer.update(layers.span_metrics(f"{work}/spans", units, res["n_traced"]))
        if workload == "extraction":
            # the kernel's share of the bucketed scan's cores x wall, and the
            # heavy tail's share of the snapshot's kernel time
            b, s = res["traced_units"]
            layer["kernels.bucketed_busy_frac"] = (
                layers.kernel_s(f"{work}/spans", b) / (n * res["bucketed_wall"]))
            layer["kernels.snapshot_heavy_frac"] = (
                layers.kernel_s(f"{work}/spans", s, HEAVY_MIN_SPANS)
                / layers.kernel_s(f"{work}/spans", s))
        sites = layers.lineage_call_sites(ROOT)
        layer.update(layers.spark_metrics(f"{work}/eventlog", units, res["n_traced"], sites))
        if res.get("bucketed_units"):
            layer["spark.bucketed_shuffle_write_bytes"] = layers.spark_metrics(
                f"{work}/eventlog", set(res["bucketed_units"]), res["n_traced"],
                sites)["spark.shuffle_write_bytes"]
        layer.update(res.get("layer", {}))
        layer["trace.overhead_frac"] = res["overhead_frac"]
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
        # layers this workload does not run report 0
        metrics = {name: (layer.get(name, 0.0), unit) for name, unit in names}
    else:
        metrics = {**{k: (v, "s") for k, v in scaled.items()},
                   "worker_peak_rss_mb": (res["worker_peak_rss_mb"], "MB")}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}


def _measure(workload: str, seed: int, seconds: float, trace: bool, work: str, cache: str,
             clock_s: float):
    """Start the session, build the inputs on a cache miss, run the
    workload and stop every process the session started.  Returns the
    workload's result, ``setup_s`` (measured, without the ``clock_s`` the
    host clock took before) and the set-up layer numbers."""
    import inputs
    import procs

    _configure_env(work, cache)
    if trace:
        _configure_trace(work)

    from eynollah_spark.packaging import ensure_distributed
    from eynollah_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app=f"perfbench-{workload}")
    t1 = time.perf_counter()
    ensure_distributed(spark)
    t2 = time.perf_counter()
    n = procs.cores()
    # two chained Python operators per task: a stage with chained UDFs holds
    # two workers per core, and every one of them starts warm
    spark.range(0, n, 1, n).mapInArrow(_warm, "id long").mapInArrow(_warm, "id long").collect()
    t3 = time.perf_counter()
    setup_s = procs.since_launch() - clock_s
    # inputs: built in this session on a cache miss, after set-up is taken
    corpus, meta = (inputs.ensure_corpus(spark, cache, ROOT, seed)
                    if workload == "extraction" else (None, {"gen_s": 0.0}))
    inputs_s = time.perf_counter() - t3
    print(f"perfbench: setup {setup_s:.3f}s (session {t1 - t0:.3f}s, ship {t2 - t1:.3f}s, "
          f"warm {t3 - t2:.3f}s; then inputs {inputs_s:.3f}s)", file=sys.stderr, flush=True)
    layer = {"session.build_s": t1 - t0, "packaging.ensure_distributed_s": t2 - t1,
             "session.worker_warm_s": t3 - t2, "corpus.gen_s": meta["gen_s"]}
    try:
        if trace:
            sys.path.insert(0, f"{HERE}/hook")
            import pbtrace

            import eynollah_spark.pipeline as pipeline

            pbtrace.patch_pipeline(pipeline)
        import workloads

        if workload == "extraction":
            res = workloads.extraction(spark, corpus, meta, seconds, trace, work)
        else:
            res = workloads.queries(spark, ROOT, cache, seconds, trace)
    finally:
        layer["spark.jvm_vmhwm_mb"] = procs.vmhwm_mb(procs.jvm_pid())
        procs.stop(spark)
    return res, setup_s, layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and print its named metrics")
    a = ap.parse_args()
    os.chdir(ROOT)
    for need in ("eynollah_spark/pipeline.py", "__spark_entry__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    if a.all:
        for wl in WORKLOADS:
            subprocess.run([sys.executable, __file__, "--workload", wl, "--seed", str(a.seed),
                            "--seconds", str(a.seconds)], check=True)
        return 0
    if a.workload is None:
        ap.error("--workload is required")
    work = f"{HERE}/.work/{os.getpid()}"
    import procs

    procs.become_subreaper()
    # a SIGTERM unwinds through the finally below like any other way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        procs.reap_all()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
