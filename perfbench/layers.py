"""Per-layer numbers of a traced run: worker spans, the Spark event log and
an in-process call count.  Every value is per traced unit (the traced
extraction pair, or the traced warm query pass)."""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

import numpy as np

KERNEL_PHASES = ("estimate_skew", "find_gutters", "split_main_and_marginal",
                 "find_splitters", "cluster_lines_into_regions", "order_lines_in_region")


def _spans(spans_dir: str):
    """Every recorded span as (file, name, start, duration, self time, run, n)."""
    for path in glob.glob(os.path.join(spans_dir, "spans-*.jsonl")):
        with open(path) as f:
            for line in f:
                batch = json.loads(line)
                child = defaultdict(float)
                for name, _s, _e, dur, parent, run, n in batch:
                    if parent >= 0:
                        child[parent] += dur
                for i, (name, start, _e, dur, parent, run, n) in enumerate(batch):
                    yield path, name, start, dur, dur - child[i], run, n


def span_metrics(spans_dir: str, units: set[str], n_units: int) -> dict:
    """kernels.* and pipeline.* from the worker span files."""
    total = defaultdict(float)
    docs, spans, doc_ms, task_rows = 0, 0, [], defaultdict(int)
    for path, name, start, dur, self_s, run, n in _spans(spans_dir):
        if run not in units:
            continue
        if name == "kernels.layout_permutation":
            docs += 1
            spans += n
            doc_ms.append(dur * 1e3)
            total["kernels.self_s"] += self_s
            total["kernels.layout_permutation_s"] += dur
        elif name.startswith("kernels."):
            total[f"{name}_s"] += self_s
        elif name == "pipeline.kernel":
            task_rows[path, start] += n
        else:
            total[f"{name}_s"] += dur
    k = max(n_units, 1)
    out = {key: total[key] / k for key in (
        "kernels.layout_permutation_s", "kernels.self_s",
        *(f"kernels.{p}_s" for p in KERNEL_PHASES),
        "pipeline.read_s", "pipeline.sort_s", "pipeline.emit_s", "pipeline.write_s")}
    rows = list(task_rows.values())
    out.update({
        "kernels.docs": docs / k, "kernels.spans": spans / k,
        "kernels.doc_ms_p50": float(np.percentile(doc_ms, 50)) if doc_ms else 0.0,
        "kernels.doc_ms_p99": float(np.percentile(doc_ms, 99)) if doc_ms else 0.0,
        "pipeline.rows_per_task_max": max(rows, default=0),
        "pipeline.rows_per_task_mean": statistics.mean(rows) if rows else 0.0,
    })
    return out


def kernel_s(spans_dir: str, run: str, min_spans: int = 0) -> float:
    """Summed layout_permutation time of one traced operation, over the
    documents with at least ``min_spans`` spans."""
    return sum(dur for _p, name, _s, dur, _self, r, n in _spans(spans_dir)
               if r == run and name == "kernels.layout_permutation" and n >= min_spans)


def _acc(task_info: dict, name: str) -> float:
    return sum(float(a.get("Update", 0)) for a in task_info.get("Accumulables", [])
               if a.get("Name") == name)


def spark_metrics(eventlog_dir: str, units: set[str], n_units: int,
                  lineage_sites: tuple[str, ...]) -> dict:
    """spark.* per traced unit from the event log, plus manifest.lineage_s:
    the wall of jobs whose Spark call site is one of ``lineage_sites``
    (run_extraction's stats jobs, not its write job)."""
    jobs, stage_job, lineage = {}, {}, 0.0
    task_s = defaultdict(list)
    tot = defaultdict(float)
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("perfbench.op") not in units:
                        continue
                    jid = ev["Job ID"]
                    jobs[jid] = (props.get("callSite.short", ""), ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    site, t0 = jobs[ev["Job ID"]]
                    if site.endswith(lineage_sites):
                        lineage += (ev["Completion Time"] - t0) / 1e3
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["run"] += m.get("Executor Run Time", 0) / 1e3
                    tot["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    tot["sw"] += sw.get("Shuffle Bytes Written", 0)
                    tot["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    tot["spill"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                    tot["sort"] += _acc(info, "sort time") / 1e3
                    tot["py_sent"] += _acc(info, "data sent to Python workers")
                    tot["py_recv"] += _acc(info, "data returned from Python workers")
                    task_s[ev["Stage ID"], ev.get("Stage Attempt ID", 0)].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1e3)
    ratios = [max(v) / statistics.median(v) for v in task_s.values()
              if len(v) >= 4 and statistics.median(v) > 0]
    k = max(n_units, 1)
    return {
        "spark.jobs": len(jobs) / k, "spark.tasks": tot["tasks"] / k,
        "spark.executor_run_s": tot["run"] / k, "spark.executor_cpu_s": tot["cpu"] / k,
        "spark.gc_s": tot["gc"] / k,
        "spark.task_s_max_over_median": max(ratios, default=1.0),
        "spark.shuffle_write_bytes": tot["sw"] / k, "spark.shuffle_read_bytes": tot["sr"] / k,
        "spark.sort_s": tot["sort"] / k, "spark.spill_bytes": tot["spill"] / k,
        "spark.python_bytes_sent": tot["py_sent"] / k,
        "spark.python_bytes_received": tot["py_recv"] / k,
        "manifest.lineage_s": lineage / k,
    }


def lineage_call_sites(root: str) -> tuple[str, ...]:
    """Call sites ('collect at .../manifest.py:<line>') of run_extraction's
    lineage/stats jobs: every Spark action in manifest.py after its write."""
    path = os.path.join(root, "eynollah_spark", "manifest.py")
    with open(path) as f:
        lines = f.read().splitlines()
    start = next((i for i, s in enumerate(lines) if "def run_extraction" in s), len(lines))
    write = next((i for i in range(start, len(lines)) if ".parquet(_snap_dir(" in lines[i]),
                 len(lines))
    return tuple(f"manifest.py:{i + 1}" for i in range(write + 1, len(lines))
                 if any(a in lines[i] for a in (".collect()", "spark.read.parquet(")))


def py_calls_per_doc(n_docs: int = 200, seed: int = 42) -> float:
    """Python-level calls per layout_permutation over a fixed seeded sample
    (gen_doc(i, 42), i < n_docs), counted in-process with sys.setprofile."""
    import sys

    from eynollah_spark.corpus import gen_doc
    from eynollah_spark.kernels.layout import DocSpans, layout_permutation

    docs = []
    for i in range(n_docs):
        a, m = gen_doc(i, seed)
        if len(a["kind"]):
            docs.append(DocSpans(kind=a["kind"], text=None, media_ref=None, offset=a["offset"],
                                 x0=a["x0"].astype(float), x1=a["x1"].astype(float),
                                 y0=a["y0"].astype(float), y1=a["y1"].astype(float),
                                 width=m["width"], height=m["height"], rtl=m["rtl"]))
    layout_permutation(docs[0])  # first-call imports stay out of the count
    calls = 0

    def prof(frame, event, arg):
        nonlocal calls
        if event == "call":
            calls += 1

    sys.setprofile(prof)
    try:
        for d in docs:
            layout_permutation(d)
    finally:
        sys.setprofile(None)
    return calls / len(docs)
