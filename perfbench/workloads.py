"""The two workloads: timed operations and their untimed output checks.

Every timed operation runs under the Spark local property ``perfbench.op``
(its label, kept in the event log) and, when it is traced,
``perfbench.run`` (read by the worker-side tracer).  A timed operation
that raises, or whose output fails its check, counts as failed.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

perf = time.perf_counter

#: 4 of ROADMAP's 16 headline queries, in the fixed order they run: one per
#: SQL plan family (join + top-k, window) and both kernel queries.  The
#: full 16 cost ~40 s cold plus ~15 s warm per run on a 4-core box, more
#: than the runs' time budget allows.
QUERIES = ("tpch_q3_topk", "events_sessionize", "ro_subline_split", "extract_reading_order")

SF_DIR = "perfbench/data/sf0.01"   # relative: the sf regex must see only this
MIN_WARM_OPS = 2       # timed extraction operations of each kind per run, at least
MIN_WARM_PASSES = 3    # warm query passes per run, at least


def _label(spark, op: str, traced: bool):
    sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op)
    sc.setLocalProperty("perfbench.run", op if traced else None)


def _warn(what: str):
    print(f"perfbench: FAILED {what}", flush=True)
    traceback.print_exc()


# ----------------------------------------------------------- extraction --

def _keys(t):
    """Doc index and (doc index, offset) packed into one int64 per row;
    offsets stay below 2^31."""
    import pyarrow as pa
    import pyarrow.compute as pc

    doc = pc.cast(pc.utf8_slice_codeunits(t.column("doc_id"), 3), pa.int64()).to_numpy()
    off = t.column("offset").to_numpy().astype(np.int64)
    return doc, (doc << 31) | off


def _sorted_rows(t, mask=None):
    """(key, ord, kind) of a table's rows (those under ``mask``), by key."""
    doc, key = _keys(t)
    ords = t.column("ord").to_numpy()
    kinds = t.column("kind").to_numpy(zero_copy_only=False).astype(str)
    if mask is not None:
        key, ords, kinds = key[mask], ords[mask], kinds[mask]
    o = np.argsort(key, kind="stable")
    return key[o], ords[o], kinds[o]


class _Expected:
    """The generator's reading order per (doc, offset); the heavy docs'
    inflated input keys; and ``ref``, the bucketed entry point's output
    rows over the heavy docs."""

    def __init__(self, corpus: str, meta: dict):
        import pyarrow.parquet as pq

        t = pq.read_table(f"{corpus}/expected").rename_columns(
            ["doc_id", "offset", "ord", "kind"])
        doc, _ = _keys(t)
        self.key, self.rank, self.kind = _sorted_rows(t)
        doc = np.sort(doc)
        self.heavy = np.array([int(d[3:]) for d in meta["heavy_ids"]], dtype=np.int64)
        in_snap = doc < meta["snapshot_docs"]
        self.snap_docs = len(np.unique(doc[in_snap]))     # snapshot docs with spans
        self.snap_light = in_snap & ~np.isin(doc, self.heavy)
        self.heavy_key = np.sort(_keys(pq.read_table(f"{corpus}/heavy",
                                                     columns=["doc_id", "offset"]))[1])
        self.ref = None


def _check_rows(t, exp: _Expected, snapshot: bool) -> bool:
    """Normal docs: every input (doc, offset) emitted exactly once, with the
    generator's expected (ord, kind).  Heavy docs of the snapshot input:
    every inflated (doc, offset) emitted exactly once, with the (ord, kind)
    the bucketed entry point gives them (identical output across entry
    points)."""
    doc, _ = _keys(t)
    heavy = np.isin(doc, exp.heavy) if snapshot else np.zeros(len(doc), bool)
    if snapshot:
        key, ords, kinds = _sorted_rows(t, heavy)
        ref_key, ref_ord, ref_kind = exp.ref
        if not (np.array_equal(key, exp.heavy_key) and np.array_equal(key, ref_key)
                and np.array_equal(ords, ref_ord) and np.array_equal(kinds, ref_kind)):
            return False
    sel = exp.snap_light if snapshot else slice(None)
    key, ords, kinds = _sorted_rows(t, ~heavy)
    return (np.array_equal(key, exp.key[sel]) and np.array_equal(ords, exp.rank[sel])
            and np.array_equal(kinds, exp.kind[sel]))


def extraction(spark, corpus: str, meta: dict, seconds: float, trace: bool, work: str) -> dict:
    """Timed operations: the flagship bucketed task-side scan over the
    corpus (scan -> kernel -> task-side write, zero shuffles) and
    ``run_extraction`` of the heavy-tailed nested table to a committed
    snapshot alternate, warm, until ``seconds`` of operations are measured
    and each kind ran at least MIN_WARM_OPS times.  The metrics are their
    medians.  A traced run instead makes one traced and one untraced pair.

    First, untimed, the bucketed entry point extracts the heavy docs: its
    output is the reference of the snapshots' heavy-doc check.  Then one
    operation of each kind warms its path (the JVM compiles its hot code
    over the first full run: a session's first scan costs ~1.3 times a warm
    one, its first snapshot ~2 times); they are checked and counted in
    ``attempted`` but not in the medians, and their walls are part of
    ``setup_s`` (``warmup_s``), so that work moved into them shows.  The workers' peak memory is
    restarted after them and read before any later untimed job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import procs
    from eynollah_spark.manifest import read_as_of, run_extraction
    from eynollah_spark.pipeline import extract_from_parquet_files

    exp = _Expected(corpus, meta)
    files = sorted(glob.glob(f"{corpus}/bucketed/*.parquet"))
    nested = spark.read.parquet(f"{corpus}/nested")
    _label(spark, "check.heavy", False)
    t0 = perf()
    exp.ref = _sorted_rows(pa.Table.from_pandas(extract_from_parquet_files(
        spark, sorted(glob.glob(f"{corpus}/heavy/*.parquet")), include_payload=False)
        .toPandas()))
    print(f"perfbench: heavy-doc reference {perf() - t0:.3f}s", file=sys.stderr, flush=True)
    ops: list[dict] = []

    def bucketed(traced: bool) -> dict:
        op = {"kind": "bucketed", "label": f"op{len(ops)}.bucketed", "traced": traced, "ok": False}
        out = f"{work}/out/{op['label']}"
        os.makedirs(out)
        _label(spark, op["label"], traced)
        t0 = perf()
        try:
            n_rows = sum(row["n_rows"] for row in extract_from_parquet_files(
                spark, files, write_dir=out, stats_only=True).collect())
            op["wall"] = perf() - t0
            got = pq.read_table(out, columns=["doc_id", "ord", "kind", "offset"])
            op["ok"] = n_rows == got.num_rows and _check_rows(got, exp, False)
        except Exception:
            op.setdefault("wall", perf() - t0)
            _warn(op["label"])
        op["check_s"] = perf() - t0 - op["wall"]
        shutil.rmtree(out, ignore_errors=True)
        return op

    def snapshot(traced: bool) -> dict:
        op = {"kind": "snapshot", "label": f"op{len(ops)}.snapshot", "traced": traced, "ok": False}
        out = f"{work}/out/{op['label']}"
        _label(spark, op["label"], traced)
        t0 = perf()
        try:
            summary = run_extraction(nested, out, parts_per_batch=8)
            op["wall"] = perf() - t0
            t1 = perf()
            snap = read_as_of(spark, out)
            n_out = snap.count()
            read_s = perf() - t1
            _label(spark, f"{op['label']}.check", False)
            paths = [p.removeprefix("file://").removeprefix("file:") for p in snap.inputFiles()]
            got = pq.read_table(paths, columns=["doc_id", "ord", "kind", "offset"])
            op.update(commits=len(summary.get("snapshot_ids", [])), read_as_of_s=read_s,
                      bytes_out=sum(os.path.getsize(p) for p in paths))
            op["ok"] = (summary["docs"] == exp.snap_docs and n_out == got.num_rows
                        and _check_rows(got, exp, True))
        except Exception:
            op.setdefault("wall", perf() - t0)
            _warn(op["label"])
        op["check_s"] = perf() - t0 - op["wall"]
        shutil.rmtree(out, ignore_errors=True)
        return op

    for step in (bucketed, snapshot):   # warm-up
        ops.append(step(False))
    procs.reset_peak_rss()
    if trace:
        for step, traced in ((bucketed, True), (snapshot, True), (bucketed, False),
                             (snapshot, False)):
            ops.append(step(traced))
    while not trace and (sum(o["wall"] for o in ops[2:]) < seconds or min(
            sum(o["kind"] == k for o in ops[2:]) for k in ("bucketed", "snapshot"))
            < MIN_WARM_OPS):
        ops.append((snapshot if ops[-1]["kind"] == "bucketed" else bucketed)(False))
    rss = procs.worker_peak_rss_mb()

    for o in ops:
        print(f"perfbench: {o['label']} traced={o['traced']} {o['wall']:.3f}s ok={o['ok']} "
              f"(check {o['check_s']:.3f}s)", file=sys.stderr, flush=True)

    timed = ops[2:]
    warm = {k: statistics.median(o["wall"] for o in timed if o["kind"] == k)
            for k in ("bucketed", "snapshot")}
    res = {
        "attempted": len(ops), "failed": sum(not o["ok"] for o in ops),
        "primary_s": warm["bucketed"], "secondary_s": warm["snapshot"],
        "worker_peak_rss_mb": rss,
        "warmup_s": sum(o["wall"] for o in ops[:2]),
        "n_docs": meta["n_docs"], "snapshot_docs": meta["snapshot_docs"],
        "traced_units": [o["label"] for o in ops if o["traced"]],
        "bucketed_units": [o["label"] for o in ops if o["traced"] and o["kind"] == "bucketed"],
        "n_traced": 1 if trace else 0,
    }
    if trace:
        t, u = timed[0:2], timed[2:4]
        res["overhead_frac"] = sum(o["wall"] for o in t) / sum(o["wall"] for o in u) - 1
        res["bucketed_wall"] = timed[0]["wall"]
        s = timed[1]
        nested_bytes = sum(os.path.getsize(p) for p in glob.glob(f"{corpus}/nested/*.parquet"))
        res["layer"] = {
            "manifest.commits": s.get("commits", 0),
            "manifest.read_as_of_s": s.get("read_as_of_s", 0.0),
            "manifest.bytes_out_per_byte_in": s.get("bytes_out", 0) / nested_bytes,
        }
    return res


# -------------------------------------------------------------- queries --

def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle(root: str, cache: str, normalize) -> dict:
    """Normalized DuckDB oracle result per query, computed once per (query
    and generator sources, normalization, data files) and cached.  Must run
    after the queries' first Spark pass: generator-backed oracles read the
    truth files those calls export."""
    import duckdb

    import __spark_entry__ as entry
    from eynollah_spark.queries import TABLES

    h = hashlib.sha256(repr(QUERIES).encode())
    for rel in ("eynollah_spark/queries.py", "eynollah_spark/corpus.py", "tools/check_oracle.py",
                *sorted(glob.glob(f"{SF_DIR}/*.parquet"))):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + f.read())
    path = os.path.join(cache, f"oracle-{h.hexdigest()[:16]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    sql = entry.oracle_sql()
    res = {name: normalize(con.execute(sql[name]).fetchdf()) for name in QUERIES}
    con.close()
    os.makedirs(cache, exist_ok=True)
    with open(f"{path}.tmp", "wb") as f:
        pickle.dump(res, f)
    os.replace(f"{path}.tmp", path)
    return res


def _same(got, want, normalize) -> bool:
    a = normalize(got)
    return list(a.columns) == list(want.columns) and len(a) == len(want) and a.equals(want)


def queries(spark, root: str, cache: str, seconds: float, trace: bool) -> dict:
    """One cold pass over the queries in the fresh session, then warm passes
    until ``seconds`` of calls (the cold pass included) are measured and at
    least MIN_WARM_PASSES passes ran.  The first warm pass runs ~15 % slower
    than later ones; a median over three passes leaves it out.  In a traced
    run the cold pass and the second warm pass are traced.  Each call is
    timed through ``toPandas()``, i.e. until its result is in this
    process."""
    import __spark_entry__ as entry
    import procs

    qs = entry.queries()
    results, walls = {}, {}
    timed_s, p = 0.0, 0
    procs.reset_peak_rss()
    while p < MIN_WARM_PASSES + 1 or (not trace and timed_s < seconds):
        tag = "cold" if p == 0 else f"w{p}"
        traced = trace and p in (0, 2)
        for name in QUERIES:
            _label(spark, f"{tag}.{name}", traced)
            t0 = perf()
            try:
                results[tag, name] = qs[name](spark, SF_DIR).toPandas()
            except Exception:
                results[tag, name] = None
                _warn(f"{tag}.{name}")
            walls[tag, name] = perf() - t0
            timed_s += walls[tag, name]
        print(f"perfbench: {tag} " + " ".join(f"{n}={walls[tag, n]:.3f}" for n in QUERIES),
              file=sys.stderr, flush=True)
        p += 1
    rss = procs.worker_peak_rss_mb()
    _label(spark, "check.oracle", False)
    normalize = _check_oracle_module(root).normalize
    oracle = _oracle(root, cache, normalize)
    failed = 0
    for (tag, name), got in results.items():
        try:
            ok = got is not None and _same(got, oracle[name], normalize)
        except Exception:
            ok = False
        if not ok:
            failed += 1
            print(f"perfbench: FAILED check {tag}.{name}", flush=True)
    warm_tags = [f"w{i}" for i in range(1, p) if not (trace and i == 2)]
    cold = {n: walls["cold", n] for n in QUERIES}
    warm = {n: statistics.median(walls[t, n] for t in warm_tags) for n in QUERIES}
    res = {
        "attempted": len(results), "failed": failed,
        "primary_s": sum(warm.values()), "secondary_s": sum(cold.values()),
        "worker_peak_rss_mb": rss,
        "layer": {**{f"queries.{n}.cold_s": v for n, v in cold.items()},
                  **{f"queries.{n}.warm_s": v for n, v in warm.items()}},
        "traced_units": [f"w2.{n}" for n in QUERIES] if trace else [],
        "n_traced": 1 if trace else 0,
    }
    if trace:
        res["overhead_frac"] = sum(walls["w2", n] for n in QUERIES) / sum(warm.values()) - 1
    return res
