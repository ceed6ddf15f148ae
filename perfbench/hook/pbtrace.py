"""Span tracer for perfbench's traced run (``--trace 1``).

Loaded into the Spark Python workers only when tracing: run.py puts this
directory on the workers' PYTHONPATH, and ``sitecustomize`` calls
``install()``, which registers a post-import hook.  When the engine's
modules are imported, their public functions are replaced by timing
wrappers:

* kernels   ``layout_permutation`` and its phases (``estimate_skew``,
            ``find_gutters``, ``split_main_and_marginal``,
            ``find_splitters``, ``cluster_lines_into_regions``,
            ``order_lines_in_region``)
* pipeline  the per-partition kernels built by ``make_*kernel``
            (``TracedKernel``: active time, input rows, upstream reads)
* arrow     ``pyarrow.parquet.read_table`` / ``write_table`` (task-side
            read / write), ``pyarrow.compute.sort_indices`` and ``take`` of
            a table (in-kernel sort), ``take`` of arrays, ``if_else`` and
            ``cast`` inside a kernel (output batch build)

A span is (name, start, end, duration, parent, run, n).  Spans are kept in
memory and appended to ``$PERFBENCH_SPANS_DIR/spans-<pid>.jsonl`` whenever
the outermost span of the process closes (a worker is killed with the
session, so it never reaches interpreter exit).  Only tasks whose Spark
local property ``perfbench.run`` is set are traced; everything else runs
the original function after one flag test.
"""

from __future__ import annotations

import functools
import importlib.abc
import json
import os
import sys
import time

perf = time.perf_counter

_spans: list = []
_stack: list[int] = []
_run = None          # run id while a traced kernel body is executing
_kernels = 0         # traced kernels started and not yet exhausted


def _task_run():
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.getLocalProperty("perfbench.run") if tc is not None else None


def _open(name, run):
    _spans.append([name, perf(), 0.0, 0.0, _stack[-1] if _stack else -1, run, 0])
    _stack.append(len(_spans) - 1)
    return _stack[-1]


def _close(i, n=0):
    s = _spans[i]
    s[2] = perf()
    s[3] += s[2] - s[1]
    s[6] = n
    _stack.pop()
    flush()


def flush():
    """Append the buffered spans to this process's file; only between
    spans, so parent indices stay within one written batch."""
    if _stack or _kernels or not _spans:
        return
    out = os.environ.get("PERFBENCH_SPANS_DIR")
    if out:
        with open(os.path.join(out, f"spans-{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps(_spans) + "\n")
    _spans.clear()


def _leaf(fn, name, count=None):
    """Hot-path wrapper: records only inside a traced kernel body."""
    @functools.wraps(fn)
    def w(*a, **k):
        if _run is None:
            return fn(*a, **k)
        i = _open(name, _run)
        try:
            return fn(*a, **k)
        finally:
            _close(i, count(a) if count else 0)
    return w


def _task_leaf(fn, name):
    """Per-file wrapper outside kernel bodies (parquet read/write)."""
    @functools.wraps(fn)
    def w(*a, **k):
        run = _run or _task_run()
        if run is None:
            return fn(*a, **k)
        i = _open(name, run)
        try:
            return fn(*a, **k)
        finally:
            _close(i)
    return w


class TracedKernel:
    """A mapInArrow/mapInPandas kernel whose iteration is one span.  Only
    time inside ``next()`` counts (not the consumer's), input rows are
    counted, and pulling each upstream batch is a ``pipeline.read`` span.
    A kernel nested in a traced one runs untouched."""

    def __init__(self, kernel, name):
        self.kernel = kernel
        self.name = name

    def __call__(self, batches):
        global _run, _kernels
        run = None if _run is not None else _task_run()
        if run is None:
            yield from self.kernel(batches)
            return
        rows = 0

        def upstream(it):
            global _run
            nonlocal rows
            while True:
                _run = None
                i = _open("pipeline.read", run)
                try:
                    b = next(it)
                except StopIteration:
                    _close(i)
                    return
                finally:
                    _run = run
                _close(i)
                rows += len(b)
                yield b

        gen = self.kernel(upstream(iter(batches)))
        i = _open(self.name, run)
        _stack.pop()
        span = _spans[i]
        _kernels += 1
        try:
            while True:
                t0 = perf()
                _stack.append(i)
                _run = run
                try:
                    out = next(gen)
                except StopIteration:
                    return
                finally:
                    _run = None
                    _stack.pop()
                    span[3] += perf() - t0
                yield out
        finally:
            span[2] = perf()
            span[6] = rows
            _kernels -= 1
            flush()


def _kernel_factory(fn):
    @functools.wraps(fn)
    def w(*a, **k):
        return TracedKernel(fn(*a, **k), "pipeline.kernel")
    w.perfbench_traced = True
    return w


# ------------------------------------------------------------- patches --

def _patch_kernels_layout(m):
    m.layout_permutation = _leaf(m.layout_permutation, "kernels.layout_permutation",
                                 count=lambda a: len(a[0].offset))
    for f in ("find_gutters", "split_main_and_marginal", "find_splitters",
              "cluster_lines_into_regions", "order_lines_in_region"):
        setattr(m, f, _leaf(getattr(m, f), f"kernels.{f}"))


def _patch_kernels_deskew(m):
    m.estimate_skew = _leaf(m.estimate_skew, "kernels.estimate_skew")


def patch_pipeline(m):
    """Wrap the kernel factories; also applied in the benchmark process,
    whose kernels are built there and pickled to the workers."""
    for f in ("make_kernel", "make_arrow_kernel", "make_partition_arrow_kernel",
              "make_expected_check_kernel"):
        if hasattr(m, f) and not hasattr(getattr(m, f), "perfbench_traced"):
            setattr(m, f, _kernel_factory(getattr(m, f)))


def _patch_parquet(m):
    m.read_table = _task_leaf(m.read_table, "pipeline.read")
    m.write_table = _task_leaf(m.write_table, "pipeline.write")


def _patch_compute(m):
    import pyarrow as pa

    sort_indices, take = m.sort_indices, m.take

    m.sort_indices = _leaf(sort_indices, "pipeline.sort")
    take_sort = _leaf(take, "pipeline.sort")
    take_emit = _leaf(take, "pipeline.emit")

    @functools.wraps(take)
    def take_w(data, *a, **k):
        return (take_sort if isinstance(data, pa.Table) else take_emit)(data, *a, **k)

    m.take = take_w
    m.if_else = _leaf(m.if_else, "pipeline.emit")
    m.cast = _leaf(m.cast, "pipeline.emit")


_PATCHES = {
    "eynollah_spark.kernels.layout": _patch_kernels_layout,
    "eynollah_spark.kernels.deskew": _patch_kernels_deskew,
    "eynollah_spark.pipeline": patch_pipeline,
    "pyarrow.parquet": _patch_parquet,
    "pyarrow.compute": _patch_compute,
}


class _Loader(importlib.abc.Loader):
    def __init__(self, inner, patch):
        self.inner, self.patch = inner, patch

    def create_module(self, spec):
        return self.inner.create_module(spec)

    def exec_module(self, module):
        self.inner.exec_module(module)
        self.patch(module)

    def __getattr__(self, name):
        return getattr(self.inner, name)


class _Finder(importlib.abc.MetaPathFinder):
    def find_spec(self, fullname, path, target=None):
        patch = _PATCHES.get(fullname)
        if patch is None:
            return None
        for finder in sys.meta_path:
            if finder is self or not hasattr(finder, "find_spec"):
                continue
            spec = finder.find_spec(fullname, path, target)
            if spec is not None:
                if spec.loader is not None:
                    spec.loader = _Loader(spec.loader, patch)
                return spec
        return None


def install():
    for name, patch in _PATCHES.items():
        if name in sys.modules:
            patch(sys.modules[name])
    sys.meta_path.insert(0, _Finder())
