"""Pure numpy per-document kernels (no Spark imports).

These are the non-relational cores of the pipeline — the symbolic
re-expression of eynollah's raster heuristics. Each kernel is a pure
function of small per-document arrays, unit-testable without a
SparkSession, and is invoked from the whole-partition Arrow driver in
``eynollah_spark.pipeline``.
"""

from eynollah_spark.kernels.layout import DocSpans, layout_document  # noqa: F401


def doc_runs(doc_col):
    """Per-document dispatch for bucketed applyInPandas kernels:
    factorize + ONE stable argsort + contiguous-run boundaries (no
    per-doc pandas objects). Returns ``(order, starts, ends)`` —
    ``order`` indexes the bucket's arrays into doc-contiguous form and
    ``[starts[i], ends[i])`` slices one document. Shared by
    machine_reading_order and the sub-line split query so the idiom has
    one implementation."""
    import numpy as np
    import pandas as pd

    codes, _uniq = pd.factorize(doc_col, sort=True)
    order = np.argsort(codes, kind="stable")
    codes = codes[order]
    change = np.flatnonzero(codes[1:] != codes[:-1]) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(codes)]))
    return order, starts, ends
