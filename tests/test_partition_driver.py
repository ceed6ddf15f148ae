"""The whole-partition driver without Spark: its output must not depend
on how the partition arrives (row order, number of input batches) or on
how many output batches it is cut into."""

import numpy as np
import pyarrow as pa
import pytest

from eynollah_spark import pipeline
from eynollah_spark.corpus import gen_corpus_flat
from eynollah_spark.pipeline import (
    emit_check, emit_flat, emit_narrow, emit_nested, make_partition_arrow_kernel)

# docs 60..119: two-column, marginalia, multiband, media-heavy and
# degenerate pages, doc 99 empty
N_DOCS, START = 60, 60


@pytest.fixture(scope="module")
def partition():
    """The generator's flat rows for N_DOCS docs, typed like Spark sends
    them, with corpus_flat_spark's offset = -1 marker row per empty doc."""
    cols, metas = gen_corpus_flat(N_DOCS, start=START)
    empty = [m for m in metas if m["doc_id"] not in set(cols["doc_id"])]
    assert empty, "the fixture must hold an empty document"
    ints = ("offset", "x0", "x1", "y0", "y1", "width", "height", "expected_rank")
    data = {k: list(v) for k, v in cols.items()}
    for m in empty:
        for k in data:
            data[k].append(None)
        for k in ("offset", "expected_rank"):
            data[k][-1] = -1
        for k in ("x0", "x1", "y0", "y1"):
            data[k][-1] = 0
        data["doc_id"][-1] = m["doc_id"]
        data["width"][-1], data["height"][-1] = m["width"], m["height"]
        data["rtl"][-1] = m["rtl"]
    return pa.table({k: pa.array(v, type=pa.int32() if k in ints
                                 else pa.bool_() if k == "rtl" else pa.string())
                     for k, v in data.items()})


def _run(emit, t, chunk_rows=None, seed=0):
    """Run the driver over t, shuffled and cut into chunk_rows-row batches
    (one batch when None); return its output batches."""
    if chunk_rows is not None:
        t = t.take(np.random.default_rng(seed).permutation(t.num_rows))
    batches = t.to_batches(max_chunksize=chunk_rows)
    return list(make_partition_arrow_kernel(emit)(iter(batches)))


def _rows(batches):
    return pa.Table.from_batches(batches).to_pylist()


@pytest.mark.parametrize("widen", [False, True])
@pytest.mark.parametrize("emit", [emit_flat, emit_narrow, emit_nested])
def test_output_independent_of_input_chunks_and_output_slices(partition, monkeypatch,
                                                              emit, widen):
    t = partition if emit is not emit_narrow else partition.select(pipeline._SCAN_COLS_NARROW)
    ref = _run(emit, t)
    assert len(ref) == 1
    if widen:  # the path a partition with >= 1 GiB in a string column takes
        monkeypatch.setattr(pipeline, "WIDEN_BYTES", 0)
    monkeypatch.setattr(pipeline, "OUT_BATCH_ROWS", 50)
    by_rows = _run(emit, t, chunk_rows=7)
    monkeypatch.setattr(pipeline, "OUT_BATCH_ROWS", 1 << 16)
    monkeypatch.setattr(pipeline, "OUT_BATCH_BYTES", 2000)
    by_bytes = _run(emit, t, chunk_rows=13, seed=1)
    assert len(by_rows) > 1
    assert len(by_bytes) > 1 or emit is emit_narrow  # no payload bytes to bound
    for out in (by_rows, by_bytes):
        assert all(b.schema == ref[0].schema for b in out)
        assert _rows(out) == _rows(ref)


def test_flat_output_is_the_constructed_order(partition):
    out = pa.Table.from_batches(_run(emit_flat, partition, chunk_rows=9))
    exp = {(r["doc_id"], r["offset"]): (r["expected_rank"], r["expected_kind"])
           for r in partition.to_pylist() if r["offset"] >= 0}
    got = {(r["doc_id"], r["offset"]): (r["ord"], r["kind"]) for r in out.to_pylist()}
    assert got == exp
    assert out.schema.field("text").type == pa.string()


def test_nested_keeps_every_doc(partition, monkeypatch):
    monkeypatch.setattr(pipeline, "OUT_BATCH_ROWS", 30)
    rows = _rows(_run(emit_nested, partition, chunk_rows=11))
    assert sorted(r["doc_id"] for r in rows) == sorted(set(partition.column("doc_id").to_pylist()))
    n_spans = {d: 0 for d in partition.column("doc_id").to_pylist()}
    for r in partition.to_pylist():
        n_spans[r["doc_id"]] += r["offset"] >= 0
    assert {r["doc_id"]: len(r["out_spans"]) for r in rows} == n_spans
    assert any(not r["out_spans"] for r in rows)


def test_check_counts_zero_and_flags_corruption(partition, monkeypatch):
    monkeypatch.setattr(pipeline, "OUT_BATCH_ROWS", 40)
    t = partition.select(pipeline._SCAN_COLS_NARROW + ["expected_kind", "expected_rank"])
    assert sum(r["n_bad"] for r in _rows(_run(emit_check, t, chunk_rows=5))) == 0
    rank = t.column("expected_rank").to_numpy()
    swapped = np.where(rank == 0, 1, np.where(rank == 1, 0, rank)).astype(np.int32)
    bad = t.set_column(t.schema.get_field_index("expected_rank"), "expected_rank",
                       pa.array(swapped))
    n_docs_2plus = sum(1 for r in _rows(_run(emit_nested, partition))
                       if len(r["out_spans"]) >= 2)
    assert sum(r["n_bad"] for r in _rows(_run(emit_check, bad, chunk_rows=5))) == 2 * n_docs_2plus


def test_widen_only_large_string_columns(partition, monkeypatch):
    assert pipeline._widen(partition).schema == partition.schema
    big = max((f.name for f in partition.schema if f.type == pa.string()),
              key=lambda c: partition.column(c).nbytes)
    monkeypatch.setattr(pipeline, "WIDEN_BYTES", partition.column(big).nbytes)
    w = pipeline._widen(partition)
    assert [f.name for f in w.schema if f.type == pa.large_string()] == [big]
    assert w.column(big).to_pylist() == partition.column(big).to_pylist()
