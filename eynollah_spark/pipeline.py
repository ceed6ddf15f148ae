"""The Spark extraction pipeline: documents -> ordered out_spans.

Stage plan (explicit shuffle boundaries, SURVEY.md §3.1 lifecycle):

  scan (nested documents table; column-pruned: media payloads never read)
    -> repartition on xxhash64(doc_id) over a keyspace 64x wider than
       the partition count: every partition is doc-complete
    -> flatten (posexplode, narrow — preserves partitioning)
    -> mapInArrow(make_partition_arrow_kernel), the one driver: one Arrow
       sort of the resident partition by (doc_id, offset), one layout
       kernel call per document, then one emitter builds the output in
       bounded doc-aligned batches — emit_flat, emit_narrow (no payload),
       emit_nested (a list of spans per doc) or emit_check (the
       extract_reading_order self-check)
    -> sink (nested or flat rows; strategy='join' keeps payload out of
       the kernel stage entirely and joins it back JVM-side)

extract, extract_flat_input and extract_from_parquet_files all run this
driver, so their outputs agree row for row. The kernel itself is
eynollah_spark.kernels.layout.layout_permutation — see that module for
reference-semantics citations.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from eynollah_spark.kernels.layout import DocSpans, layout_permutation
from eynollah_spark.schemas import (
    CHECK_OUT_SCHEMA, FLAT_IN_FIELDS, FLAT_OUT_SCHEMA, NARROW_OUT_SCHEMA, OUT_SCHEMA)

#: input columns the kernel needs (the narrow projection: no payload)
_SCAN_COLS_NARROW = ["doc_id", "width", "height", "rtl", "kind",
                     "offset", "x0", "x1", "y0", "y1"]

def filter_printspace(flat: DataFrame, frame=None,
                      margin_frac: float = 0.02,
                      keep_null_spans: bool = False) -> DataFrame:
    """B9 page-frame / printspace filter (extract_text_regions page-frame
    model + crop, eynollah.py:318-401): drop spans whose center falls
    outside the printspace box. `frame` is (x0, x1, y0, y1) absolute, or
    None to derive it per page from the page dims shrunk by margin_frac
    (the model-free default). Pure column predicates — evaluated inside
    the scan stage's codegen filter, no shuffle, no Python."""
    cx = (F.col("x0") + F.col("x1")) / 2
    cy = (F.col("y0") + F.col("y1")) / 2
    if frame is not None:
        fx0, fx1, fy0, fy1 = (F.lit(float(v)) for v in frame)
    else:
        fx0 = margin_frac * F.col("width")
        fx1 = (1 - margin_frac) * F.col("width")
        fy0 = margin_frac * F.col("height")
        fy1 = (1 - margin_frac) * F.col("height")
    keep = (cx >= fx0) & (cx <= fx1) & (cy >= fy0) & (cy <= fy1)
    if not keep_null_spans:
        return flat.filter(keep)
    # posexplode_outer null-span rows (empty documents) must survive so
    # nested mode still emits their empty out_spans row — and (ADVICE r4)
    # a document whose EVERY span fell outside the printspace must not
    # vanish either: it re-enters as one synthetic null-span row,
    # preserving the one-row-per-doc contract resume/count logic relies
    # on. The re-emit costs one per-doc distinct + anti-join on doc_id —
    # keyed shuffles only, and only on the keep_null_spans path.
    kept = flat.filter(F.col("kind").isNull() | keep)
    span_cols = {"kind", "text", "media_ref", "offset", "x0", "x1", "y0", "y1"}
    lost = (flat.join(kept.select("doc_id").distinct(), "doc_id", "left_anti")
            .dropDuplicates(["doc_id"])
            .select(*[
                F.lit(None).cast(flat.schema[c].dataType).alias(c)
                if c in span_cols else F.col(c)
                for c in flat.columns
            ]))
    return kept.unionByName(lost)


def flatten(df: DataFrame) -> DataFrame:
    """Nested documents -> one row per span (narrow op). Keeps doc meta on
    every row; empty documents keep a single null-span row
    (posexplode_outer) so they still emit an empty out_spans row."""
    return df.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.coalesce(F.col("meta.rtl"), F.lit(False)).alias("rtl"),
        F.posexplode_outer(F.arrays_zip("spans", "geom")).alias("_i", "z"),
    ).select(
        "doc_id", "width", "height", "rtl",
        F.col("z.spans.kind").alias("kind"),
        F.col("z.spans.text").alias("text"),
        F.col("z.spans.media_ref").alias("media_ref"),
        F.col("z.spans.offset").alias("offset"),
        F.col("z.geom.x0").alias("x0"),
        F.col("z.geom.x1").alias("x1"),
        F.col("z.geom.y0").alias("y0"),
        F.col("z.geom.y1").alias("y1"),
    )


#: bounds of one output batch: the driver emits a partition's documents
#: in doc-aligned slices of at most this many spans or payload bytes (plus
#: one document), so no output string array nears the 2 GiB its int32
#: offsets can address, however large the partition
OUT_BATCH_ROWS = 1 << 16
OUT_BATCH_BYTES = 1 << 28

#: a string column of this many bytes or more is widened to large_string
#: before the sort: Arrow's take concatenates a column's chunks first, and
#: a string array's int32 offsets address less than 2 GiB
WIDEN_BYTES = 1 << 30

_PAYLOAD = ("text", "media_ref")


class PartitionOrder(NamedTuple):
    """A doc-aligned slice of one sorted partition's reading order, as the
    driver hands it to an emitter. Output row j (documents in partition
    order, each one's spans in reading order) is row ``take[j]`` of
    ``table``, at position ``ords[j]`` of its document; ``marg[j]`` flags a
    span whose kind refines to 'marginalia'. ``first`` and ``n_out`` hold,
    per document of the slice (empty ones included), its first row in
    ``table`` and its number of output spans. ``table`` is the whole
    sorted partition (string columns of WIDEN_BYTES or more as
    large_string)."""

    table: pa.RecordBatch
    first: np.ndarray
    n_out: np.ndarray
    take: pa.Array
    ords: pa.Array
    marg: pa.Array


def _safe_permutation(d: DocSpans, fail_fast: bool):
    """Per-document failure quarantine: at 10^12 docs a single pathological
    page must not kill the job (the reference's halt_fail global abort,
    eynollah.py:2023-2028, is replaced by degrade-and-continue). On kernel
    failure the document falls back to input-offset order (total, kinds
    unchanged). fail_fast=True (tests/CI) re-raises instead."""
    try:
        return layout_permutation(d)
    except Exception:
        if fail_fast:
            raise
        perm = np.argsort(d.offset, kind="stable").astype(np.int64)
        return perm, np.zeros(len(perm), dtype=bool)


def _take_str(col: pa.Array, idx) -> pa.Array:
    """Rows ``idx`` of a string or large_string column, as string (an
    output slice's strings are bounded; see OUT_BATCH_BYTES)."""
    return pc.cast(pc.take(col, idx), pa.string())


def _span_columns(o: PartitionOrder, payload: bool) -> dict:
    """The ordered output columns, built C++-side with pc.take / pc.if_else:
    the text / media_ref payload never materializes as Python objects."""
    t = o.table
    cols = {
        "doc_id": _take_str(t.column("doc_id"), o.take),
        "ord": o.ords,
        "kind": pc.if_else(o.marg, pa.scalar("marginalia"),
                           _take_str(t.column("kind"), o.take)),
    }
    if payload:
        for c in _PAYLOAD:
            cols[c] = _take_str(t.column(c), o.take)
    cols["offset"] = pc.cast(pc.take(t.column("offset"), o.take), pa.int32())
    return cols


def emit_flat(o: PartitionOrder) -> pa.RecordBatch:
    """FLAT_OUT_SCHEMA rows: one per valid span, payload included."""
    return pa.RecordBatch.from_pydict(_span_columns(o, payload=True))


def emit_narrow(o: PartitionOrder) -> pa.RecordBatch:
    """NARROW_OUT_SCHEMA rows (doc_id, ord, kind, offset): the permutation
    alone, for plans that join the payload back JVM-side."""
    return pa.RecordBatch.from_pydict(_span_columns(o, payload=False))


def emit_nested(o: PartitionOrder) -> pa.RecordBatch:
    """OUT_SCHEMA rows: one per document, its spans in reading order as a
    list of span structs; a document with no valid span gets []."""
    cols = _span_columns(o, payload=True)
    names = ["kind", "text", "media_ref", "offset"]
    spans = pa.StructArray.from_arrays([cols[c] for c in names], names=names)
    offsets = pa.array(np.concatenate(([0], np.cumsum(o.n_out))), type=pa.int32())
    return pa.RecordBatch.from_pydict({
        "doc_id": _take_str(o.table.column("doc_id"), pa.array(o.first)),
        "out_spans": pa.ListArray.from_arrays(offsets, spans),
    })


def emit_check(o: PartitionOrder) -> pa.RecordBatch:
    """CHECK_OUT_SCHEMA rows for the extract_reading_order self-check: per
    document with a valid span, the number of spans whose extracted
    (ord, kind) disagrees with the generator's by-construction
    (expected_rank, expected_kind); a null expectation disagrees.

    This is provably the count a full-outer join of the extracted rows
    with the expected rows on (doc_id, offset) gives: the valid-span sets
    on both sides coincide (kind IS NULL <=> the offset = -1 empty-doc
    marker rows, which the driver skips and the expected side filters),
    offsets are unique per doc, and the output is a permutation of the
    valid spans, so the join's per-row `bad` predicate reduces to this
    per-span test — with no corpus re-generation and no join shuffle.
    Needs expected_kind / expected_rank next to the narrow input."""
    cols = _span_columns(o, payload=False)
    t = o.table
    erank = pc.fill_null(pc.cast(pc.take(t.column("expected_rank"), o.take), pa.int32()), -1)
    ekind = _take_str(t.column("expected_kind"), o.take)
    bad = pc.or_(pc.not_equal(cols["ord"], erank),
                 pc.fill_null(pc.not_equal(cols["kind"], ekind), True))
    doc = np.repeat(np.arange(len(o.n_out)), o.n_out)
    n_bad = np.bincount(doc, weights=bad.to_numpy(zero_copy_only=False),
                        minlength=len(o.n_out)).astype(np.int64)
    has = o.n_out > 0
    return pa.RecordBatch.from_pydict({
        "doc_id": _take_str(t.column("doc_id"), pa.array(o.first[has])),
        "n_bad": pa.array(n_bad[has], type=pa.int64()),
    })


# each emitter's output schema, for the mapInArrow that runs it
emit_flat.schema = FLAT_OUT_SCHEMA
emit_narrow.schema = NARROW_OUT_SCHEMA
emit_nested.schema = OUT_SCHEMA
emit_check.schema = CHECK_OUT_SCHEMA


def _np(col, fill, dtype) -> np.ndarray:
    return pc.fill_null(col, fill).to_numpy(zero_copy_only=False).astype(dtype)


def _widen(t: pa.Table) -> pa.Table:
    """String columns of WIDEN_BYTES or more as large_string (int64
    offsets; the data buffer is not copied)."""
    for i, f in enumerate(t.schema):
        if f.type == pa.string() and t.column(i).nbytes >= WIDEN_BYTES:
            t = t.set_column(i, f.name, t.column(i).cast(pa.large_string()))
    return t


def make_partition_arrow_kernel(emit, fail_fast: bool = True,
                                num_col_lower: int = 0, num_col_upper: int = 0):
    """The one extraction driver, a whole-partition mapInArrow kernel: it
    concatenates the task's Arrow batches, sorts them once by
    (doc_id, offset) (the canonical order that makes the output
    bitwise-deterministic), runs _safe_permutation once per document run
    and hands the reading order to ``emit`` (emit_flat, emit_narrow,
    emit_nested or emit_check) in doc-aligned slices bounded by
    OUT_BATCH_ROWS / OUT_BATCH_BYTES, one output batch per slice.

    The input must be doc-complete per partition, not sorted: the Arrow
    sort costs ~0.1 s per 300k-row partition, far less than a Tungsten
    sortWithinPartitions stage. Memory: one partition resident per task,
    bounded by the repartition or by spark.sql.files.maxPartitionBytes on
    the bucketed scan. Numerics reach numpy zero-copy, kinds via
    dictionary codes; the kernel never sees the payload strings."""

    def kernel(batches):
        tabs = [b for b in batches if b.num_rows]
        if not tabs:
            return
        t = _widen(pa.Table.from_batches(tabs))
        del tabs
        keys = t.select(["doc_id", "offset"]).combine_chunks()  # sorts 2x faster
        t = pc.take(t, pc.sort_indices(
            keys, sort_keys=[("doc_id", "ascending"), ("offset", "ascending")]))
        # after _widen every column combines into exactly one chunk: Arrow
        # splits only string / binary columns, and only at 2 GiB
        (t,) = t.combine_chunks().to_batches()
        n = t.num_rows
        doc = t.column("doc_id")
        first = np.concatenate(
            ([0], np.flatnonzero(_np(pc.not_equal(doc[1:], doc[:-1]), False, np.bool_)) + 1))
        last = np.append(first[1:], n)
        kd = pc.dictionary_encode(t.column("kind"))  # null kind -> code -1 -> None
        kind = np.asarray(kd.dictionary.to_pylist() + [None], dtype=object)[
            _np(kd.indices, -1, np.int64)]
        valid = pc.is_valid(t.column("kind")).to_numpy(zero_copy_only=False)
        offs = _np(t.column("offset"), -1, np.int64)
        x0, x1, y0, y1 = (_np(t.column(c), 0, np.float64) for c in ("x0", "x1", "y0", "y1"))
        W, H = (_np(t.column(c), 1, np.int64) for c in ("width", "height"))
        RT = _np(t.column("rtl"), False, np.bool_)
        nbytes = np.zeros(n + 1, dtype=np.int64)  # payload bytes before row i
        for c in _PAYLOAD:
            if c in t.schema.names:
                nbytes[1:] += np.cumsum(_np(pc.binary_length(t.column(c)), 0, np.int64))
        n_out = np.zeros(len(first), dtype=np.int64)
        lo, rows, take_l, marg_l = 0, 0, [], []
        for k, (s, e) in enumerate(zip(first, last)):
            v = valid[s:e]
            if v.any():
                idx = np.arange(s, e) if v.all() else s + np.flatnonzero(v)
                d = DocSpans(
                    kind=kind[idx], text=None, media_ref=None,
                    offset=offs[idx], x0=x0[idx], x1=x1[idx], y0=y0[idx], y1=y1[idx],
                    width=int(W[s]), height=int(H[s]), rtl=bool(RT[s]),
                    num_col_lower=num_col_lower, num_col_upper=num_col_upper,
                )
                perm, marg = _safe_permutation(d, fail_fast)
                take_l.append(idx[perm])
                marg_l.append(marg)
                n_out[k] = len(perm)
                rows += len(perm)
            if (e < n and rows < OUT_BATCH_ROWS
                    and nbytes[e] - nbytes[first[lo]] < OUT_BATCH_BYTES):
                continue
            m = n_out[lo:k + 1]
            out = emit(PartitionOrder(
                table=t, first=first[lo:k + 1], n_out=m,
                take=pa.array(np.concatenate([np.zeros(0, np.int64)] + take_l)),
                ords=pa.array(np.arange(m.sum()) - np.repeat(np.cumsum(m) - m, m),
                              type=pa.int32()),
                marg=pa.array(np.concatenate([np.zeros(0, np.bool_)] + marg_l))))
            if out.num_rows:
                yield out
            lo, rows, take_l, marg_l = k + 1, 0, [], []

    return kernel


def _distributed_partitions(spark, partitions: int | None) -> int:
    """Ship the package to the executors; default the partition count to
    spark.sql.shuffle.partitions."""
    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(spark)
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return partitions


def extract(df: DataFrame, partitions: int | None = None, nested: bool = True,
            fail_fast: bool = True,
            num_col_lower: int = 0, num_col_upper: int = 0,
            printspace_margin: float = 0.0) -> DataFrame:
    """documents (nested) -> ordered out_spans.

    ``nested=True`` returns FIXTURES.md §2 rows (doc_id, out_spans);
    ``nested=False`` returns the flat sink shape (doc_id, ord, kind,
    text, media_ref, offset) — preferable at scale.

    Plan: doc_id-hash repartition (doc-complete partitions) -> flatten ->
    [printspace filter, which only adds one row per document that lost
    every span] -> mapInArrow(driver); no sort stage.
    """
    partitions = _distributed_partitions(df.sparkSession, partitions)
    # Hash doc ids into a keyspace 64x wider than the partition count:
    # hashing only `partitions` ids into 2*partitions partitions leaves
    # ~1/e of them empty by balls-in-bins. Heavy documents are not salted
    # into a separate hash space: measured, that won on one heavy-tail
    # corpus and lost on another (README, "Skew is handled before the
    # kernel").
    width = 64 * partitions
    flat = flatten(df.repartition(
        2 * partitions, F.pmod(F.xxhash64("doc_id"), F.lit(width)).cast("int")))
    if printspace_margin > 0:
        # B9 page-frame filter as a pre-kernel codegen predicate (the
        # CLI's page-extraction step; --ignore-page-extraction skips it)
        flat = filter_printspace(flat, margin_frac=printspace_margin,
                                 keep_null_spans=True)
    emit = emit_nested if nested else emit_flat
    return flat.mapInArrow(
        make_partition_arrow_kernel(emit, fail_fast=fail_fast, num_col_lower=num_col_lower,
                                    num_col_upper=num_col_upper), schema=emit.schema)


def extract_flat_input(flat: DataFrame, partitions: int | None = None,
                       strategy: str = "join",
                       fail_fast: bool = True,
                       num_col_lower: int = 0, num_col_upper: int = 0) -> DataFrame:
    """Same pipeline for already-flat span rows (FLAT_IN_FIELDS) — used
    when the corpus is generated distributed, skipping nest/flatten.

    strategy='join' (the default): the driver sees only the narrow
    numeric projection and emits (doc_id, ord, kind, offset); the text /
    media_ref payload joins back JVM-side on (doc_id, offset) in a
    shuffled hash join and never crosses into Python — the wide-payload
    plan for 100 TB inputs. strategy='inline': payload strings ride
    through the driver (permuted C++-side, but they cross the
    JVM<->python socket). Both strategies repartition on doc_id; the
    zero-shuffle plan over a doc_id-bucketed table is
    extract_from_parquet_files.
    """
    partitions = _distributed_partitions(flat.sparkSession, partitions)
    join = strategy == "join"
    emit = emit_narrow if join else emit_flat
    f = flat.select(*(_SCAN_COLS_NARROW if join else FLAT_IN_FIELDS))
    out = f.repartition(partitions, F.xxhash64("doc_id")).mapInArrow(
        make_partition_arrow_kernel(emit, fail_fast=fail_fast, num_col_lower=num_col_lower,
                                    num_col_upper=num_col_upper), schema=emit.schema)
    if not join:
        return out
    payload = flat.select("doc_id", "offset", "text", "media_ref")
    # shuffle_hash: build a hash map per partition instead of sorting
    # BOTH 10^9-row sides (sort-merge); measured ~20% faster here and
    # strictly less work at scale. Spark >=3.1 hash joins can spill.
    return out.join(payload.hint("shuffle_hash"), ["doc_id", "offset"], "left").select(
        "doc_id", "ord", "kind", "text", "media_ref", "offset")


def extract_from_parquet_files(spark, paths: list[str], partitions: int | None = None,
                               include_payload: bool = True,
                               write_dir: str | None = None,
                               stats_only: bool = False,
                               fail_fast: bool = True) -> DataFrame:
    """Task-side columnar scan extraction — the bucketed-table fast path
    taken to its logical end (zero JVM row conversion on the input side).

    The input is the bucketed table's FILE MANIFEST (an Iceberg snapshot's
    data-file list): Spark schedules one task per file slice; each task
    opens its doc-complete parquet files with pyarrow (column-projected to
    the kernel's needs) and streams them through the whole-partition
    kernel. Input bytes go parquet -> Arrow -> numpy with no
    InternalRow/ArrowEvalPython re-encode hop, which profiling shows is
    the bulk of the JVM-scan path's fixed cost; only the (narrow) OUTPUT
    crosses the JVM boundary.

    Distribution story at 100 TB: identical to the DataFrame path — tasks
    read their files from the object store (pyarrow reads s3://... the
    same way the JVM scan would), locality and retries come from the
    Spark scheduler, resume anti-joins the output manifest per file. The
    caller guarantees what the bucketed contract already required: every
    file is doc-complete. Files need not be sorted (in-kernel sort).

    It runs the same driver as extract_flat_input; the row-for-row
    equivalence is pinned by tests/test_pipeline_spark.py."""
    partitions = _distributed_partitions(spark, partitions)
    paths = sorted(paths)
    ntasks = min(len(paths), max(partitions, 1))
    full = include_payload or write_dir is not None
    cols = _SCAN_COLS_NARROW + (list(_PAYLOAD) if full else [])

    def gen(batches):
        import os
        import uuid

        import pyarrow.parquet as pq

        kern = make_partition_arrow_kernel(emit_flat if full else emit_narrow,
                                           fail_fast=fail_fast)
        for b in batches:
            for tid in b.column(0).to_pylist():
                n_task = 0
                for k, fp in enumerate(paths[int(tid)::ntasks]):
                    t = pq.read_table(fp, columns=cols)
                    outs = list(kern(iter(t.to_batches())))
                    if write_dir is not None and outs:
                        # task-side columnar WRITE (the sink mirror of the
                        # task-side scan): the full ordered output lands
                        # as one doc-complete file per input file. At
                        # 100 TB this is the object-store write the job
                        # actually ships, with a manifest row per file
                        # for resume. Commit protocol: write
                        # under an attempt-unique temp name, then
                        # os.replace — atomic on POSIX, so a killed or
                        # speculative duplicate attempt can never leave a
                        # truncated file at the final path (a loser's
                        # replace rewrites identical doc-complete bytes).
                        # On an object store, PUT is already atomic; the
                        # analogue is PUT-to-temp-key + manifest commit,
                        # and verify_written checks the manifest either
                        # way. Disable speculation for belt-and-braces
                        # (spark.speculation=false is the default).
                        final = f"{write_dir}/part-{int(tid)}-{k}.parquet"
                        tmp = f"{final}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
                        pq.write_table(pa.Table.from_batches(outs), tmp)
                        os.replace(tmp, final)
                    if stats_only:
                        n_task += sum(ob.num_rows for ob in outs)
                    elif write_dir is not None and not include_payload:
                        for ob in outs:
                            yield ob.select(["doc_id", "ord", "kind", "offset"])
                    else:
                        yield from outs
                if stats_only:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([n_task], type=pa.int64())], names=["n_rows"])

    out_schema = ("n_rows long" if stats_only
                  else emit_flat.schema if include_payload else emit_narrow.schema)
    if ntasks == 0:
        # empty file list (wrong glob, or a fully-resumed manifest):
        # an empty result, not spark.range(...)'s opaque JVM error
        return spark.createDataFrame([], schema=out_schema)
    ids = spark.range(0, ntasks, 1, ntasks)
    return ids.mapInArrow(gen, schema=out_schema)


def extract_full_layout(flat: DataFrame, partitions: int | None = None,
                        scorer=None, fail_fast: bool = True,
                        headers_off: bool = False,
                        num_col_lower: int = 0, num_col_upper: int = 0) -> DataFrame:
    """F1 `--full-layout` mode parity: the complete post-kernel chain —
    XY-cut extraction -> geometry re-attach -> scorer kind refinement
    (headings, drop capitals; B12/C12/C13) -> C14 drop-capital adhesion.
    C15 table splitting (tables.split_wide_tables) runs BEFORE extraction
    since it rewrites input spans.

    Returns ordered flat rows WITH geometry (ready for the PAGE-XML
    writer). Every stage is a relational plan or an Arrow-batched kernel;
    shuffles stay on doc_id-derived keys throughout."""
    from eynollah_spark.pagexml import attach_geometry
    from eynollah_spark.scorer import adhere_drop_capitals, refine_kinds
    from eynollah_spark.tables import split_wide_tables

    flat = split_wide_tables(flat)
    out = extract_flat_input(flat, partitions=partitions, fail_fast=fail_fast,
                             num_col_lower=num_col_lower, num_col_upper=num_col_upper)
    rows = attach_geometry(out, flat)
    # headers_off (cli_layout.py:111-115): ignore the headers role only —
    # refine_kinds still runs so drop-capital reclassification (and the
    # C14 adhesion below, which needs it) is unaffected, matching the
    # reference where headers_off merely drops headers from reading-order
    # treatment (eynollah.py:2420-2446)
    refined = refine_kinds(rows, scorer=scorer, headers_off=headers_off)
    return adhere_drop_capitals(refined)
