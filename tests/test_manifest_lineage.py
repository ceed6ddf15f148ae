"""Checkpoint/lineage integration (r2 VERDICT item 4, sandbox scope).

The Iceberg runtime jar is a public Maven artifact
(org.apache.iceberg:iceberg-spark-runtime) but CANNOT enter this sandbox:
the container has no network access and ships no Iceberg jar (verified:
no *iceberg* file on disk, repo1.maven.org unreachable). The
write_bucket_iceberg path therefore stays catalog-gated; what CAN be
integration-tested here is everything around it — the gate itself, the
snapshot-per-batch parquet emulation, manifest lineage read-back, and
idempotent resume."""

import json
import os

import pytest
from pyspark.sql import functions as F

from eynollah_spark.corpus import corpus_flat_spark, nest_corpus
from eynollah_spark.manifest import (
    completed_parts,
    iceberg_available,
    run_extraction,
)


def test_iceberg_gate_is_off_in_sandbox(spark):
    assert not iceberg_available(spark)


def test_iceberg_table_request_falls_back_gracefully(spark, tmp_path):
    """Asking for an Iceberg sink without a catalog must not crash —
    the run degrades to the parquet emulation with identical resume
    semantics (documented sandbox limitation)."""
    docs = nest_corpus(corpus_flat_spark(spark, 30, partitions=2))
    s = run_extraction(docs, str(tmp_path / "o"), n_parts=2,
                       partitions=2, iceberg_table="nosuch.catalog.table")
    assert s["processed"] == 2 and s["docs"] > 0


def test_manifest_lineage_and_resume(spark, tmp_path):
    """Snapshot-per-batch emulation: each commit's manifest records
    lineage (kernel version, parent id, ts) + per-bucket metrics (docs,
    spans, kind histogram) computed from the COMMITTED files; a re-run
    skips completed buckets; metrics reconcile with the table exactly."""
    from eynollah_spark.manifest import read_as_of, snapshots

    out = str(tmp_path / "out")
    docs = nest_corpus(corpus_flat_spark(spark, 60, partitions=2))
    s1 = run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    assert s1["processed"] == 4 and s1["skipped"] == 0
    assert s1["snapshot_ids"] == [1, 2]
    assert completed_parts(spark, out) == {0, 1, 2, 3}

    # lineage + metrics reconcile with committed data
    written = read_as_of(spark, out)
    per_part = {r["part"]: (r["docs"], r["spans"]) for r in
                written.groupBy("part")
                .agg(F.countDistinct("doc_id").alias("docs"),
                     F.count("*").alias("spans")).collect()}
    snaps = snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[0]["parent_id"] is None and snaps[1]["parent_id"] == 1
    seen = {}
    for s in snaps:
        assert s["kernel_version"] and s["ts"]
        for p, m in s["parts"].items():
            seen[int(p)] = m
            hist = json.loads(m["kind_hist"])
            assert sum(hist.values()) == m["spans"]
    assert set(seen) == {0, 1, 2, 3}
    for p in range(4):
        assert (seen[p]["docs"], seen[p]["spans"]) == per_part.get(p, (0, 0))

    # idempotent resume: nothing left to do, no new snapshot
    s2 = run_extraction(docs, out, n_parts=4, partitions=2)
    assert s2["processed"] == 0 and s2["skipped"] == 4
    assert [s["snapshot_id"] for s in snapshots(out)] == [1, 2]

    # partial resume: roll back the second snapshot -> exactly its two
    # buckets reprocess into a FRESH snapshot id (never reusing the
    # rolled-back data dir), and the table contents converge again
    from eynollah_spark.manifest import rollback

    before = written.count()
    assert rollback(out, 1) == 1
    assert completed_parts(spark, out) == set(_assignment_parts(out, 1))
    s3 = run_extraction(docs, out, n_parts=4, partitions=2)
    assert s3["processed"] == 2 and s3["skipped"] == 2
    assert s3["snapshot_ids"] == [3]
    assert read_as_of(spark, out).count() == before


def _assignment_parts(out, sid):
    from eynollah_spark.manifest import _assignment
    return set(_assignment(out, as_of=sid))


def test_snapshot_time_travel_and_rollback(spark, tmp_path):
    """The Iceberg contract SURVEY §7 promises, without the jar
    (VERDICT r4 item 5): monotonic snapshot ids, VERSION AS OF reads at
    every historical id, rollback to an id, and idempotent resume after
    rollback."""
    from eynollah_spark.manifest import (
        current_snapshot_id,
        read_as_of,
        rollback,
        snapshots,
    )

    out = str(tmp_path / "snap")
    docs = nest_corpus(corpus_flat_spark(spark, 40, partitions=2))
    # two snapshots: buckets {0,1} then {2,3}
    run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    assert current_snapshot_id(out) == 2

    v1 = read_as_of(spark, out, snapshot_id=1)
    v2 = read_as_of(spark, out, snapshot_id=2)
    cur = read_as_of(spark, out)
    assert set(r["part"] for r in v1.select("part").distinct().collect()) == {0, 1}
    assert set(r["part"] for r in v2.select("part").distinct().collect()) == {0, 1, 2, 3}
    assert v2.count() == cur.count() > v1.count() > 0
    # as-of is stable across later commits: snapshot 1 still readable
    # byte-for-byte after the table moved on
    n_v1 = v1.count()

    # rollback to snapshot 1: table state rewinds, history ahead is gone
    assert rollback(out, 1) == 1
    assert current_snapshot_id(out) == 1
    assert read_as_of(spark, out).count() == n_v1
    with pytest.raises(ValueError):
        read_as_of(spark, out, snapshot_id=0)  # before the first commit

    # resume after rollback reprocesses exactly the rolled-back buckets
    # into a fresh id (3 — ids never rewind), converging to v2's content
    s = run_extraction(docs, out, n_parts=4, partitions=2)
    assert s["processed"] == 2 and s["snapshot_ids"] == [3]
    assert current_snapshot_id(out) == 3
    v3 = read_as_of(spark, out)
    assert v3.count() == v2.count()
    # and the old snapshot is STILL time-travel-readable
    assert read_as_of(spark, out, snapshot_id=1).count() == n_v1
    assert [s_["snapshot_id"] for s_ in snapshots(out)] == [1, 3]


def test_read_as_of_tolerates_empty_buckets(spark, tmp_path):
    """ADVICE r5 (medium): run_extraction records every bucket of a batch
    in the manifest, but partitionBy materializes no part=<p> directory
    for a bucket that received zero docs — with 3 docs over n_parts=8
    most buckets are empty and read_as_of used to throw PATH_NOT_FOUND.
    Empty bucket == empty relation; an ALL-empty table reads as an empty
    DataFrame with the flat sink schema."""
    from eynollah_spark.manifest import read_as_of, run_extraction

    out = str(tmp_path / "sparse")
    docs = nest_corpus(corpus_flat_spark(spark, 3, partitions=2))
    s = run_extraction(docs, out, n_parts=8, partitions=4)
    assert s["processed"] == 8
    df = read_as_of(spark, out)
    n_docs = df.select("doc_id").distinct().count()
    assert n_docs == docs.count()
    # all-empty table: zero docs still commits snapshots that read back
    # as an empty relation with the table schema
    out2 = str(tmp_path / "empty")
    run_extraction(docs.limit(0), out2, n_parts=4, partitions=4)
    empty = read_as_of(spark, out2)
    assert empty.count() == 0
    assert "doc_id" in empty.columns and "part" in empty.columns


def test_read_as_of_raises_on_missing_nonempty_part(spark, tmp_path):
    """A part dir the manifest recorded docs for is lost data: read_as_of
    must fail loudly instead of serving a silently shorter table (empty
    buckets, recorded with 0 docs, still read as empty relations)."""
    import shutil

    from eynollah_spark.manifest import read_as_of, snapshots

    out = str(tmp_path / "lost")
    docs = nest_corpus(corpus_flat_spark(spark, 20, partitions=2))
    run_extraction(docs, out, n_parts=4, partitions=2)
    snap = snapshots(out)[-1]
    part = next(p for p, m in snap["parts"].items() if m["docs"] > 0)
    shutil.rmtree(os.path.join(out, "data", f"snap-{snap['snapshot_id']:06d}",
                               f"part={part}"))
    with pytest.raises(FileNotFoundError, match=f"part {part}"):
        read_as_of(spark, out)
