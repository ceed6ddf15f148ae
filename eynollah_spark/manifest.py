"""Per-partition checkpointing with lineage manifests + idempotent resume.

North-rule requirement (BASELINE.json): the job checkpoints
per-partition with lineage manifests and span-count/region-histogram
metrics so any failed partition resumes idempotently. This replaces the
reference's skip-if-output-exists check (eynollah.py:2074-2079) with an
anti-join against a manifest table (SURVEY.md A4).

The unit of checkpointing is a *partition bucket*: part =
pmod(xxhash64(doc_id), n_parts). Each run processes the buckets absent
from the manifest and commits them as a SNAPSHOT (VERDICT r4 item 5 —
the Iceberg contract emulated without the jar, which cannot enter this
sandbox):

  {out}/data/snap-<id>/part=<p>/*.parquet   append-only data files
  {out}/_manifests/snap-<id>.json           the commit point (atomic
                                            tmp+rename; written AFTER
                                            the data, so a crash leaves
                                            an ignored orphan data dir,
                                            never a torn table — the
                                            same metadata-swap commit
                                            Iceberg uses)

Snapshot ids are monotonically increasing; the table state at any id is
reconstructed by replaying the manifest log: each part is served by the
LATEST snapshot <= id that wrote it (read_as_of). rollback(id) drops
manifests > id — their data dirs become unreferenced, the affected
parts fall out of completed_parts, and the next run_extraction
reprocesses exactly those buckets into a fresh snapshot (ids never
reuse an existing data dir, so rollback + resume is idempotent).
Reads prune at the directory level: only the part=<p> dirs the
assignment references are listed, so as-of reads stay partition-pruned
at any snapshot count. On a real deployment write_bucket_iceberg
replaces all of this with writeTo().overwritePartitions() snapshots.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from eynollah_spark import KERNEL_VERSION
from eynollah_spark.pipeline import extract


def _manifest_path(out_path: str) -> str:
    return os.path.join(out_path, "_manifests")


def _data_path(out_path: str) -> str:
    return os.path.join(out_path, "data")


def _snap_dir(out_path: str, sid: int) -> str:
    return os.path.join(_data_path(out_path), f"snap-{sid:06d}")


def snapshots(out_path: str) -> list[dict]:
    """The committed snapshot log, ascending by id. Pure metadata read —
    one small JSON per commit, no Spark."""
    mp = _manifest_path(out_path)
    out = []
    if not os.path.isdir(mp):
        return out
    for fname in os.listdir(mp):
        if fname.startswith("snap-") and fname.endswith(".json"):
            with open(os.path.join(mp, fname)) as f:
                out.append(json.loads(f.read()))
    out.sort(key=lambda s: s["snapshot_id"])
    return out


def current_snapshot_id(out_path: str) -> int | None:
    snaps = snapshots(out_path)
    return snaps[-1]["snapshot_id"] if snaps else None


def _next_snapshot_id(out_path: str) -> int:
    """1 + max over BOTH the manifest log and the data dirs: a rolled-back
    (or crash-orphaned) data dir must never be reused by a new commit."""
    ids = [s["snapshot_id"] for s in snapshots(out_path)]
    dp = _data_path(out_path)
    if os.path.isdir(dp):
        for d in os.listdir(dp):
            if d.startswith("snap-"):
                try:
                    ids.append(int(d.split("-", 1)[1]))
                except ValueError:
                    pass
    return max(ids, default=0) + 1


def _assignment(out_path: str, as_of: int | None = None) -> dict[int, dict]:
    """part -> serving snapshot manifest at snapshot `as_of` (None =
    current): replay the log in id order, last writer <= as_of wins."""
    assign: dict[int, dict] = {}
    for s in snapshots(out_path):
        if as_of is not None and s["snapshot_id"] > as_of:
            break
        for p in s["parts"]:
            assign[int(p)] = s
    return assign


def read_as_of(spark: SparkSession, out_path: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Time-travel read (Iceberg VERSION AS OF contract): the table state
    at `snapshot_id` (None = current). One directory-pruned parquet read
    per serving snapshot — only the part=<p> dirs the assignment
    references are listed — unioned JVM-side. Raises FileNotFoundError
    when a part dir is missing although its manifest recorded docs."""
    from functools import reduce

    assign = _assignment(out_path, as_of=snapshot_id)
    if not assign:
        raise ValueError(f"no snapshots at or before {snapshot_id!r} in {out_path}")
    by_sid: dict[int, list[int]] = {}
    for p, snap in assign.items():
        by_sid.setdefault(snap["snapshot_id"], []).append(p)
    frames = []
    for sid, parts in sorted(by_sid.items()):
        # run_extraction records EVERY bucket of a batch in the manifest,
        # but partitionBy materializes no directory for a bucket that got
        # zero docs: a missing part dir the manifest recorded as empty is
        # an EMPTY relation. A missing dir for a bucket the manifest
        # recorded docs for is lost data, and raises.
        paths = []
        for p in sorted(parts):
            pp = os.path.join(_snap_dir(out_path, sid), f"part={p}")
            if os.path.isdir(pp):
                paths.append(pp)
            elif (docs := assign[p]["parts"][str(p)]["docs"]) > 0:
                raise FileNotFoundError(
                    f"snapshot {sid} recorded {docs} docs for part {p}, "
                    f"but {pp} is missing")
        if paths:
            frames.append(
                spark.read.option("basePath", _snap_dir(out_path, sid))
                .parquet(*paths))
    if not frames:
        # every referenced bucket was empty: an empty table with the
        # documented flat sink schema (+ the part column partitionBy adds)
        from pyspark.sql import types as T

        from eynollah_spark.schemas import FLAT_OUT_SCHEMA

        schema = T.StructType(
            FLAT_OUT_SCHEMA.fields + [T.StructField("part", T.IntegerType())])
        return spark.createDataFrame([], schema=schema)
    return reduce(lambda a, b: a.unionByName(b), frames)


def rollback(out_path: str, snapshot_id: int) -> int:
    """Drop every snapshot with id > snapshot_id from the log (Iceberg
    rollback-to-snapshot contract). Metadata-only: the dropped snapshots'
    data dirs stay on disk as unreferenced orphans (expire/vacuum is a
    separate concern, as in Iceberg), and ids are never reused, so a
    subsequent run_extraction reprocesses the uncovered buckets into a
    fresh snapshot. Returns the number of snapshots dropped."""
    dropped = 0
    for s in snapshots(out_path):
        if s["snapshot_id"] > snapshot_id:
            os.remove(os.path.join(_manifest_path(out_path),
                                   f"snap-{s['snapshot_id']:06d}.json"))
            dropped += 1
    return dropped


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    """True when an Iceberg catalog is wired into this session (the
    runtime jar is not shipped in this sandbox; on a real deployment set
    spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog)."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return impl is not None and "iceberg" in str(impl).lower()


def write_bucket_iceberg(out, table: str, create: bool = False) -> None:
    """North-star sink: one Iceberg snapshot per bucket batch via
    dynamic partition overwrite — `writeTo(t).overwritePartitions()`
    replaces exactly the `part` partitions present in `out`, which is
    the transactional equivalent of the parquet directory emulation
    below (same resume semantics, plus snapshot lineage/time travel).
    Callable only when iceberg_available(); this sandbox has no Iceberg
    runtime jar, so the path is exercised in production deployments
    only (run_extraction(..., iceberg_table=...) selects it)."""
    from pyspark.sql import functions as F

    if create:
        (out.writeTo(table).using("iceberg")
            .partitionedBy(F.col("part")).createOrReplace())
    else:
        out.writeTo(table).overwritePartitions()


def completed_parts(spark: SparkSession, out_path: str,
                    as_of: int | None = None) -> set[int]:
    """Buckets covered by the (replayed) manifest log. `spark` is unused
    (the log is driver-side JSON) but kept for call-site compatibility."""
    return set(_assignment(out_path, as_of=as_of))


def run_extraction(docs: DataFrame, out_path: str, n_parts: int = 8,
                   partitions: int | None = None, parts_per_batch: int = 4,
                   iceberg_table: str | None = None,
                   extract_kwargs: dict | None = None) -> dict:
    """Extract with per-bucket checkpointing; resumable.

    Returns summary metrics. Re-running after a failure skips buckets
    already recorded in the manifest (idempotent: bucket output is
    overwritten atomically per directory partition).

    iceberg_table: when set AND an Iceberg catalog is configured, bucket
    output goes through writeTo(table).overwritePartitions() — one
    snapshot per bucket batch (the BASELINE.json north-star sink); the
    parquet directory emulation below is the sandbox fallback with the
    same resume semantics.
    """
    spark = docs.sparkSession
    use_iceberg = iceberg_table is not None and iceberg_available(spark)
    docs = docs.withColumn("part", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))
    done = completed_parts(spark, out_path)
    todo = [p for p in range(n_parts) if p not in done]
    summary = {"n_parts": n_parts, "skipped": len(done), "processed": 0, "docs": 0, "spans": 0}
    os.makedirs(_manifest_path(out_path), exist_ok=True)
    for i in range(0, len(todo), parts_per_batch):
        batch = todo[i:i + parts_per_batch]
        t0 = time.time()
        sub = docs.filter(F.col("part").isin(batch))
        out = extract(sub.drop("part"), partitions=partitions, nested=False,
                      fail_fast=False, **(extract_kwargs or {}))
        out = out.withColumn("part", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))
        sid = _next_snapshot_id(out_path)
        if use_iceberg:
            write_bucket_iceberg(out, iceberg_table, create=(i == 0 and not done))
        else:
            # append-only snapshot data dir; the manifest json below is
            # the commit point — a crash between the two leaves an
            # orphan dir the log never references (ids are not reused)
            out.write.partitionBy("part").parquet(_snap_dir(out_path, sid))
        # lineage + metrics per bucket (span counts, kind histogram) —
        # computed from the parquet files just written, NOT by
        # re-aggregating the uncached `out` plan (which would re-run the
        # whole kernel stage a second time per batch); this also makes
        # the recorded metrics reflect the committed files.
        sd = _snap_dir(out_path, sid)
        if use_iceberg:
            committed = spark.table(iceberg_table)
        elif os.path.isdir(sd) and any(d.startswith("part=")
                                       for d in os.listdir(sd)):
            committed = spark.read.parquet(sd)
        else:
            # ADVICE r5: an all-empty batch materializes no part dirs —
            # there is nothing to re-read ('unable to infer schema');
            # every bucket records zero docs below
            committed = None
        if committed is None:
            rows = {}
        else:
            written = committed.filter(F.col("part").isin(batch))
            stats = (written.groupBy("part")
                     .agg(F.count("*").alias("spans"),
                          F.countDistinct("doc_id").alias("docs")))
            hist = (written.groupBy("part", "kind").count()
                    .groupBy("part")
                    .agg(F.to_json(F.map_from_entries(
                        F.collect_list(F.struct("kind", "count")))).alias("kind_hist")))
            rows = {r["part"]: r.asDict()
                    for r in stats.join(hist, "part", "left").collect()}
        wall = time.time() - t0
        parts_meta = {}
        for p in batch:
            r = rows.get(p, {"spans": 0, "docs": 0, "kind_hist": "{}"})
            parts_meta[str(p)] = {
                "docs": r["docs"], "spans": r["spans"],
                "kind_hist": r.get("kind_hist") or "{}",
                "wall_sec": round(wall / len(batch), 3),
            }
            summary["processed"] += 1
            summary["docs"] += r["docs"]
            summary["spans"] += r["spans"]
        manifest = {
            "snapshot_id": sid,
            "parent_id": current_snapshot_id(out_path),
            "kernel_version": KERNEL_VERSION,
            "n_parts": n_parts,
            "parts": parts_meta,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = os.path.join(_manifest_path(out_path), f".snap-{sid:06d}.json.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest) + "\n")
        os.rename(tmp, os.path.join(_manifest_path(out_path), f"snap-{sid:06d}.json"))
        summary.setdefault("snapshot_ids", []).append(sid)
    return summary
