"""Seeded benchmark inputs, built by the program's own generator and cached
under perfbench/.cache, keyed by (hash of corpus.py, seed, sizes).

On a cache miss the benchmark's session builds the entry once set-up is
measured, before the first timed operation (its wall is ``corpus.gen_s``,
outside ``setup_s``).  The corpus is ``corpus_flat_spark(spark, N_DOCS,
seed)``, written in four shapes:

* ``expected/``  (doc_id, offset, expected_rank, expected_kind) of every
  span: the reference of the output checks.
* ``bucketed/``  the span rows without the expected columns, hash-bucketed
  by ``xxhash64(doc_id)`` into doc-complete files sorted by (doc_id,
  offset), as ``bench.py ensure_corpus`` writes them: the input of the
  flagship task-side scan (``extract_from_parquet_files``).
* ``nested/``    docs ``doc_id < doc{N_SNAPSHOT_DOCS:08d}`` through
  ``nest_corpus`` (the ``input_hint`` shape) with a heavy tail: the
  ``N_SNAPSHOT_DOCS // HEAVY_EVERY`` non-empty docs with the smallest
  ``xxhash64(doc_id)`` are inflated to about 10^4 spans with
  ``bench.py ensure_skew_corpus``'s recipe.  Input of
  ``manifest.run_extraction``.
* ``heavy/``     the heavy docs' inflated flat rows, doc-complete: the
  bucketed entry point's reference for the heavy-doc check.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

N_DOCS = 4000              # bucketed-scan corpus
N_SNAPSHOT_DOCS = 1000     # its first docs feed run_extraction
HEAVY_EVERY = 500          # one heavy doc per this many snapshot docs
N_BUCKET_FILES = 32
N_NESTED_FILES = 8
N_HEAVY_FILES = 4
GEN_TASKS = 16
KEEP_CORPORA = 24          # cache entries kept per checkout (11 MB each)


def build(spark, out: str, seed: int) -> dict:
    """Write the four shapes of the seed's corpus under ``out``."""
    from pyspark.sql import functions as F

    from eynollah_spark.corpus import corpus_flat_spark, nest_corpus

    t0 = time.perf_counter()
    # small tasks: the generator leaves little resident memory in the workers
    gen = corpus_flat_spark(spark, N_DOCS, seed, partitions=GEN_TASKS).persist()
    (gen.filter(F.col("offset") >= 0)
     .select("doc_id", "offset", "expected_rank", "expected_kind")
     .write.parquet(f"{out}/expected"))
    flat = gen.drop("expected_kind", "expected_rank")
    (flat.repartition(N_BUCKET_FILES, F.xxhash64("doc_id"))
     .sortWithinPartitions("doc_id", "offset")
     .write.parquet(f"{out}/bucketed"))

    snap = flat.filter((F.col("doc_id") < f"doc{N_SNAPSHOT_DOCS:08d}") & (F.col("offset") >= 0))
    heavy_ids = [r["doc_id"] for r in snap.select("doc_id").distinct()
                 .orderBy(F.xxhash64("doc_id"), "doc_id").limit(N_SNAPSHOT_DOCS // HEAVY_EVERY)
                 .collect()]
    # bench.py ensure_skew_corpus: each heavy span gains 10000 // n shifted
    # replicas, y staggered down the page
    reps = (snap.filter(F.col("doc_id").isin(heavy_ids))
            .withColumn("_n", F.expr("COUNT(*) OVER (PARTITION BY doc_id)"))
            .withColumn("rep", F.explode(F.expr(
                "sequence(1, CAST(GREATEST(1, 10000 DIV _n) AS INT))")))
            .withColumn("offset", F.col("offset") + F.col("rep") * 100000)
            .withColumn("y0", (F.col("y0") + F.col("rep") * 37) % (F.col("height") - 40))
            .withColumn("y1", F.col("y0") + 24)
            .drop("_n", "rep"))
    inflated = snap.unionByName(reps)
    (inflated.filter(F.col("doc_id").isin(heavy_ids))
     .repartition(N_HEAVY_FILES, F.xxhash64("doc_id"))
     .sortWithinPartitions("doc_id", "offset")
     .write.parquet(f"{out}/heavy"))
    nest_corpus(inflated).repartition(N_NESTED_FILES).write.parquet(f"{out}/nested")
    gen.unpersist(blocking=True)

    return {"n_docs": N_DOCS, "snapshot_docs": N_SNAPSHOT_DOCS, "seed": seed,
            "heavy_ids": sorted(heavy_ids), "gen_s": time.perf_counter() - t0}


def fingerprint(root: str) -> str:
    h = hashlib.sha256(f"{N_DOCS}/{N_SNAPSHOT_DOCS}/{HEAVY_EVERY}".encode())
    for rel in ("eynollah_spark/corpus.py", "perfbench/inputs.py"):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_corpus(spark, cache: str, root: str, seed: int) -> tuple[str, dict]:
    """Path and meta of the seed's cached corpus; built on a miss."""
    path = os.path.join(cache, f"corpus-{fingerprint(root)}-s{seed}")
    if not os.path.exists(f"{path}/meta.json"):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = build(spark, tmp, seed)
        with open(f"{tmp}/meta.json", "w") as f:
            json.dump(meta, f)
        os.replace(tmp, path)
        entries = sorted((e for e in os.listdir(cache) if e.startswith("corpus-")
                          and ".tmp-" not in e),
                         key=lambda e: os.path.getmtime(os.path.join(cache, e)))
        for old in entries[:-KEEP_CORPORA]:
            shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    with open(f"{path}/meta.json") as f:
        return path, json.load(f)
