"""Dissect extraction wall time into stages at one parallelism level.

Launched like bench_worker (own JVM, taskset-pinned) by profile_driver.py.
Variants isolate which stage stops scaling 8 -> 32 cores:

  scan               parquet scan + count only
  shuffle            scan + repartition(xxhash64) + Arrow passthrough kernel
                     (the JVM<->python round trip incl payload)
  ipc_narrow         same but text/media_ref dropped before the stage
  full               real kernel, inline payload (bench default, round 1)
  full_narrow        real kernel, payload dropped at scan (include_payload=False)
  full_join          real kernel, permutation-join strategy (payload JVM-side)
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--variants", default="scan,shuffle,ipc_narrow,full,full_narrow,full_join")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--batch", type=int, default=0, help="override arrow maxRecordsPerBatch")
    ap.add_argument("--parts-mult", type=int, default=4)
    ap.add_argument("--shuffle-parts", type=int, default=0)
    ap.add_argument("--conf", action="append", default=[], help="runtime k=v spark confs")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from eynollah_spark.pipeline import extract_flat_input
    from eynollah_spark.session import build_session

    spark = build_session(app=f"prof_c{args.cpus}", cpus=args.cpus,
                          shuffle_partitions=args.shuffle_parts or max(8, args.cpus))
    if args.batch:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(args.batch))
    for kv in args.conf:
        k, v = kv.split("=", 1)
        spark.conf.set(k, v)
    flat = spark.read.parquet(args.corpus)
    parts = args.cpus * args.parts_mult

    def _warm(it):
        import eynollah_spark.kernels.layout  # noqa: F401
        for b in it:
            yield b

    spark.range(0, args.cpus * 8, 1, args.cpus * 8).mapInPandas(_warm, "id long").count()

    def passthrough(batches):
        for b in batches:
            yield b

    narrow_cols = ["doc_id", "width", "height", "rtl", "kind", "offset",
                   "x0", "x1", "y0", "y1"]

    def plan(variant):
        if variant == "scan":
            return flat
        df = flat if "narrow" not in variant else flat.select(*narrow_cols)
        df = df.repartition(parts, F.xxhash64("doc_id"))
        if variant in ("shuffle", "ipc_narrow"):
            return df.mapInArrow(passthrough, df.schema)
        if variant == "full":
            return extract_flat_input(flat, partitions=parts)
        if variant == "full_narrow":
            return extract_flat_input(flat.select(*narrow_cols).withColumn(
                "text", F.lit(None).cast("string")).withColumn(
                "media_ref", F.lit(None).cast("string")), partitions=parts)
        if variant == "full_join":
            return extract_flat_input(flat, partitions=parts, strategy="join")
        raise ValueError(variant)

    res = {"cpus": args.cpus, "parts": parts}
    for v in args.variants.split(","):
        v = v.strip()
        walls = []
        for _ in range(args.trials):
            t0 = time.time()
            df = plan(v)
            # same sink as the bench: count + checksum over the narrow cols
            if v.startswith("full"):
                df.select(F.count("*"),
                          F.expr("bit_xor(xxhash64(doc_id, ord, kind, offset))")).first()
            else:
                df.select(F.count("*")).first()
            walls.append(time.time() - t0)
        res[v] = round(min(walls), 2)
    print("PROF " + json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
