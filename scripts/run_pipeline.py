#!/usr/bin/env python3
"""spark-submit entrypoint for the compression pipeline.

Cluster usage (N and 4N executors — the scaling experiment):

    zip -r ibp.zip invariantbitpacking_spark
    spark-submit --py-files ibp.zip \
        --num-executors $N --executor-cores 4 --executor-memory 8g \
        scripts/run_pipeline.py \
        --input  <tokens table path (parquet/iceberg)> \
        --output <output dir> --snapshot snap-2026-08-16 \
        --buckets 4096 --wave 256

Local sandbox: python scripts/run_pipeline.py --local-cores 32 ...
Interrupted runs resume from the last committed wave (lineage table).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=False,
                    help="tokens table parquet path; default = synthetic")
    ap.add_argument("--rows", type=int, default=20000,
                    help="synthetic corpus size when --input is omitted")
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshot", default="snap-0")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--wave", type=int, default=16)
    ap.add_argument("--max-waves", type=int, default=None)
    ap.add_argument("--local-cores", type=int, default=None,
                    help="local[N] cores; default $SPARK_GRAFT_CPUS, else "
                         "the CPUs this process may run on")
    ap.add_argument("--compact", action="store_true",
                    help="fold any pending delta files into the base "
                         "after the append and delete (physically "
                         "erases the deleted documents)")
    ap.add_argument("--append-rows", type=int, default=0,
                    help="after the run, upsert this many synthetic delta "
                         "docs into the snapshot (incremental-ingest drive)")
    ap.add_argument("--delete-rows", type=int, default=0,
                    help="after the run (and any append), tombstone-"
                         "delete this many documents (first N by doc_id "
                         "order) — the O(delta) erasure drive")
    ap.add_argument("--as-of", type=int, default=None,
                    help="also report the row count of the snapshot as "
                         "of this lineage commit_seq (time travel)")
    ap.add_argument("--verify", action="store_true",
                    help="decode everything afterwards and check identity")
    ap.add_argument("--cleanup-staging", action="store_true",
                    help="drop the staged input copy once all buckets commit")
    args = ap.parse_args()

    from invariantbitpacking_spark.plans.pipeline import CompressionPipeline
    from invariantbitpacking_spark.session import get_spark
    from invariantbitpacking_spark.sources.tokens import generate_tokens_df

    spark = get_spark("ibp-pipeline", cores=args.local_cores)
    spark.sparkContext.setLogLevel("ERROR")
    if args.input:
        toks = spark.read.parquet(args.input)
    else:
        toks = generate_tokens_df(spark, args.rows)

    pipe = CompressionPipeline(spark, args.output,
                               num_buckets=args.buckets,
                               wave_buckets=args.wave)
    t0 = time.perf_counter()
    res = pipe.run(toks, args.snapshot, max_waves=args.max_waves)
    wall = time.perf_counter() - t0
    out = {
        "snapshot": res.snapshot_id,
        "buckets_done": res.buckets_done,
        "buckets_skipped_committed": res.buckets_skipped,
        "docs": res.docs, "tokens": res.tokens,
        "raw_bytes": res.raw_bytes, "comp_bytes": res.comp_bytes,
        "ratio": round(res.ratio, 4),
        "wall_sec": round(wall, 3),
        "tokens_per_sec": round(res.tokens / max(wall, 1e-9), 1),
    }
    if args.append_rows:
        from pyspark.sql import functions as F

        delta = (generate_tokens_df(spark, args.append_rows, seed=777)
                 .withColumn("doc_id", F.concat(F.lit("delta-"),
                                                F.col("doc_id"))))
        t1 = time.perf_counter()
        ares = pipe.append(delta, args.snapshot)
        out["append_docs"] = args.append_rows
        out["append_buckets_touched"] = ares.buckets_done
        out["append_wall_sec"] = round(time.perf_counter() - t1, 3)
        toks = toks.unionByName(delta)
    if args.delete_rows:
        from pyspark.sql import functions as F

        out["pre_delete_seq"] = pipe._snapshot_max_seq(args.snapshot)
        victims = (toks.select("doc_id").orderBy("doc_id")
                   .limit(args.delete_rows))
        t3 = time.perf_counter()
        dres = pipe.delete(victims, args.snapshot)
        out["deleted_docs"] = dres.docs
        out["delete_wall_sec"] = round(time.perf_counter() - t3, 3)
        vlist = [r["doc_id"] for r in victims.collect()]
        toks = toks.filter(~F.col("doc_id").isin(vlist))
    if args.compact:
        t2 = time.perf_counter()
        cres = pipe.compact(args.snapshot)
        out["compact_buckets"] = cres.buckets_done
        out["compact_wall_sec"] = round(time.perf_counter() - t2, 3)
    if args.as_of is not None:
        out["as_of_seq"] = args.as_of
        out["as_of_rows"] = pipe.read_encoded(
            args.snapshot, as_of_seq=args.as_of).count()
    if args.verify:
        params = pipe.load_or_learn_params(toks, args.snapshot)
        out["roundtrip_mismatches"] = pipe.verify_roundtrip(toks, params, args.snapshot)
        out["checksum_mismatches"] = pipe.verify_checksums(args.snapshot)
    if args.cleanup_staging:
        pipe.cleanup_staging(args.snapshot)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
