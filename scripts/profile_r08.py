#!/usr/bin/env python3
"""Round-8 optimization profiler (guide §1: measure first).

Captures .explain("formatted") for every bench query path into
plans/r08/<name>_<tag>.txt and prints a per-phase timing breakdown of
the fixed-cost-dominated verbs (q9 tombstone delete, q10 fetch,
q1 learn_params, q7 fsst) so each optimization targets the measured
wall, not a guess.  Usage:

    python3 scripts/profile_r08.py [--tag before] [--rows 40000]

Separate from bench.py on purpose: bench.py is frozen for measurement.
"""
from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", "r08")


def explain_to(df, name: str, tag: str) -> None:
    os.makedirs(PLANS_DIR, exist_ok=True)
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as f:
        f.write(txt)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(label: str, fn, spark=None, n: int = 3):
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        d = time.perf_counter() - t0
        best = d if best is None or d < best else best
    print(f"{label:45s} {best:7.3f}s  (best of {n})")
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--rows", type=int, default=40_000)
    ap.add_argument("--skip-store", action="store_true")
    args = ap.parse_args()
    tag = args.tag

    from pyspark.sql import functions as F

    from invariantbitpacking_spark.operators import ibp, selector
    from invariantbitpacking_spark.session import get_spark
    from invariantbitpacking_spark.sources.tokens import (
        generate_tokens_df, tokens_from_documents)
    from invariantbitpacking_spark.functions import strings as fstr

    CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ibp-profile-r08", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    toks = generate_tokens_df(spark, args.rows, num_partitions=CPUS * 2).cache()
    toks.count()

    # ---- q1 learn_params: phase breakdown -------------------------------
    sc.setJobDescription("q1: bit_count pass")
    bc = ibp.bit_count_df(toks)
    explain_to(bc, "q1_bitcount", tag)
    timed("q1a bit_count_df collect", lambda: bc.collect())
    sc.setJobDescription("q1: full learn")
    timed("q1  learn_params(eval 25%)",
          lambda: ibp.learn_params(toks, eval_sample_fraction=0.25))
    params = ibp.learn_params(toks, eval_sample_fraction=0.25)

    # ---- q2 encode / q5 auto / q3 decode --------------------------------
    sc.setJobDescription("q2: encode_ibp noop")
    enc_df = ibp.encode_ibp(toks, params)
    explain_to(enc_df, "q2_encode", tag)
    timed("q2  encode_ibp noop", lambda: noop(enc_df))

    enc_path = os.path.join(os.environ.get("IBP_DATA_DIR",
                                           "/tmp/ibp_spark_data"),
                            f"prof_enc_{args.rows}")
    ibp.encode_ibp(toks, params).write.mode("overwrite").parquet(enc_path)
    enc = spark.read.parquet(enc_path).cache()
    enc.count()
    sc.setJobDescription("q3: decode noop")
    dec_df = ibp.decode_ibp(enc, params)
    explain_to(dec_df, "q3_decode", tag)
    timed("q3  decode_ibp noop", lambda: noop(dec_df))

    sc.setJobDescription("q5: encode_auto noop")
    auto_df = selector.encode_auto(toks, params)
    explain_to(auto_df, "q5_encode_auto", tag)
    timed("q5  encode_auto noop", lambda: noop(auto_df))

    auto_path = enc_path + "_auto"
    selector.encode_auto(toks, params).write.mode("overwrite").parquet(auto_path)
    auto = spark.read.parquet(auto_path).cache()
    auto.count()
    sc.setJobDescription("q3b: decode_auto noop")
    dauto_df = selector.decode_auto(auto, params)
    explain_to(dauto_df, "q3b_decode_auto", tag)
    timed("q3b decode_auto noop", lambda: noop(dauto_df))

    # ---- q6 flagship ----------------------------------------------------
    doc_toks = tokens_from_documents(spark, SF_DIR).repartition(CPUS).persist()
    doc_toks.count()
    sc.setJobDescription("q6: flagship")

    def flagship():
        p = ibp.learn_params(doc_toks, sample_fraction=0.25)
        ibp.encode_ibp(doc_toks, p).agg(F.sum("comp_bytes")).collect()
    timed("q6  flagship learn+encode", flagship)
    doc_toks.unpersist()

    # ---- q7 fsst --------------------------------------------------------
    table = fstr.learn_table_df(toks, ("doc_id", "source"))
    sids = toks.select("doc_id", "source")
    enc_s_df = fstr.encode_string_cols(sids, table, ("doc_id", "source"))
    dec_s_df = fstr.decode_string_cols(enc_s_df, table, ("doc_id", "source"))
    explain_to(dec_s_df, "q7_fsst", tag)
    sc.setJobDescription("q7: fsst encode only")
    timed("q7a fsst encode noop", lambda: noop(enc_s_df))
    sc.setJobDescription("q7: fsst encode+decode")
    timed("q7  fsst enc+dec noop", lambda: noop(dec_s_df))

    # ---- q8 window ------------------------------------------------------
    from invariantbitpacking_spark.streaming.windowed_stats import (
        windowed_stats_batch)
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    w_df = windowed_stats_batch(events)
    explain_to(w_df, "q8_window", tag)
    sc.setJobDescription("q8: window")
    timed("q8  window count", lambda: w_df.count())

    # ---- q9/q10 durable verbs -------------------------------------------
    if not args.skip_store:
        import shutil
        from invariantbitpacking_spark.plans.pipeline import (
            CompressionPipeline)

        store = os.path.join(os.environ.get("IBP_DATA_DIR",
                                            "/tmp/ibp_spark_data"),
                             f"prof_store_{args.rows}")
        shutil.rmtree(store, ignore_errors=True)
        pipe = CompressionPipeline(spark, store, num_buckets=CPUS,
                                   wave_buckets=CPUS)
        snap = "prof-snap"
        t0 = time.perf_counter()
        pipe.run(toks, snap)
        print(f"{'store build (setup)':45s} {time.perf_counter()-t0:7.3f}s")
        seq0 = pipe._snapshot_max_seq(snap)
        victims = [r[0] for r in
                   toks.select("doc_id").sort("doc_id").limit(900).collect()]
        batches = [victims[i:i + 100] for i in range(0, 900, 100)]
        bi = iter(batches)

        # phase breakdown of ONE tombstone delete, mirroring
        # _delete_tombstone's internal sequence
        ids = spark.createDataFrame([(d,) for d in next(bi)],
                                    "doc_id string")
        fsst_table = None
        phases = []

        def ph(label, fn):
            t0 = time.perf_counter()
            r = fn()
            phases.append((label, time.perf_counter() - t0))
            return r

        ph("d0 committed_buckets", lambda: pipe.committed_buckets(snap))
        fsst_table = ph("d1 _fsst_table", lambda: pipe._fsst_table(snap))
        salted = ids.select(
            F.col("doc_id").cast("string").alias("doc_id")).withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"),
                             F.lit(pipe.num_buckets)).cast("int"))
        affected = ph("d2 distinct buckets collect",
                      lambda: sorted(r["bucket"] for r in
                                     salted.select("bucket")
                                     .distinct().collect()))
        ph("d3 purge_orphans", lambda: pipe._purge_orphan_deltas(snap))
        keys = salted.withColumn("snapshot_id", F.lit(snap))
        if fsst_table is not None:
            keys = fstr.encode_string_cols(keys, fsst_table, ("doc_id",))
        keys = keys.select("snapshot_id", "doc_id").distinct()
        cur = ph("d4 _resolved", lambda: pipe._resolved(snap, affected))
        repl = ph("d5 _replaced_stats",
                  lambda: pipe._replaced_stats(snap, affected, keys))
        seq = ph("d6 _next_commit_seq", lambda: pipe._next_commit_seq())
        from invariantbitpacking_spark.plans.pipeline import TOMBSTONE_CODEC
        src_t = "binary" if fsst_table is not None else "string"
        tomb = (cur.join(F.broadcast(keys), ["snapshot_id", "doc_id"],
                         "left_semi")
                .select("snapshot_id", "doc_id", "bucket")
                .withColumn("source", F.lit(None).cast(src_t))
                .withColumn("n_tok", F.lit(0).cast("int"))
                .withColumn("n_blocks", F.lit(0).cast("int"))
                .withColumn("block_sizes",
                            F.expr("array()").cast("array<int>"))
                .withColumn("block_flags", F.lit(None).cast("binary"))
                .withColumn("payload", F.lit(None).cast("binary"))
                .withColumn("comp_bytes", F.lit(0).cast("long"))
                .withColumn("raw_bytes", F.lit(0).cast("long"))
                .withColumn("codec", F.lit(TOMBSTONE_CODEC))
                .withColumn("row_xxh", F.lit(0).cast("long"))
                .withColumn("delta_seq", F.lit(seq).cast("long")))
        explain_to(tomb, "q9_tomb_write", tag)
        ph("d7 tomb write", lambda: (
            tomb.write.mode("append")
            .partitionBy("snapshot_id", "bucket", "delta_seq")
            .parquet(pipe.delta_dir)))
        ph("d8 commit_delta_wave", lambda: pipe._commit_delta_wave(
            snap, affected, repl, [], 0.0, seq))
        ph("d9 maybe_compact", lambda: pipe._maybe_compact_deltas(
            snap, affected))
        for label, d in phases:
            print(f"  {label:43s} {d:7.3f}s")
        print(f"{'q9 phase total':45s} {sum(d for _, d in phases):7.3f}s")

        sc.setJobDescription("q9: full delete verb")
        timed("q9  delete(tombstone) full verb", lambda: pipe.delete(
            spark.createDataFrame([(d,) for d in next(bi)],
                                  "doc_id string"),
            snap), n=3)

        tt_ids = victims[:10]
        f_df = pipe.fetch(tt_ids, snap, as_of_seq=seq0)
        explain_to(f_df, "q10_fetch", tag)
        sc.setJobDescription("q10: time-travel fetch")
        timed("q10 fetch(as_of) count", lambda: pipe.fetch(
            tt_ids, snap, as_of_seq=seq0).count())
        pipe.cleanup_staging(snap)
        shutil.rmtree(store, ignore_errors=True)

    spark.stop()


if __name__ == "__main__":
    main()
