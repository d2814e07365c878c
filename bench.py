#!/usr/bin/env python3
"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on).
Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The measured corpus is the deterministic synthetic tokens table
(invariantbitpacking_spark.sources.tokens, seed 42) sized by the sf of
the given dir, plus the tokenize+encode flagship over the sf dir's
documents table.  Scaling evidence (local[8] vs local[32]) is produced
by scripts/scaling_bench.py and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from invariantbitpacking_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
# rows scaled so sf0.1 ~= 40k docs (~40M tokens, ~160 MB raw int32)
SF = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1
NUM_ROWS = int(os.environ.get("IBP_BENCH_ROWS", str(max(2000, int(400_000 * SF)))))


def box_probe(mb: int = 128) -> dict:
    """Memory-subsystem state at run time, embedded in the bench JSON
    so walls are interpretable: this sandbox's host intermittently
    degrades first-touch page faults ~100x and even warm bandwidth
    ~15x (BASELINE.md 'box drift mechanism'), which inflates every
    query wall with no code change.  fault_mbps = filling a FRESH
    buffer (page faults in the path); warm_mbps = refilling the same
    pages (pure memory bandwidth)."""
    import numpy as np
    import time

    n = mb * (1 << 20) // 8
    t0 = time.perf_counter()
    buf = np.empty(n, np.int64)
    buf.fill(1)
    fault = mb / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    buf.fill(2)
    warm = mb / (time.perf_counter() - t0)
    return {"fault_mbps": round(fault, 1), "warm_mbps": round(warm, 1)}


def external_codec_sizes(spark, toks, n_tokens: int) -> dict:
    """bytes/token of the tokens column under parquet's built-in codecs
    (dictionary/RLE + general-purpose compressor) — the honest external
    baseline our codec family is compared against in BASELINE.md."""
    import glob
    import json as _json
    import shutil

    base = os.path.join(os.environ.get("IBP_DATA_DIR", "/tmp/ibp_spark_data"),
                        f"extcodec_{NUM_ROWS}")
    meta = base + ".json"
    if os.path.exists(meta):
        with open(meta) as f:
            return _json.load(f)
    out = {}
    for codec in ("zstd", "lz4", "snappy", "uncompressed"):
        path = f"{base}_{codec}"
        (toks.select("tokens").write.mode("overwrite")
         .option("compression", codec).parquet(path))
        nbytes = sum(os.path.getsize(p)
                     for p in glob.glob(os.path.join(path, "*.parquet")))
        out[f"parquet_{codec}_bytes_per_token"] = round(nbytes / n_tokens, 4)
        shutil.rmtree(path, ignore_errors=True)
    with open(meta, "w") as f:
        _json.dump(out, f)
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from invariantbitpacking_spark.operators import ibp
    from invariantbitpacking_spark.session import get_spark
    from invariantbitpacking_spark.sources.tokens import (
        generate_tokens_df, tokens_from_documents)

    spark = get_spark("ibp-bench", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    extras.update({f"box_{k}_pre": v for k, v in box_probe().items()})

    def timed(name: str, fn):
        # best-of-3: the shared VM shows multi-x run-to-run drift
        # (interleaved A/B runs in BASELINE.md pin it to the box, not
        # the code) — three trials per query cut the tail risk of one
        # noisy window distorting the whole round's record
        best, out = None, None
        for i in range(3):
            t0 = time.perf_counter()
            r = fn()
            d = time.perf_counter() - t0
            if best is None or d < best:
                best = d
            if i == 0:
                out = r
        timings[name] = round(best, 3)
        return out

    # -- corpus (generation/caching/warm-up is setup, not measured) -----
    toks = generate_tokens_df(spark, NUM_ROWS, num_partitions=CPUS * 2).cache()
    n_docs, n_tokens = toks.agg(
        F.count(F.lit(1)), F.sum("n_tok")).collect()[0]

    # q1: parameter learning — exact bit-count scan + θ-selection
    # evaluation on a 25% seeded sample (the reference's sample-fitting
    # protocol, tests/sens_sweep.py:20-24; candidate masks stay exact,
    # pinned equal to the full run in tests/test_sensitivity.py)
    params = timed("q1_learn_params",
                   lambda: ibp.learn_params(toks, eval_sample_fraction=0.25))

    # q2: encode (the headline); one untimed warm-up spins up the
    # Python workers and JIT so the measurement is compute, not startup
    ibp.encode_ibp(toks, params).agg(F.count(F.lit(1))).collect()

    def run_encode():
        enc = ibp.encode_ibp(toks, params)
        return enc.agg(F.sum("comp_bytes"), F.sum("raw_bytes"),
                       F.sum("n_tok"), F.count(F.lit(1))).collect()[0]

    comp_bytes, raw_bytes, tok_sum, docs = timed("q2_encode", run_encode)
    extras["encode_tokens_per_sec"] = round(tok_sum / timings["q2_encode"], 1)
    extras["bytes_per_token"] = round(comp_bytes / tok_sum, 4)
    extras["comp_ratio"] = round(raw_bytes / comp_bytes, 4)

    # q3: decode (from a materialized encoded table)
    enc_path = os.path.join(
        os.environ.get("IBP_DATA_DIR", "/tmp/ibp_spark_data"),
        f"bench_enc_{NUM_ROWS}")
    ibp.encode_ibp(toks, params).write.mode("overwrite").parquet(enc_path)
    enc_df = spark.read.parquet(enc_path).cache()
    enc_df.count()  # warm the cache before timing decode

    def run_decode():
        dec = ibp.decode_ibp(enc_df, params)
        return dec.agg(F.sum("n_tok"), F.count(F.lit(1))).collect()[0]

    dec_toks, dec_docs = timed("q3_decode", run_decode)
    extras["decode_tokens_per_sec"] = round(dec_toks / timings["q3_decode"], 1)

    # q3b: mixed-codec decode (auto family)
    auto_path = enc_path + "_auto"
    from invariantbitpacking_spark.operators import selector
    selector.encode_auto(toks, params).write.mode("overwrite").parquet(auto_path)
    auto_df = spark.read.parquet(auto_path).cache()
    auto_df.count()

    def run_decode_auto():
        dec = selector.decode_auto(auto_df, params)
        return dec.agg(F.sum("n_tok")).collect()[0][0]

    adec_toks = timed("q3b_decode_auto", run_decode_auto)
    extras["auto_decode_tokens_per_sec"] = round(
        adec_toks / timings["q3b_decode_auto"], 1)

    # q4: full round-trip verification — the scale-right shuffle-free
    # pattern (the same XOR-fold the durable pipeline's checksum audit
    # uses): both sides reduce to one 64-bit order-independent
    # fingerprint of (doc_id, tokens), aggregated map-side, so the
    # verify costs two narrow scans and ZERO shuffle instead of a
    # corpus-wide join.  Equality => bit-identical corpus w.h.p.
    def run_verify():
        fold = F.expr("bit_xor(xxhash64(doc_id, tokens))")
        src = toks.select("doc_id", "tokens").agg(fold).collect()[0][0]
        dec = (ibp.decode_ibp(enc_df, params)
               .select("doc_id", "tokens").agg(fold).collect()[0][0])
        assert src == dec, "round-trip checksum mismatch"
        return 0

    timed("q4_roundtrip_verify", run_verify)

    # q5: auto-selected encode across the full codec family
    def run_auto():
        from invariantbitpacking_spark.operators import selector
        enc = selector.encode_auto(toks, params)
        return enc.agg(F.sum("comp_bytes"), F.sum("n_tok")).collect()[0]

    auto_bytes, auto_toks = timed("q5_encode_auto", run_auto)
    extras["auto_encode_tokens_per_sec"] = round(auto_toks / timings["q5_encode_auto"], 1)
    extras["auto_bytes_per_token"] = round(auto_bytes / auto_toks, 4)

    # q6: flagship over the sf dir's documents (tokenize+learn+encode).
    # The documents parquet is ONE file -> one input partition, so the
    # table is repartitioned for parallelism and persisted: learning
    # must not re-run the tokenizer per pass (at 100 TB the tokenized
    # projection is cached/staged exactly once — pipeline.stage_input).
    # Learning samples 25% (the reference's sample-fitting protocol,
    # tests/sens_sweep.py:20-24).  Warm-up is setup, as for q2.
    doc_toks = (tokens_from_documents(spark, SF_DIR)
                .repartition(CPUS).persist())
    doc_toks.count()  # materialize outside the timed section

    def run_flagship():
        p = ibp.learn_params(doc_toks, sample_fraction=0.25)
        return ibp.encode_ibp(doc_toks, p).agg(
            F.sum("comp_bytes")).collect()[0][0]

    timed("q6_documents_flagship", run_flagship)
    doc_toks.unpersist()

    # q7: FSST string columns (functions/strings.py): learn the symbol
    # table on a sample, encode doc_id+source for the whole corpus,
    # decode back — the string half of every durable snapshot write.
    # Encode and decode are composed explicitly into one Arrow stage
    # chain, so the round trip crosses into Python once per task.
    from invariantbitpacking_spark.functions import strings as fstr
    from invariantbitpacking_spark.operators import stages

    table = fstr.learn_table_df(toks, ("doc_id", "source"))
    sids = toks.select("doc_id", "source")
    fstr.encode_string_cols(sids, table, ("doc_id", "source")).count()  # warm

    def run_fsst():
        dec_s = stages.apply(sids, fstr.encode_stage(table),
                             fstr.decode_stage(table))
        return dec_s.agg(F.sum(F.length("doc_id")),
                         F.count(F.lit(1))).collect()[0]

    s_bytes, s_rows = timed("q7_fsst_strings", run_fsst)
    extras["fsst_rows_per_sec"] = round(s_rows / timings["q7_fsst_strings"], 1)

    # q8: streaming windowed aggregation (streaming/windowed_stats.py):
    # the batch twin of the watermarked stream (identical _agg plan) over
    # the sf dir's events table — the per-round number for the streaming
    # module family (exactly-once paths stay pytest-gated).
    from invariantbitpacking_spark.streaming.windowed_stats import (
        windowed_stats_batch)

    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    windowed_stats_batch(events).count()  # warm

    def run_window():
        return windowed_stats_batch(events).count()

    w_rows = timed("q8_stream_window", run_window)
    extras["stream_window_rows"] = int(w_rows)

    # q9/q10: durable-store verbs over a real on-disk snapshot —
    # tombstone delete (the O(delta) logical erase, pipeline.delete)
    # and time-travel point fetch (fetch(..., as_of_seq)).  Building
    # the store (run()) is setup, not measured.  Each delete trial
    # tombstones a DISJOINT 100-id batch: re-deleting the same ids is
    # an idempotent no-op, which would make later trials artificially
    # cheap under best-of-3.
    #
    # IBP_BENCH_SKIP_STORE=1 skips this pair: the store build needs a
    # staged input copy + the snapshot on disk simultaneously (~1.7x
    # the corpus's raw bytes) — at oversized scale points (100x on
    # this sandbox's ~79 GB scratch) that exceeds the disk budget, and
    # the durable verbs are measured there by scripts/run_pipeline.py
    # (--delete-rows/--as-of) against its full-size snapshot instead.
    if os.environ.get("IBP_BENCH_SKIP_STORE") != "1":
        import shutil

        from invariantbitpacking_spark.plans.pipeline import CompressionPipeline

        store_dir = os.path.join(
            os.environ.get("IBP_DATA_DIR", "/tmp/ibp_spark_data"),
            f"bench_store_{NUM_ROWS}")
        shutil.rmtree(store_dir, ignore_errors=True)
        pipe = CompressionPipeline(spark, store_dir, num_buckets=CPUS,
                                   wave_buckets=CPUS)
        snap = "bench-snap"
        pipe.run(toks, snap)
        seq0 = pipe._snapshot_max_seq(snap)
        victims = [r[0] for r in
                   toks.select("doc_id").sort("doc_id").limit(300).collect()]
        batch_iter = iter([victims[i:i + 100] for i in range(0, 300, 100)])

        def run_delete():
            ids = spark.createDataFrame([(d,) for d in next(batch_iter)],
                                        "doc_id string")
            pipe.delete(ids, snap)
            return 0

        timed("q9_tombstone_delete", run_delete)
        extras["tombstone_docs_per_trial"] = 100

        tt_ids = victims[:10]
        pipe.fetch(tt_ids, snap, as_of_seq=seq0).count()  # warm

        def run_tt_fetch():
            # as-of the pre-delete commit: all 10 tombstoned docs visible
            return pipe.fetch(tt_ids, snap, as_of_seq=seq0).count()

        tt_rows = timed("q10_time_travel_fetch", run_tt_fetch)
        assert tt_rows == 10, f"time-travel fetch returned {tt_rows} rows"
        extras["time_travel_fetch_docs"] = int(tt_rows)

        # the store is bench scaffolding; drop it so a 100x run's disk
        # peak is the live artifacts only (a single-wave run stages no
        # input copy)
        shutil.rmtree(store_dir, ignore_errors=True)

    # external-codec size comparison (reference Tables 1-2 role,
    # src/compress_test.cu:125-137: IBP ratio vs nvComp LZ4/Snappy/Zstd
    # etc.): the same tokens column written as parquet with each
    # built-in codec, bytes/token from on-disk file sizes.  Sizes are
    # deterministic per corpus -> cached next to the data dir.
    extras.update(external_codec_sizes(spark, toks, int(tok_sum)))
    extras.update({f"box_{k}_post": v for k, v in box_probe().items()})

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "ibp_pipeline_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF,
        "cpus": CPUS,
        "docs": int(docs),
        "tokens": int(tok_sum),
        **extras,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
