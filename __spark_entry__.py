"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship pipeline (tokenize -> learn IBP params ->
encode -> per-source compression summary) at sf0.001.  ``queries`` /
``oracle_sql`` expose each implemented operator from SURVEY.md §2 with
a DuckDB-checkable oracle where the semantics are SQL-expressible;
codec byte-stream ops are gated by the count-based round-trip oracle
(every document must decode bit-identical) plus the pytest suite.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF0001 = "/root/testdata/sf0.001"


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from invariantbitpacking_spark.sources.tokens import tokens_from_documents

    return tokens_from_documents(spark, sf_dir)


_PARAMS_CACHE: dict = {}


def _params(spark: SparkSession, sf_dir: str):
    """learn_params is deterministic per sf_dir; memoize so the driver's
    query sweep pays the two learning scans once, not per query."""
    from invariantbitpacking_spark.operators import ibp

    if sf_dir not in _PARAMS_CACHE:
        _PARAMS_CACHE[sf_dir] = ibp.learn_params(_tokens(spark, sf_dir))
    return _PARAMS_CACHE[sf_dir]


_KPARAMS_CACHE: dict = {}


def _kparams(spark: SparkSession, sf_dir: str):
    """Clustered codec parameters (preprocess_kmeans analog).  vec_size
    is 32 because the documents corpus tops out at 99 tokens — at the
    default 128 no document yields a single full block to cluster."""
    from invariantbitpacking_spark.operators import kmeans

    if sf_dir not in _KPARAMS_CACHE:
        # init="hash" (seed blocks by md5(doc_id) order) so the ENTIRE
        # clustering — init, Lloyd, sweep — is replayable in DuckDB
        _KPARAMS_CACHE[sf_dir] = kmeans.learn_kmeans(
            _tokens(spark, sf_dir), k=4, iters=10, vec_size=32,
            init="hash")
    return _KPARAMS_CACHE[sf_dir]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Tokenize sf0.001 documents, learn IBP codec parameters, encode,
    and return the per-source compression summary."""
    from invariantbitpacking_spark.operators import ibp

    toks = _tokens(spark, SF0001)
    params = _params(spark, SF0001)
    enc = ibp.encode_ibp(toks, params)
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").alias("tokens"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("comp_bytes").alias("comp_bytes"),
        )
        .withColumn("ratio", F.col("raw_bytes") / F.col("comp_bytes"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# per-operator queries (SURVEY.md §2) + DuckDB oracles
# ---------------------------------------------------------------------------

def q_tokenize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tokenizer (the engine's input adapter)."""
    t = _tokens(spark, sf_dir)
    return t.select(
        "doc_id",
        "n_tok",
        F.element_at("tokens", 1).alias("tok_first"),
        F.element_at("tokens", -1).alias("tok_last"),
        "source",
    )


def q_bitcount_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-bit set-count histogram (count_bit_kernel analog,
    SURVEY.md §2.1 #2) over a 32-bit view of lineitem.l_partkey."""
    from invariantbitpacking_spark.operators.ibp import bit_count_df

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    toks = li.select(F.array(F.col("l_partkey").cast("int")).alias("tokens"))
    return bit_count_df(toks, vec_size=1)


def q_ibp_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode+decode round-trip; the oracle asserts ok_docs == docs for
    every source, i.e. bit-identical token arrays everywhere."""
    from invariantbitpacking_spark.operators import ibp

    toks = _tokens(spark, sf_dir)
    params = _params(spark, sf_dir)
    dec = ibp.decode_ibp(ibp.encode_ibp(toks, params), params)
    joined = (
        toks.alias("a")
        .join(dec.alias("b"), "doc_id")
        .select(
            F.col("a.source").alias("source"),
            (F.col("a.tokens") == F.col("b.tokens")).cast("long").alias("ok"),
        )
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ok").alias("ok_docs"),
    )


def q_ibp_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression accounting per source.  docs and raw_bytes
    (= 4 * token count) are DuckDB-exact; the never-expand clamp
    (comp_size = min(..., vec_bytes), reference ibp_misc_dev.cuh:86-87)
    makes no_expand_docs == docs an oracle-checkable invariant of the
    encoded bytes, while absolute comp_bytes stays pytest-gated."""
    from invariantbitpacking_spark.operators import ibp

    toks = _tokens(spark, sf_dir)
    params = _params(spark, sf_dir)
    enc = ibp.encode_ibp(toks, params)
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum((F.col("comp_bytes") <= F.col("raw_bytes"))
                  .cast("long")).alias("no_expand_docs"),
        )
        .orderBy("source")
    )


def q_codec_choice_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-selector restricted to the closed-form codecs (raw, dict,
    RLE, delta-FOR, FOR): the DuckDB oracle recomputes every candidate
    size from the north-rule statistics (value range, delta range, run
    count, cardinality) and replays the argmin with the CODEC_ORDER
    tie-break — so per-(source, codec) doc counts AND actual encoded
    byte totals are verified exactly against SQL."""
    from invariantbitpacking_spark.operators import selector

    toks = _tokens(spark, sf_dir)
    params = _params(spark, sf_dir)
    enc = selector.encode_auto(
        toks, params, allowed=("raw", "dict", "rle", "dfor", "for"))
    return (enc.groupBy("source", "codec")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("comp_bytes").alias("total_bytes")))


def q_auto_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec auto-selector round-trip (dict/RLE/FOR/delta-FOR/IBP/raw
    per-document choice); oracle asserts every doc decodes identically."""
    from invariantbitpacking_spark.operators import ibp, selector

    toks = _tokens(spark, sf_dir)
    params = _params(spark, sf_dir)
    dec = selector.decode_auto(selector.encode_auto(toks, params), params)
    joined = (
        toks.alias("a")
        .join(dec.alias("b"), "doc_id")
        .select(
            F.col("a.source").alias("source"),
            (F.col("a.tokens") == F.col("b.tokens")).cast("long").alias("ok"),
        )
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ok").alias("ok_docs"),
    )


def q_codec_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-codec document counts and byte accounting from the
    auto-selector.  FULL oracle: the DuckDB twin replays the complete
    closed-form argmin — IBP's learned mask + §1.4 size formula
    (_ibp_replay_cte) against the lightweight-codec size formulas —
    so codec choice AND emitted byte totals are hash-gated."""
    from invariantbitpacking_spark.operators import ibp, selector

    toks = _tokens(spark, sf_dir)
    params = _params(spark, sf_dir)
    enc = selector.encode_auto(toks, params)
    return (enc.groupBy("codec")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("raw_bytes").alias("raw_bytes"),
                 F.sum("comp_bytes").alias("comp_bytes"))
            .orderBy("codec"))


def q_gather_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gather-by-index decode (decompress_fetch with index_arr,
    reference src/decompress.cu:56-98): a broadcast semi-join selects a
    subset of encoded documents, only those are decoded; the oracle
    recomputes the same docs' first/last tokens straight from the text,
    so values prove the gathered decode is bit-faithful."""
    from invariantbitpacking_spark.operators import ibp

    toks = _tokens(spark, sf_dir)
    params = _params(spark, sf_dir)
    enc = ibp.encode_ibp(toks, params)
    wanted = toks.select("doc_id").filter(F.col("doc_id").endswith("7"))
    gathered = enc.join(F.broadcast(wanted), "doc_id")
    dec = ibp.decode_ibp(gathered, params)
    return dec.select(
        "doc_id", "n_tok",
        F.element_at("tokens", 1).alias("tok_first"),
        F.element_at("tokens", -1).alias("tok_last"))


def q_gather_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-side gather (compress/get_compress_size with index_arr,
    reference src/compress.cu:53-61): a broadcast semi-join selects the
    wanted documents BEFORE encoding, with sortWithinPartitions as the
    locality analog of the reference's radix sort of gather indices
    (src/decompress.cu:63-98).  Only the gathered subset is encoded;
    decoding it back proves the gathered encode is bit-faithful."""
    from invariantbitpacking_spark.operators import ibp

    toks = _tokens(spark, sf_dir)
    params = _params(spark, sf_dir)
    wanted = toks.select("doc_id").filter(F.col("doc_id").endswith("3"))
    gathered = (toks.join(F.broadcast(wanted), "doc_id")
                .sortWithinPartitions("doc_id"))
    dec = ibp.decode_ibp(ibp.encode_ibp(gathered, params), params)
    return dec.select(
        "doc_id", "n_tok",
        F.element_at("tokens", 1).alias("tok_first"),
        F.element_at("tokens", -1).alias("tok_last"))


def q_condensed_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensed-layout byte offsets: the reference packs blobs
    back-to-back at offsets from an inclusive scan of sizes
    (thrust::inclusive_scan, src/compress.cu:284-285).  Scale-safe
    two-phase scan instead of a global unpartitioned window (which
    funnels every row through ONE task): range-partition by doc_id,
    collect one byte-total row per partition, turn those into broadcast
    base offsets, then cumsum locally inside each partition — every
    stage stays parallel.  FULL oracle: the DuckDB twin replays mask
    learning + the §1.4 size formula per block and window-cumsums in
    doc_id order (_ibp_replay_cte), so every byte offset is
    hash-gated."""
    import numpy as np
    import pandas as pd

    from invariantbitpacking_spark.operators import ibp

    toks = _tokens(spark, sf_dir)
    params = _params(spark, sf_dir)
    nparts = max(spark.sparkContext.defaultParallelism, 2)
    # Deterministic range buckets from a bounded hash-order sample —
    # what Spark's RangePartitioner does internally, made REPRODUCIBLE
    # so the totals pass and the scan pass agree on partition
    # membership without caching anything.  TakeOrderedAndProject by
    # xxhash64 IS a uniform fixed-size sample (each task keeps only its
    # local top-k), so ONE bounded driver action replaces the old
    # count() + sample() pair.
    ids = sorted(r[0] for r in toks.select("doc_id")
                 .orderBy(F.xxhash64("doc_id"))
                 .limit(nparts * 128).collect())
    step = max(len(ids) // nparts, 1)
    bounds = ids[step::step][:nparts - 1]
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col("doc_id") > F.lit(b)).cast("int")
    # Sizes WITHOUT encoding: the query consumes only comp_bytes, so
    # both the totals pass and the scan pass ride sizes_ibp's single
    # predicate pass (get_compress_size) instead of paying full payload
    # assembly twice (round-4 verdict item #1).
    sized = (ibp.sizes_ibp(toks, params).select("doc_id", "comp_bytes")
             .withColumn("pid", pid.cast("int")))
    totals = {r["pid"]: int(r["t"]) for r in
              sized.groupBy("pid").agg(F.sum("comp_bytes").alias("t"))
              .collect()}
    bases, acc = {}, 0
    for p in range(len(bounds) + 1):
        bases[p] = acc
        acc += totals.get(p, 0)

    def scan(batches):
        run: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cb = pdf["comp_bytes"].to_numpy(np.int64)
            pids = pdf["pid"].to_numpy()
            ends = np.empty(len(pdf), np.int64)
            grp = np.flatnonzero(np.r_[True, pids[1:] != pids[:-1]])
            for s, e in zip(grp.tolist(),
                            np.r_[grp[1:], len(pdf)].tolist()):
                p = int(pids[s])
                base = run.get(p, bases.get(p, 0))
                ends[s:e] = base + np.cumsum(cb[s:e])
                run[p] = int(ends[e - 1])
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "comp_bytes": pdf["comp_bytes"],
                                "end_offset": ends})

    # each pid lives in exactly one partition; rows sorted by doc_id
    # within it -> per-group local cumsum + broadcast base = global scan
    return (sized.repartition(nparts, "pid")
            .sortWithinPartitions("pid", "doc_id")
            .mapInPandas(
                scan, schema="doc_id string, comp_bytes long, "
                             "end_offset long"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat docs in doc_id order, chop
    into 512-token windows) — the repacking every LLM training
    pipeline runs between the corpus and the batch loader.  The global
    token offsets come from the two-phase range-partitioned scan (no
    global window, tokens never shuffled; the per-sequence aggregate
    exchanges only map-side partials), and the oracle replays the
    whole concatenation with a window cumsum + lateral unnest, so
    every sequence's count/sum/first/last is value-checked."""
    from invariantbitpacking_spark.functions.dataops import (
        pack_sequence_stats)

    return pack_sequence_stats(_tokens(spark, sf_dir), seq_len=512)


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val split — the reproducible
    holdout assignment a training pipeline needs (no RNG state, no
    engine dependence): both engines compute the same md5 hex, docs
    whose first hex char is 0 or 1 go to val (1/8 expected).  Returns
    per-(split, source) doc and token counts."""
    toks = _tokens(spark, sf_dir)
    split = (F.when(F.substring(F.md5("doc_id"), 1, 1).isin("0", "1"),
                    "val").otherwise("train"))
    return (toks.groupBy(split.alias("split"), "source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("n_tok").cast("long").alias("tokens")))


_SNAP_TAG = "v2"  # bump when the encoded on-disk layout changes


def q_gather_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-level point fetch through the DURABLE pipeline — the
    snapshot-backed twin of gather_decode (decompress_fetch with
    index_arr, reference src/decompress.cu:56-98).  Builds (once per
    sf_dir, resumable no-op afterwards) a committed snapshot in a
    deterministic temp dir, then ``CompressionPipeline.fetch(ids)``:
    driver-side ``xxhash64(doc_id) % nb`` bucket computation, pruned
    bucket-dir listing, broadcast semi-join on the FSST-encoded doc_id
    bytes, and decode of ONLY the hits.  The oracle recomputes the
    fetched documents' tokens straight from the text, so every value
    proves the store round-trip is bit-faithful."""
    import hashlib
    import os
    import tempfile

    from invariantbitpacking_spark.plans.pipeline import CompressionPipeline

    toks = _tokens(spark, sf_dir)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(),
                       f"ibp_snap_{_SNAP_TAG}_{key}")
    pipe = CompressionPipeline(spark, out, num_buckets=16, wave_buckets=16,
                               sample_fraction=None)
    pipe.run(toks, "snapQ")
    want = [r["doc_id"] for r in
            toks.select("doc_id")
            .filter(F.col("doc_id").endswith("42")).collect()]
    dec = pipe.fetch(want, "snapQ")
    return dec.select(
        "doc_id", "n_tok",
        F.element_at("tokens", 1).alias("tok_first"),
        F.element_at("tokens", -1).alias("tok_last"))


def q_time_travel_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME TRAVEL through the durable store: build a
    committed snapshot, then (once — a marker records the pre-mutation
    commit sequence) UPSERT every doc_id ending in '7' to the constant
    [1, 2, 3] and tombstone-DELETE every doc_id ending in '3'.  The
    query fetches all mutated ids AS OF the recorded sequence — the
    original token arrays must come back bit-identical, with upserts
    and tombstones invisible — and joins the CURRENT state (upserted
    rows read [1,2,3]; deleted rows are gone).  Every output cell is
    SQL-predictable: as-of values replay the tokenizer, current-state
    values follow from the mutation rule."""
    import hashlib
    import json
    import os
    import tempfile

    from invariantbitpacking_spark.plans.pipeline import CompressionPipeline

    toks = _tokens(spark, sf_dir)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(),
                       f"ibp_ttsnap_{_SNAP_TAG}_{key}")
    pipe = CompressionPipeline(spark, out, num_buckets=8, wave_buckets=8,
                               sample_fraction=None,
                               delta_compact_threshold=None)  # keep history
    pipe.run(toks, "snapTT")
    marker = os.path.join(out, "_tt_state.json")
    # deterministic 40-id caps (sorted doc_id) keep the driver-side
    # collect O(1) at any scale factor; the oracle applies the same
    # ORDER BY doc_id LIMIT 40 per mutation class
    up_ids = [r["doc_id"] for r in toks.select("doc_id")
              .filter(F.col("doc_id").endswith("7"))
              .sort("doc_id").limit(40).collect()]
    del_ids = [r["doc_id"] for r in toks.select("doc_id")
               .filter(F.col("doc_id").endswith("3"))
               .sort("doc_id").limit(40).collect()]
    if not os.path.exists(marker):
        seq0 = pipe._snapshot_max_seq("snapTT")
        delta = spark.createDataFrame(
            [(i, [1, 2, 3], 3, "mutated") for i in up_ids],
            "doc_id string, tokens array<int>, n_tok int, source string")
        pipe.append(delta, "snapTT")
        ids_df = spark.createDataFrame([(i,) for i in del_ids],
                                       "doc_id string")
        pipe.delete(ids_df, "snapTT")
        with open(marker, "w") as f:
            json.dump({"seq0": seq0}, f)
    with open(marker) as f:
        seq0 = json.load(f)["seq0"]
    want = sorted(up_ids + del_ids)
    asof = pipe.fetch(want, "snapTT", as_of_seq=seq0).select(
        "doc_id",
        F.col("n_tok").alias("n_tok_asof"),
        F.element_at("tokens", 1).alias("tok_first_asof"),
        F.element_at("tokens", -1).alias("tok_last_asof"))
    now = pipe.fetch(want, "snapTT").select(
        "doc_id", F.col("n_tok").alias("n_tok_now"))
    return (asof.join(now, "doc_id", "left")
            .select("doc_id", "n_tok_asof", "tok_first_asof",
                    "tok_last_asof",
                    F.when(F.col("n_tok_now").isNull(), F.lit(0))
                    .otherwise(F.lit(1)).alias("now_present"),
                    F.coalesce("n_tok_now", F.lit(-1)).alias("n_tok_now")))


def _tokens64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int64 view of the tokens table: each int32 token widened to
    ``(t << 20) + t`` so the high word is populated but keeps invariant
    structure — the Spark twin of the reference's int64 reinterpret
    views (DLRM embeddings features.view(torch.int64),
    tests/nvcomp_comparison.py:39; dtype dispatch src/preprocess.cu:56-72)."""
    t = _tokens(spark, sf_dir)
    toks64 = F.transform(
        "tokens", lambda x: x.cast("long") * F.lit(1048576) + x)
    return t.select("doc_id", toks64.alias("tokens"), "n_tok", "source")


def q_bitcount64_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_bit_kernel over 8-byte elements (the reference's ull
    template instantiation, src/preprocess.cu:56-72): 64 per-bit set
    counts of lineitem.l_orderkey as array<bigint> input."""
    from invariantbitpacking_spark.operators.ibp import bit_count_df

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    toks = li.select(F.array(F.col("l_orderkey").cast("long")).alias("tokens"))
    return bit_count_df(toks, vec_size=1)


def q_ibp64_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed IBP over 64-bit elements end-to-end: learn_params /
    encode_ibp / decode_ibp on an array<bigint> column (reference
    compress dtype dispatch 4/8 bytes, src/compress.cu:192).  Oracle
    asserts every document decodes bit-identical."""
    from invariantbitpacking_spark.operators import ibp

    toks = _tokens64(spark, sf_dir)
    params = ibp.learn_params(toks)
    assert params.item_bytes == 8
    dec = ibp.decode_ibp(ibp.encode_ibp(toks, params), params)
    joined = (
        toks.alias("a")
        .join(dec.alias("b"), "doc_id")
        .select(
            F.col("a.source").alias("source"),
            (F.col("a.tokens") == F.col("b.tokens")).cast("long").alias("ok"),
        )
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ok").alias("ok_docs"),
    )


def _tokens16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int16 view of the tokens table: vocab ids are < 32000 so the
    smallint cast is lossless — the uint16-vocab-ids case of the
    reference's element dispatch (src/preprocess.cu:25-26 instantiates
    int16; sensitivity harness sweeps it, tests/sens_threshold.py:31-34)."""
    t = _tokens(spark, sf_dir)
    return t.select(
        "doc_id",
        F.transform("tokens", lambda x: x.cast("smallint")).alias("tokens"),
        "n_tok", "source")


def q_bitcount16_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_bit_kernel over 2-byte elements (int16 template
    instantiation, src/preprocess.cu:25-26): 16 per-bit set counts of a
    smallint view of lineitem.l_suppkey (mod 2^14 keeps the view
    lossless at any scale factor)."""
    from invariantbitpacking_spark.operators.ibp import bit_count_df

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    toks = li.select(F.array(
        (F.col("l_suppkey") % 16384).cast("smallint")).alias("tokens"))
    return bit_count_df(toks, vec_size=1)


def q_ibp16_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed IBP over 2-byte elements end-to-end: learn_params /
    encode_ibp / decode_ibp on an array<smallint> column (reference
    preprocess dtype dispatch int8/int16/int32/ull,
    src/preprocess.cu:25-26, 56-72).  Oracle asserts every document
    decodes bit-identical."""
    from invariantbitpacking_spark.operators import ibp

    toks = _tokens16(spark, sf_dir)
    params = ibp.learn_params(toks)
    assert params.item_bytes == 2
    dec = ibp.decode_ibp(ibp.encode_ibp(toks, params), params)
    joined = (
        toks.alias("a")
        .join(dec.alias("b"), "doc_id")
        .select(
            F.col("a.source").alias("source"),
            (F.col("a.tokens") == F.col("b.tokens")).cast("long").alias("ok"),
        )
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ok").alias("ok_docs"),
    )


def q_ibp8_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed IBP over 1-byte elements (int8 instantiation,
    src/preprocess.cu:25-26 — the byte-quantized-embeddings case):
    tokens folded into 0..127 as array<tinyint>, learn / encode /
    decode, every document bit-identical."""
    from invariantbitpacking_spark.operators import ibp

    t = _tokens(spark, sf_dir)
    toks = t.select(
        "doc_id",
        F.transform("tokens", lambda x: (x % 128).cast("tinyint"))
        .alias("tokens"),
        "n_tok", "source")
    params = ibp.learn_params(toks)
    assert params.item_bytes == 1
    dec = ibp.decode_ibp(ibp.encode_ibp(toks, params), params)
    joined = (
        toks.alias("a")
        .join(dec.alias("b"), "doc_id")
        .select(
            F.col("a.source").alias("source"),
            (F.col("a.tokens") == F.col("b.tokens")).cast("long").alias("ok"),
        )
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ok").alias("ok_docs"),
    )


def _ftokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """float32 view of the tokens table: each vocab id cast to FLOAT
    (exactly representable — ids < 32000 < 2^24), giving a float
    feature column whose IEEE bit patterns are derivable in BOTH
    engines — Spark encodes the actual bits, DuckDB reconstructs them
    arithmetically — so the ENTIRE learn/size replay applies to the
    float path.  Reference analog: float tensors viewed as int words
    (tests/compress_test.py:30-33 float64 bit-views,
    tests/nvcomp_comparison.py:39)."""
    t = _tokens(spark, sf_dir)
    return t.select(
        "doc_id",
        F.transform("tokens", lambda x: x.cast("float")).alias("tokens"),
        "n_tok", "source")


_FPARAMS_CACHE: dict = {}


def _fparams(spark: SparkSession, sf_dir: str):
    from invariantbitpacking_spark.operators import ibp

    if sf_dir not in _FPARAMS_CACHE:
        _FPARAMS_CACHE[sf_dir] = ibp.learn_params(_ftokens(spark, sf_dir))
    return _FPARAMS_CACHE[sf_dir]


def q_float32_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IBP over an array<float> column end-to-end (learn on the IEEE
    bit patterns, encode, decode back to float) — the reference's
    actual DLRM/KV-cache workload shape.  The oracle replays the WHOLE
    θ sweep + mask + size formula over arithmetically reconstructed
    bit patterns, so comp_bytes is value-checked too, and ok_docs ==
    docs asserts every document decodes bit-identical."""
    from invariantbitpacking_spark.operators import ibp

    ftoks = _ftokens(spark, sf_dir)
    params = _fparams(spark, sf_dir)
    assert params.value_kind == "float32"
    enc = ibp.encode_ibp(ftoks, params)
    dec = ibp.decode_ibp(enc, params)
    ok = (ftoks.alias("a").join(dec.alias("b"), "doc_id")
          .select(F.col("a.source").alias("source"),
                  (F.col("a.tokens") == F.col("b.tokens"))
                  .cast("long").alias("ok"))
          .groupBy("source").agg(F.sum("ok").alias("ok_docs")))
    per = enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("comp_bytes").alias("comp_bytes"))
    return (per.join(ok, "source")
            .select("source", "docs", "ok_docs", "raw_bytes", "comp_bytes")
            .orderBy("source"))


def q_float64_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<double> through the pure-IBP 64-bit path (the reference's
    float64 bit-view tests, tests/compress_test.py:30-33): tokens cast
    to double, encoded via the int64 bit view, decoded back to double
    bit-identically.  Count-style oracle like the int64 twin (the
    64-bit size replay would need HUGEINT arithmetic; the float32 pair
    carries the full-replay burden for the float path)."""
    from invariantbitpacking_spark.operators import ibp

    t = _tokens(spark, sf_dir)
    ft = t.select(
        "doc_id",
        F.transform("tokens", lambda x: x.cast("double")).alias("tokens"),
        "n_tok", "source")
    params = ibp.learn_params(ft)
    assert params.value_kind == "float64" and params.item_bytes == 8
    dec = ibp.decode_ibp(ibp.encode_ibp(ft, params), params)
    joined = (ft.alias("a").join(dec.alias("b"), "doc_id")
              .select(F.col("a.source").alias("source"),
                      (F.col("a.tokens") == F.col("b.tokens"))
                      .cast("long").alias("ok")))
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ok").alias("ok_docs"))


def q_embedding_ibp_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN suite's real embedding column (array<float>, dim 64)
    through the IBP path: learn on the embeddings' bit patterns with
    vec_size=64 (one full block per vector — the DLRM embedding-table
    shape), encode, decode, account per label.  The oracle
    reconstructs every float's exact IEEE-754 bit pattern IN SQL
    (sign/exponent/mantissa arithmetic, subnormals included) and
    replays learn + sizes on them — comp_bytes and the bit-identical
    round trip are both value-checked against real float data."""
    from invariantbitpacking_spark.operators import ibp

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.select(
        F.col("vec_id").cast("string").alias("doc_id"),
        F.col("embedding").alias("tokens"),
        F.size("embedding").alias("n_tok"),
        F.col("label").cast("string").alias("source"))
    params = ibp.learn_params(df, vec_size=64)
    assert params.value_kind == "float32"
    enc = ibp.encode_ibp(df, params)
    dec = ibp.decode_ibp(enc, params)
    ok = (df.alias("a").join(dec.alias("b"), "doc_id")
          .select(F.col("a.source").alias("source"),
                  (F.col("a.tokens") == F.col("b.tokens"))
                  .cast("long").alias("ok"))
          .groupBy("source").agg(F.sum("ok").alias("ok_docs")))
    per = enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("comp_bytes").alias("comp_bytes"))
    return (per.join(ok, "source")
            .select("source", "docs", "ok_docs", "raw_bytes", "comp_bytes")
            .orderBy("source"))


def q_kmeans_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered-mask round-trip — the reference's second preprocessing
    mode (preprocess_kmeans, src/preprocess.cu:88-139; Hamming assign
    ibp_preproc_kmeans.cuh:106-150; majority centroids :219-236;
    per-cluster masks :238-297): learn_kmeans -> encode_ibp_kmeans ->
    decode_ibp_kmeans.  Oracle asserts ok_docs == docs per source, i.e.
    bit-identical token arrays through the clustered codec."""
    from invariantbitpacking_spark.operators import kmeans

    toks = _tokens(spark, sf_dir)
    kp = _kparams(spark, sf_dir)
    dec = kmeans.decode_ibp_kmeans(kmeans.encode_ibp_kmeans(toks, kp), kp)
    joined = (
        toks.alias("a")
        .join(dec.alias("b"), "doc_id")
        .select(
            F.col("a.source").alias("source"),
            (F.col("a.tokens") == F.col("b.tokens")).cast("long").alias("ok"),
        )
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ok").alias("ok_docs"),
    )


def q_kmeans_vs_global_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered vs single-global-mask compressed bytes per source at
    the same vec_size (the reference's kmeans-vs-plain comparison,
    tests/kmeans_test.py:43-74).  Full oracle: the DuckDB side replays
    BOTH parameter learnings end to end — the global θ sweep
    (_ibp_replay_cte) and the entire clustering (_kmeans_replay_cte:
    md5-seeded init, 10 Lloyd iterations, per-cluster masks, tail
    assignment) — so every byte in both totals is recomputed in SQL."""
    from invariantbitpacking_spark.operators import ibp, kmeans

    toks = _tokens(spark, sf_dir)
    kp = _kparams(spark, sf_dir)
    gp = ibp.learn_params(toks, vec_size=kp.vec_size)
    km = (kmeans.encode_ibp_kmeans(toks, kp).groupBy("source")
          .agg(F.count(F.lit(1)).alias("docs"),
               F.sum("raw_bytes").alias("raw_bytes"),
               F.sum("comp_bytes").alias("kmeans_bytes")))
    gl = (ibp.encode_ibp(toks, gp).groupBy("source")
          .agg(F.sum("comp_bytes").alias("global_bytes")))
    return km.join(gl, "source").orderBy("source")


def q_kmeans_vs_global_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant companion of kmeans_vs_global_ratio (which now has its
    own full replay oracle), hash-gated:
    per-source doc counts and raw bytes are DuckDB-exact, and the
    per-block never-expand clamp (comp_size = min(..., vec_bytes),
    reference ibp_misc_dev.cuh:86-87) makes ``no_expand_docs == docs``
    an oracle-checkable invariant of BOTH encoders' emitted bytes; the
    absolute byte totals are fully replayed by the ratio twin's own
    oracle."""
    from invariantbitpacking_spark.operators import ibp, kmeans

    toks = _tokens(spark, sf_dir)
    kp = _kparams(spark, sf_dir)
    gp = ibp.learn_params(toks, vec_size=kp.vec_size)
    km = (kmeans.encode_ibp_kmeans(toks, kp)
          .select("doc_id", "source", "raw_bytes",
                  F.col("comp_bytes").alias("kb")))
    gl = (ibp.encode_ibp(toks, gp)
          .select("doc_id", F.col("comp_bytes").alias("gb")))
    j = km.join(gl, "doc_id")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("raw_bytes").alias("raw_bytes"),
                 F.sum(((F.col("kb") <= F.col("raw_bytes"))
                        & (F.col("gb") <= F.col("raw_bytes")))
                       .cast("long")).alias("no_expand_docs")))


def q_codec_docs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant companion of codec_sizes_by_source (which now has a
    full replay oracle), hash-gated: which (source, codec) cells the
    selector's size predictor emits and how many docs land in each.
    Every codec covers every doc except DICT, whose u16 cardinality
    limit drops docs with > 65535 distinct tokens — both facts the
    oracle recomputes exactly."""
    from invariantbitpacking_spark.operators.selector import (
        predicted_sizes_by_source)

    toks = _tokens(spark, sf_dir)
    return (predicted_sizes_by_source(toks, _params(spark, sf_dir))
            .select("source", "codec", "docs"))


def q_lineitem_colstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selector input statistics: min/max/NDV/count per column."""
    from invariantbitpacking_spark.functions.stats import column_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return column_stats(li, ["l_partkey", "l_suppkey", "l_orderkey"])


def q_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational breadth (SURVEY §2.6 joins/aggregations row): the
    classic fact-dim star join — orders x customer shuffle-hash join on
    custkey, nation BROADCAST (tiny dim never shuffles the fact side),
    partial+final aggregation per nation.  The sum runs in decimal so
    it is order-independent and exact; the FINAL decimal converts to
    double once, giving a representation-stable value both engines
    canonicalize identically (double summation would be
    order-dependent; raw decimals hash differently across engines)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = (orders.join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(nation),
               cust.c_nationkey == nation.n_nationkey))
    return (j.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("decimal(18,2)").cast("double")
                 .alias("total_price")))


def q_event_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event statistics (batch twin of the watermarked
    streaming aggregation in streaming/windowed_stats.py — Spark gives
    both the same logical plan)."""
    from invariantbitpacking_spark.streaming.windowed_stats import (
        windowed_stats_batch)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_stats_batch(ev, "1 hour")


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: top-20 token ids by frequency — the classic
    explode + partial/final count shuffle every corpus pipeline runs.
    orderBy().limit() compiles to TakeOrderedAndProject (map-side
    top-k, each task keeps 20 rows); ranks are assigned afterwards on
    the 20 surviving rows, so no global window ever sees the full
    vocabulary."""
    from pyspark.sql import Window

    t = _tokens(spark, sf_dir)
    counts = (t.select(F.explode("tokens").alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(20)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))  # 20 rows only
    return (top.withColumn("rank", F.row_number().over(w))
            .select(F.col("rank").cast("int").alias("rank"), "tok", "cnt"))


def q_codec_sizes_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted bytes of EVERY codec per source (Table-4 analog:
    IBP invariance savings vs bitpack baselines, reference
    tests/invariance_perc.py:27-76).  FULL oracle: all six codecs'
    per-source byte totals are recomputed closed-form in DuckDB
    (_ibp_replay_cte + _LW_CTE) and hash-gated."""
    from invariantbitpacking_spark.operators.selector import (
        predicted_sizes_by_source)

    toks = _tokens(spark, sf_dir)
    return predicted_sizes_by_source(toks, _params(spark, sf_dir))


def q_bitwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-width histogram selector statistic (north-rule input):
    per-source distribution of per-document FOR widths."""
    from invariantbitpacking_spark.functions.stats import bitwidth_histogram

    return bitwidth_histogram(_tokens(spark, sf_dir))


def q_token_stats_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-selector statistics per source partition (cardinality, value
    range, run count) computed with array functions, no explode."""
    from invariantbitpacking_spark.functions.stats import token_stats_per_source

    return token_stats_per_source(_tokens(spark, sf_dir))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from invariantbitpacking_spark.functions.dataops import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-trigram Jaccard near-dup pairs (>=0.7) via prefix
    filtering; the oracle brute-forces the full inverted-index join in
    DuckDB, so any prefix-filter recall loss (there must be none) or
    false positive would hash-mismatch."""
    from invariantbitpacking_spark.functions.dataops import ngram_jaccard_pairs

    p = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.7)
    return p.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the 'eval set' is the corpus's first
    5 documents by doc_id string order (deterministic, replayed by the
    oracle), word trigrams (the corpus's docs are ~50 words, so the
    published n=13 would only self-match).  Every doc gets a matched-
    gram count and a 0/1 flag — 178/500 contaminated at sf0.01, so
    both branches of the flag are value-hash gated."""
    from invariantbitpacking_spark.functions.dataops import decontaminate

    docs = _docs(spark, sf_dir)
    bench = (docs.select(F.col("doc_id").cast("string").alias("d"), "text")
             .sort("d").limit(5).select("text"))
    return decontaminate(docs, bench, n=3)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-jaccard verification; the
    oracle recomputes the full >=0.5 pair set via an inverted shingle
    index in DuckDB — at 8 bands x 2 rows the miss probability for the
    corpus's j>=0.9 pairs is ~(1-0.81)^8, so LSH output == ground
    truth deterministically (xxhash64 is seed-stable)."""
    from invariantbitpacking_spark.functions.dataops import minhash_lsh_pairs

    p = minhash_lsh_pairs(_docs(spark, sf_dir))
    return p.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit word-level SimHash fingerprints.  Full oracle: DuckDB
    replays the exact FNV-1a chain — ``h = (h ^ byte) * prime mod
    2^64`` per UTF-8 byte — with a recursive CTE over hex-decoded byte
    positions and HUGEINT modular multiplication, then the per-bit
    majority vote (see ``_simhash_replay_sql``)."""
    from invariantbitpacking_spark.functions.dataops import simhash64

    return simhash64(_docs(spark, sf_dir))


def q_simhash_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant companion of ``simhash`` (which now has a full
    FNV-replay oracle): the SAME mapInArrow pass additionally emits
    per-doc word and distinct-word counts — exactly the quantities the
    majority vote and factorize stages consume — which DuckDB
    recomputes independently."""
    from invariantbitpacking_spark.functions.dataops import simhash64

    return (simhash64(_docs(spark, sf_dir), with_counts=True)
            .select("doc_id", "n_words", "n_uniq"))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from invariantbitpacking_spark.functions.dataops import ann_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_cosine_topk(emb, num_queries=8, k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-linear hyperplane-LSH ANN.  Full oracle: the hyperplanes are
    SEEDED float literals embedded in both plans (numpy default_rng(42)
    — deterministic across processes), so DuckDB replays bucketing,
    the bucket-size cap, candidate union, exact cosine re-rank and
    top-k exactly (``_ann_lsh_replay_sql``).  The two engines fold dot
    products in different association orders (last-ulp differences);
    sign tests and 6-decimal rounding absorb that, verified stable at
    both sf dirs on the deterministic corpus."""
    from invariantbitpacking_spark.functions.dataops import ann_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_lsh_topk(emb, num_queries=8, k=5)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (spherical-k-means inverted lists + probe + exact
    re-rank) run at full probe (nprobe == nlist), where it provably
    equals brute-force top-k — so the whole IVF machinery (quantizer,
    assignment, probe expansion, in-list re-rank) is oracle-checked
    against DuckDB; the sub-linear nprobe<nlist behavior is
    recall-pinned in pytest."""
    from invariantbitpacking_spark.functions.dataops import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_ivf_topk(emb, num_queries=8, k=5, nlist=8, nprobe=8)


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH candidates + exact cosine
    verify).  The oracle computes the full >=0.9 pair set by brute
    force in DuckDB; the corpus has none (max pairwise cosine ~0.51),
    so an exact match proves the operator emits no false positives —
    recall on planted duplicates is pytest-verified."""
    from invariantbitpacking_spark.functions.dataops import embedding_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = embedding_dup_pairs(emb, threshold=0.9)
    return p.select("vec_a", "vec_b", F.round("sim", 6).alias("sim"))


def q_embedding_dup_pairs_lowt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-trivial twin of embedding_dup_pairs: threshold 0.45 sits
    INSIDE the corpus's similarity range (max pairwise cosine ~0.51),
    so the brute-force DuckDB oracle checks a non-empty exact pair set
    — this green row proves recall AND precision on real data, not
    just no-false-positives.  planes=2 x 12 tables pushes the per-pair
    all-tables-miss probability at cosine 0.45 to ~1.4e-3; with the
    seed-stable hyperplanes the outcome is deterministic and verified
    equal to brute force at both sf dirs."""
    from invariantbitpacking_spark.functions.dataops import embedding_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = embedding_dup_pairs(emb, threshold=0.45, planes=2, num_tables=12)
    return p.select("vec_a", "vec_b", F.round("sim", 6).alias("sim"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from invariantbitpacking_spark.functions.dataops import text_quality

    return text_quality(_docs(spark, sf_dir))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from invariantbitpacking_spark.functions.dataops import token_counts

    return token_counts(_docs(spark, sf_dir))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (duplicate-word fraction, top
    word-bigram share, duplicated-bigram share) over the documents
    table — see dataops.repetition_stats for the scale argument."""
    from invariantbitpacking_spark.functions.dataops import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from invariantbitpacking_spark.functions.dataops import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def q_fsst_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FSST string codec over document text with ONE global symbol
    table: learned once on a driver-side sample, closure-broadcast to
    every encoder batch (the storable-codec shape the pipeline persists
    alongside lineage).  Per-source doc count and lossless-round-trip
    count (oracle: both equal COUNT(*))."""
    import pandas as pd

    from invariantbitpacking_spark.functions import strings as fstr

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text")
    table = fstr.learn_table_df(docs, ("text",), sample_rows=256)

    def rt(batches):
        import numpy as np

        from invariantbitpacking_spark.codecs import fsst

        for pdf in batches:
            texts = pdf["text"].fillna("").tolist()
            flat, lens = fsst.strings_to_flat(texts)
            enc, enc_lens = fsst.encode_strings(flat, lens, table)
            dec, dec_lens = fsst.decode_strings(enc, enc_lens, table)
            ok = np.array(fsst.flat_to_strings(dec, dec_lens)) == np.array(texts)
            yield pd.DataFrame({"source": pdf["source"],
                                "ok": ok.astype("int64")})

    res = docs.mapInPandas(rt, schema="source string, ok long")
    return res.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("ok").alias("ok_docs"))


def q_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal asset plumbing over driver data: each document's text
    bytes are wrapped JVM-side into the deterministic FAKE container
    (the sandbox's media-decode stub format), then
    ``decode_and_featurize`` parses headers and extracts byte-histogram
    features in one Arrow pass.  The oracle recomputes body length and
    the first four histogram buckets from the same bytes in SQL (text
    is pure ASCII, so chars == bytes), verifying the decode+featurize
    math end to end."""
    from invariantbitpacking_spark.functions import multimodal as mm

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("asset_id"), "text")
    # FAKE image container, w=1 h=1 frames=1 (header bytes 5:11 <HHH LE)
    payload = F.concat(F.lit(b"FAKE\x00"),
                       F.lit(b"\x01\x00\x01\x00\x01\x00"),
                       F.encode("text", "utf-8"))
    assets = docs.select("asset_id", F.lit("image").alias("kind"),
                         payload.alias("payload"))
    feats = mm.decode_and_featurize(assets, feat_dim=16)
    # histogram counts recovered exactly from the normalized float32
    # features (n/size * size rounds back to the integer count)
    h = [F.round(F.element_at("features", i + 1) * F.col("body_bytes"))
         .cast("long").alias(f"hist{i}") for i in range(4)]
    return feats.select(F.col("asset_id").alias("doc_id"),
                        "decoded_w", "body_bytes", *h)


def q_multimodal_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container round-trip (no media libraries): each document's
    tokens become a 24-bit uncompressed BMP (16-wide grayscale triples,
    padded rows, bottom-up order — the full format) and a PCM-16 WAV,
    both BUILT as real files and PARSED BACK by the pure-numpy
    parsers (multimodal.make_bmp24/make_wav_pcm16 ->
    parse_container/decode_image/decode_audio).  The emitted stats come
    from the PARSED pixels/samples, so the oracle — which recomputes
    them straight from the token lists — fails if any header walk,
    stride, row order, or sample decode is wrong."""
    import numpy as np
    import pandas as pd

    from invariantbitpacking_spark.functions import multimodal as mm

    toks = _tokens(spark, sf_dir)

    def rt(batches):
        for pdf in batches:
            out = {"doc_id": [], "img_w": [], "img_h": [], "px_sum": [],
                   "n_samples": [], "samp_sum": [], "sample_rate": []}
            for doc_id, arr in zip(pdf["doc_id"], pdf["tokens"]):
                t = np.asarray(arr, np.int64)
                h = t.size // 16
                g = (t[:16 * h] % 256).astype(np.uint8)
                px = np.repeat(g, 3).reshape(h, 16, 3)  # gray triples
                bmp = mm.make_bmp24(16, h, px)
                img, meta = mm.decode_image(bmp)
                samples = ((t % 65536) - 32768).astype(np.int16)
                wav = mm.make_wav_pcm16(16000, samples)
                dec, sr = mm.decode_audio(wav)
                out["doc_id"].append(doc_id)
                out["img_w"].append(meta["w"])
                out["img_h"].append(meta["h"])
                out["px_sum"].append(int(img[:, :, 0].sum())
                                     if img.size else 0)
                out["n_samples"].append(int(dec.size))
                out["samp_sum"].append(int(dec.astype(np.int64).sum()))
                out["sample_rate"].append(int(sr))
            yield pd.DataFrame(out)

    return toks.select("doc_id", "tokens").mapInPandas(
        rt, schema="doc_id string, img_w int, img_h int, px_sum long, "
                   "n_samples int, samp_sum long, sample_rate int")


def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG round-trip (stdlib zlib, no media libraries): each
    document's tokens become an RGB image (16 wide, channels r=t%256,
    g=t*7%256, b=t*13%256) encoded as an actual PNG with the filter
    types CYCLING 0..4 per scanline (so None/Sub/Up/Average/Paeth all
    sit in every file taller than 4 rows), then parsed back by the
    pure-numpy chunk walk + inflate + per-scanline un-filtering
    (multimodal.make_png -> _decode_png).  The emitted per-channel
    pixel sums come from the DECODED raster, so the oracle — which
    recomputes them straight from the token lists — fails if any
    chunk parse, filter reconstruction, or channel layout is wrong."""
    import numpy as np
    import pandas as pd

    from invariantbitpacking_spark.functions import multimodal as mm

    toks = _tokens(spark, sf_dir).filter(F.col("n_tok") >= 16)

    def rt(batches):
        for pdf in batches:
            out = {"doc_id": [], "img_w": [], "img_h": [],
                   "r_sum": [], "g_sum": [], "b_sum": []}
            for doc_id, arr in zip(pdf["doc_id"], pdf["tokens"]):
                t = np.asarray(arr, np.int64)
                h = min(t.size // 16, 40)
                u = t[:16 * h]
                px = np.stack([u % 256, u * 7 % 256, u * 13 % 256],
                              axis=1).astype(np.uint8).reshape(h, 16, 3)
                png = mm.make_png(16, h, px)  # filters cycle 0..4
                img, meta = mm.decode_image(png)
                out["doc_id"].append(doc_id)
                out["img_w"].append(meta["w"])
                out["img_h"].append(meta["h"])
                out["r_sum"].append(int(img[:, :, 0].sum()))
                out["g_sum"].append(int(img[:, :, 1].sum()))
                out["b_sum"].append(int(img[:, :, 2].sum()))
            yield pd.DataFrame(out)

    return toks.select("doc_id", "tokens").mapInPandas(
        rt, schema="doc_id string, img_w int, img_h int, "
                   "r_sum long, g_sum long, b_sum long")


def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG round-trip (pure numpy + stdlib, no media
    libraries): each document's first min(n_tok, 24) tokens become
    constant 8x8 grayscale blocks (value t % 256) stacked into an 8
    px-wide image, encoded as an actual JFIF baseline-sequential JPEG
    (DCT + quantization + DC-predicted run-length Huffman with byte
    stuffing) at quality 0, then decoded back by the marker walk +
    Huffman entropy decode + dequant + vectorized IDCT
    (multimodal.make_jpeg -> _decode_jpeg).  At quality 0 the quant
    table is all ones and constant blocks carry integer DC energy
    only, so the decode is EXACT — the emitted per-document pixel
    sum/min/max come from the DECODED raster and the oracle recomputes
    them straight from the token lists; any entropy, zigzag, dequant,
    or IDCT defect breaks the hash."""
    import numpy as np
    import pandas as pd

    from invariantbitpacking_spark.functions import multimodal as mm

    toks = _tokens(spark, sf_dir).filter(F.col("n_tok") >= 1)

    def rt(batches):
        for pdf in batches:
            out = {"doc_id": [], "img_w": [], "img_h": [],
                   "px_sum": [], "px_min": [], "px_max": [],
                   "px_sum_prog": []}
            for doc_id, arr in zip(pdf["doc_id"], pdf["tokens"]):
                t = np.asarray(arr, np.int64)[:24]
                vals = (t % 256).astype(np.uint8)
                px = np.repeat(vals, 64).reshape(-1, 8, 8).reshape(-1, 8)
                jpg = mm.make_jpeg(8, 8 * vals.size, px, quality=0)
                img, meta = mm.decode_image(jpg)
                # the same raster as a PROGRESSIVE (SOF2, successive
                # approximation) file with restart intervals: the scan
                # pairs restore every coefficient bit, so its decoded
                # sum must replay from the tokens identically
                jpg2 = mm.make_jpeg(8, 8 * vals.size, px, quality=0,
                                    progressive=True, restart_interval=3)
                img2, _ = mm.decode_image(jpg2)
                out["doc_id"].append(doc_id)
                out["img_w"].append(meta["w"])
                out["img_h"].append(meta["h"])
                out["px_sum"].append(int(img.astype(np.int64).sum()))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
                out["px_sum_prog"].append(int(img2.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return toks.select("doc_id", "tokens").mapInPandas(
        rt, schema="doc_id string, img_w int, img_h int, "
                   "px_sum long, px_min int, px_max int, "
                   "px_sum_prog long")


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over driver data: each document's text
    bytes become the body of a FAKE video container (w=4, h=2, up to 9
    frames of 8 bytes each), and ``sample_video_frames(every=2)``
    extracts every other frame as binary.  The oracle recomputes the
    kept frame indices and the exact frame bytes with substr over the
    same ASCII text — verifying the header parse, the kept-frame
    offset arithmetic, and the byte gather end to end."""
    from invariantbitpacking_spark.functions import multimodal as mm

    docs = (_docs(spark, sf_dir)
            .select(F.col("doc_id").cast("string").alias("asset_id"), "text")
            .filter(F.length("text") >= 16))
    fr = F.least(F.floor(F.length("text") / 8), F.lit(9)).cast("int")
    # FAKE video header: kind=2, w=4, h=2 (<HH LE), frames=<H LE with
    # fr <= 9 so both header bytes stay ASCII-safe (lo=fr, hi=0)
    payload = F.concat(
        F.lit(b"FAKE\x02\x04\x00\x02\x00"),
        F.encode(F.chr(fr), "utf-8"), F.lit(b"\x00"),
        F.encode(F.expr(
            "substring(text, 1, 8 * least(floor(length(text)/8), 9))"),
            "utf-8"))
    assets = docs.select("asset_id", payload.alias("payload"))
    frames = mm.sample_video_frames(assets, every=2)
    return frames.select(F.col("asset_id").alias("doc_id"),
                         "frame_idx",
                         F.decode("frame", "utf-8").alias("frame_str"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from invariantbitpacking_spark.functions.dataops import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (dataops.pii_scrub) exercised end-to-end: the
    synthetic corpus carries no natural PII, so the query first
    injects a deterministic email + IPv4 + phone per document
    (derived from doc_id, replayed verbatim by the oracle), then
    scrubs.  Every count is >= 1 and the scrubbed text is value-hash
    compared, so both the matching and the replacement are gated."""
    from invariantbitpacking_spark.functions.dataops import pii_scrub

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@mail.example.com"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    return pii_scrub(docs.withColumn("text", injected))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "multimodal_featurize": q_multimodal_featurize,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_real": q_multimodal_real,
        "multimodal_png": q_multimodal_png,
        "multimodal_jpeg": q_multimodal_jpeg,
        "fsst_roundtrip": q_fsst_roundtrip,
        "tokenize_documents": q_tokenize_documents,
        "bitcount_partkey": q_bitcount_partkey,
        "ibp_roundtrip_by_source": q_ibp_roundtrip_by_source,
        "auto_roundtrip_by_source": q_auto_roundtrip_by_source,
        "codec_mix": q_codec_mix,
        "ibp_ratio_by_source": q_ibp_ratio_by_source,
        "codec_choice_by_source": q_codec_choice_by_source,
        "gather_decode": q_gather_decode,
        "gather_encode": q_gather_encode,
        "condensed_offsets": q_condensed_offsets,
        "gather_snapshot": q_gather_snapshot,
        "time_travel_fetch": q_time_travel_fetch,
        "pack_sequences": q_pack_sequences,
        "train_val_split": q_train_val_split,
        "kmeans_roundtrip_by_source": q_kmeans_roundtrip_by_source,
        "kmeans_vs_global_ratio": q_kmeans_vs_global_ratio,
        "codec_docs_by_source": q_codec_docs_by_source,
        "bitcount64_orderkey": q_bitcount64_orderkey,
        "bitcount16_suppkey": q_bitcount16_suppkey,
        "embedding_ibp_ratio": q_embedding_ibp_ratio,
        "lineitem_colstats": q_lineitem_colstats,
        "token_stats_per_source": q_token_stats_per_source,
        "bitwidth_histogram": q_bitwidth_histogram,
        "codec_sizes_by_source": q_codec_sizes_by_source,
        "token_topk": q_token_topk,
        "orders_by_nation": q_orders_by_nation,
        "event_window_stats": q_event_window_stats,
        "dedup_exact": q_dedup_exact,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "decontaminate": q_decontaminate,
        "simhash": q_simhash,
        "simhash_shape": q_simhash_shape,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "embedding_dup_pairs_lowt": q_embedding_dup_pairs_lowt,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "repetition_stats": q_repetition_stats,
        "doc_fingerprint": q_doc_fingerprint,
        "lang_id": q_lang_id,
        "pii_scrub": q_pii_scrub,
        "ibp64_roundtrip_by_source": q_ibp64_roundtrip_by_source,
        "ibp16_roundtrip_by_source": q_ibp16_roundtrip_by_source,
        "ibp8_roundtrip_by_source": q_ibp8_roundtrip_by_source,
        "float32_roundtrip_by_source": q_float32_roundtrip_by_source,
        "float64_roundtrip_by_source": q_float64_roundtrip_by_source,
        "kmeans_vs_global_shape": q_kmeans_vs_global_shape,
    }


# Self-check handle for the driver's oracle sweep: the round-6 sweep
# silently recorded 50/51 queries (fsst_roundtrip dropped).  The pytest
# in tests/test_driver_sweep.py asserts the latest CORRECTNESS_r*.json
# covers every key in queries(); external harnesses can assert
# len(results) == EXPECTED_QUERY_COUNT the same way.
EXPECTED_QUERY_COUNT = len(queries())


_TOK = (
    "list_transform(string_split(text, ' '), "
    "w -> ((ascii(w[1:1]) * 521 + ascii(w[2:2]) * 31 + length(w)) % 32000))"
)


def _grid_f32():
    """The reference's float32-accumulated threshold grid
    (ibp_preproc_host.cuh:67), replicated exactly (numpy_ref.
    sweep_thresholds) so the SQL replay sweeps the identical θ values."""
    import numpy as np

    out = []
    t = np.float32(0.7)
    while np.float64(t) <= 1.0:
        out.append(t)
        t = np.float32(t + np.float32(0.05))
    return out


def _f32_pat_small_int(inner: str = _TOK) -> str:
    """SQL list expression: the exact float32 bit pattern of
    CAST(t AS FLOAT) for non-negative integers t < 2^24 (our vocab ids
    are < 32000).  For t > 0, with e = floor(log2 t) (= binary length
    minus 1, computed exactly via format '{:b}'):
    pattern = (127+e) << 23 | (t << (23-e)) - 2^23 — all-integer
    arithmetic, validated bit-exact against numpy over the full vocab
    plus 2^23 boundary cases."""
    return ("list_transform(" + inner + ", t -> CASE WHEN t = 0 THEN 0 "
            "ELSE (127 + (length(format('{:b}', t)) - 1)) * 8388608 "
            "+ t * CAST(power(2, 23 - (length(format('{:b}', t)) - 1)) "
            "AS BIGINT) - 8388608 END)")


def _f32_pat_general(list_col: str = "embedding") -> str:
    """SQL list expression reconstructing the EXACT IEEE-754 bit
    pattern of arbitrary finite float32 values (sign bit, biased
    exponent, mantissa; subnormals and -0.0 handled).  The candidate
    exponent floor(log2 |f|) is corrected by exact power-of-two
    comparisons (log2's last-ulp error can misplace boundary
    mantissas), then |f| / 2^e * 2^23 is an exactly representable
    integer.  Validated bit-exact against numpy across normals,
    boundary mantissas, subnormals, and signed zeros."""
    a = "abs(CAST(f AS DOUBLE))"
    e0 = f"CAST(floor(log2({a})) AS BIGINT)"
    e = (f"({e0} + CASE WHEN {a} >= power(2, {e0} + 1) THEN 1 "
         f"WHEN {a} < power(2, {e0}) THEN -1 ELSE 0 END)")
    return (f"list_transform({list_col}, f -> "
            "CASE WHEN f = 0 THEN CASE WHEN signbit(f) THEN 2147483648 "
            "ELSE 0 END "
            "ELSE (CASE WHEN signbit(f) THEN 2147483648 ELSE 0 END) + "
            f"CASE WHEN {a} < power(2, -126) "
            f"THEN CAST(round({a} * power(2, 149)) AS BIGINT) "
            f"ELSE (127 + {e}) * 8388608 "
            f"+ CAST(round({a} / power(2, {e}) * 8388608) AS BIGINT) "
            "- 8388608 END END)")


def _ibp_replay_cte(tok_expr: str = _TOK, v: int = 128,
                    table: str = "documents") -> str:
    """CTE chain that replays the ENTIRE closed-form IBP parameter
    learning and size computation in pure SQL, ending in
    ``docsz(doc_id, source, n, ibp_bytes)``:

    - ragged 128-token framing (full blocks + prefix tails);
    - per-(column, bit) set counts with per-column block coverage
      (count_bit_kernel, ibp_preproc_kernels.cuh:8-31);
    - create_mask's mixed float32/float64 strict thresholds over the
      exact float32 sweep grid (ibp_preproc_kernels.cuh:34-51,
      numpy_ref.create_mask);
    - check_feats' header-gated savings and the strict-argmax /
      earlier-tie threshold selection (ibp_preproc_kernels.cuh:54-77,
      ibp_preproc_host.cuh:92-95);
    - the §1.4 per-block size formula with both alignments and the
      never-expand clamp (ibp_misc_dev.cuh:20-46).

    This makes the learned mask itself oracle-checked: any divergence
    in counts, threshold arithmetic, gating, or byte math breaks the
    downstream hash compare."""
    import numpy as np

    thetas = _grid_f32()
    tvals = ", ".join(
        f"({gi}, CAST({float(t)!r} AS FLOAT), "
        f"CAST({float(np.float64(1.0) - np.float64(t))!r} AS DOUBLE))"
        for gi, t in enumerate(thetas))
    return f"""
t AS (SELECT doc_id, source, {tok_expr} AS toks FROM {table}),
blk AS (
  SELECT doc_id, source,
         UNNEST(range(CAST(ceil(len(toks) / {v}.0) AS BIGINT))) AS b,
         toks, len(toks) AS n
  FROM t WHERE len(toks) > 0
),
blk2 AS (
  SELECT doc_id, source, b,
         toks[(b * {v} + 1):CAST(LEAST((b + 1) * {v}, n) AS BIGINT)] AS bt,
         CAST(LEAST({v}, n - b * {v}) AS BIGINT) AS L
  FROM blk
),
elems AS (
  SELECT doc_id, b, L,
         CAST(UNNEST(bt) AS BIGINT) & 4294967295 AS uval,
         UNNEST(range(len(bt))) AS j
  FROM blk2
),
counts AS (
  SELECT j, bit, SUM((uval >> bit) & 1) AS cnt, COUNT(*) AS nj
  FROM elems, (SELECT UNNEST(range(32)) AS bit) bits
  GROUP BY j, bit
),
grid(gi, thr32, lo64) AS (VALUES {tvals}),
maskbits AS (
  SELECT g.gi, c.j, c.bit,
         (CAST(c.cnt AS FLOAT) > g.thr32 * CAST(c.nj AS FLOAT)) AS hi,
         (CAST(c.cnt AS DOUBLE) < g.lo64 * CAST(c.nj AS DOUBLE)) AS lo
  FROM counts c, grid g
),
colmask AS (
  SELECT gi, j,
         SUM(CASE WHEN hi OR lo THEN (CAST(1 AS BIGINT) << bit)
                  ELSE 0 END) AS mask,
         SUM(CASE WHEN hi THEN (CAST(1 AS BIGINT) << bit)
                  ELSE 0 END) AS bitval,
         SUM(CASE WHEN hi OR lo THEN 1 ELSE 0 END) AS popc
  FROM maskbits GROUP BY gi, j
),
blksave AS (
  SELECT m.gi, e.doc_id, e.b, e.L,
         SUM(CASE WHEN (e.uval & m.mask) = m.bitval
                  THEN m.popc ELSE 0 END) AS saved
  FROM elems e JOIN colmask m ON m.j = e.j
  GROUP BY m.gi, e.doc_id, e.b, e.L
),
gsum AS (
  SELECT gi, SUM(CASE WHEN saved > L THEN saved - L ELSE 0 END) AS gated
  FROM blksave GROUP BY gi
),
best AS (
  SELECT gi FROM gsum WHERE gated > 0
  ORDER BY gated DESC, gi ASC LIMIT 1
),
bsize AS (
  SELECT s.doc_id, s.b, s.L,
         CASE WHEN EXISTS (SELECT 1 FROM best)
           THEN LEAST(
             CAST(ceil(CAST((s.L + 7) // 8 AS DOUBLE) / 4) AS BIGINT) * 4
             + CAST(ceil(CAST(4 * s.L - s.saved // 8 AS DOUBLE) / 4)
                    AS BIGINT) * 4,
             4 * s.L)
           ELSE 4 * s.L END AS bytes
  FROM blksave s
  WHERE s.gi = coalesce((SELECT gi FROM best), 0)
),
docsz AS (
  SELECT t.doc_id, t.source, len(t.toks) AS n,
         coalesce(x.bytes, 0) AS ibp_bytes
  FROM t LEFT JOIN (SELECT doc_id, SUM(bytes) AS bytes FROM bsize
                    GROUP BY doc_id) x USING (doc_id)
)"""


def _kmeans_replay_cte(v: int = 32, k: int = 4, iters: int = 10) -> str:
    """CTE chain appended after ``_ibp_replay_cte(v=...)`` (it consumes
    that chain's ``t``, ``elems`` and ``grid``) that replays the ENTIRE
    clustered-codec pipeline of ``learn_kmeans(init="hash")`` +
    ``encode_ibp_kmeans`` in pure SQL, ending in ``kdocsz(doc_id,
    km_bytes)``:

    - md5-ordered centroid seeding (first full block of the k docs with
      the smallest ``md5(doc_id)`` — engine-independent by design,
      kmeans.learn_kmeans init="hash");
    - ``iters`` Lloyd iterations: XOR+popcount Hamming argmin with
      lowest-cluster tie-break (cluster_vecs,
      ibp_preproc_kmeans.cuh:106-150), then per-bit majority
      re-centering with integer division ``cnt > size // 2`` and
      empty-cluster collapse to zero (construct_bitmasks,
      ibp_preproc_kmeans.cuh:219-236);
    - per-cluster (mask, bitval) over the float32 θ grid with
      create_mask's mixed f32/f64 strict thresholds, the full-block
      gated-savings sweep, and the strict-argmax / earlier-tie /
      default-first θ selection (check_feats_many,
      ibp_preproc_kmeans.cuh:299-323; learn_kmeans:304-308);
    - prefix-Hamming tail assignment and the §1.4 per-block size
      formula with the never-expand clamp (ibp_misc_dev.cuh:20-46).

    Heavy / multiply-referenced CTEs are ``AS MATERIALIZED``: DuckDB
    otherwise inlines each reference and the iteration chain
    (cent{i} -> asg{i+1} -> cent{i+1}) re-evaluates 2^iters times."""
    parts = [f"""
kfull AS MATERIALIZED (
  SELECT doc_id, b, j, uval FROM elems WHERE L = {v}
),
ktail AS MATERIALIZED (
  SELECT doc_id, b, L, j, uval FROM elems WHERE L < {v}
),
kgrid AS MATERIALIZED (
  SELECT c.c, j.j FROM (SELECT UNNEST(range({k})) AS c) c,
                       (SELECT UNNEST(range({v})) AS j) j
),
cent0 AS MATERIALIZED (
  SELECT s.c, e.j, e.uval AS w
  FROM (SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1 AS c
        FROM t WHERE len(toks) >= {v}
        ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT {k}) s
  JOIN kfull e ON e.doc_id = s.doc_id AND e.b = 0
)"""]
    prev = "cent0"
    for i in range(1, iters + 1):
        parts.append(f"""
asg{i} AS MATERIALIZED (
  SELECT doc_id, b, c FROM (
    SELECT doc_id, b, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id, b ORDER BY d, c) AS rn
    FROM (SELECT e.doc_id, e.b, ct.c,
                 SUM(bit_count(xor(e.uval, ct.w))) AS d
          FROM kfull e JOIN {prev} ct ON ct.j = e.j
          GROUP BY e.doc_id, e.b, ct.c))
  WHERE rn = 1
),
cent{i} AS MATERIALIZED (
  SELECT g.c, g.j,
         coalesce(SUM(CASE WHEN s.cnt > s.sz // 2
                           THEN (CAST(1 AS BIGINT) << s.bit)
                           ELSE 0 END), 0) AS w
  FROM kgrid g LEFT JOIN (
    SELECT a.c, e.j, bits.bit, SUM((e.uval >> bits.bit) & 1) AS cnt,
           COUNT(*) AS sz
    FROM kfull e JOIN asg{i} a USING (doc_id, b),
         (SELECT UNNEST(range(32)) AS bit) bits
    GROUP BY a.c, e.j, bits.bit
  ) s ON s.c = g.c AND s.j = g.j
  GROUP BY g.c, g.j
)""")
        prev = f"cent{i}"
    parts.append(f"""
kasg AS MATERIALIZED (
  SELECT doc_id, b, c FROM (
    SELECT doc_id, b, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id, b ORDER BY d, c) AS rn
    FROM (SELECT e.doc_id, e.b, ct.c,
                 SUM(bit_count(xor(e.uval, ct.w))) AS d
          FROM kfull e JOIN {prev} ct ON ct.j = e.j
          GROUP BY e.doc_id, e.b, ct.c))
  WHERE rn = 1
),
kcstat AS MATERIALIZED (
  SELECT a.c, e.j, bits.bit, SUM((e.uval >> bits.bit) & 1) AS cnt,
         COUNT(*) AS sz
  FROM kfull e JOIN kasg a USING (doc_id, b),
       (SELECT UNNEST(range(32)) AS bit) bits
  GROUP BY a.c, e.j, bits.bit
),
kmask AS MATERIALIZED (
  -- complete over every (gi, c, j) cell: clusters with no full blocks
  -- keep mask = bitval = popc = 0 (learn_kmeans leaves ms/bs zeroed),
  -- so tails prefix-assigned to such a cluster still encode as raw
  SELECT g.gi, kg.c, kg.j,
         coalesce(SUM(CASE WHEN
                    (CAST(s.cnt AS FLOAT) > g.thr32 * CAST(s.sz AS FLOAT))
                    OR (CAST(s.cnt AS DOUBLE) < g.lo64 * CAST(s.sz AS DOUBLE))
                  THEN (CAST(1 AS BIGINT) << s.bit) ELSE 0 END), 0) AS mask,
         coalesce(SUM(CASE WHEN
                    CAST(s.cnt AS FLOAT) > g.thr32 * CAST(s.sz AS FLOAT)
                  THEN (CAST(1 AS BIGINT) << s.bit) ELSE 0 END), 0) AS bitval,
         coalesce(SUM(CASE WHEN
                    (CAST(s.cnt AS FLOAT) > g.thr32 * CAST(s.sz AS FLOAT))
                    OR (CAST(s.cnt AS DOUBLE) < g.lo64 * CAST(s.sz AS DOUBLE))
                  THEN 1 ELSE 0 END), 0) AS popc
  FROM kgrid kg CROSS JOIN grid g
  LEFT JOIN kcstat s ON s.c = kg.c AND s.j = kg.j
  GROUP BY g.gi, kg.c, kg.j
),
kfullsave AS MATERIALIZED (
  SELECT m.gi, e.doc_id, e.b,
         SUM(CASE WHEN (e.uval & m.mask) = m.bitval
                  THEN m.popc ELSE 0 END) AS saved
  FROM kfull e JOIN kasg a USING (doc_id, b)
  JOIN kmask m ON m.c = a.c AND m.j = e.j
  GROUP BY m.gi, e.doc_id, e.b
),
kbest AS MATERIALIZED (
  SELECT coalesce((
    SELECT gi FROM (
      SELECT gi, SUM(CASE WHEN saved > {v} THEN saved - {v} ELSE 0 END)
             AS gated
      FROM kfullsave GROUP BY gi)
    WHERE gated > 0 ORDER BY gated DESC, gi ASC LIMIT 1), 0) AS gi
),
ktasg AS MATERIALIZED (
  SELECT doc_id, b, L, c FROM (
    SELECT doc_id, b, L, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id, b ORDER BY d, c) AS rn
    FROM (SELECT e.doc_id, e.b, e.L, ct.c,
                 SUM(bit_count(xor(e.uval, ct.w))) AS d
          FROM ktail e JOIN {prev} ct ON ct.j = e.j
          GROUP BY e.doc_id, e.b, e.L, ct.c))
  WHERE rn = 1
),
ktailsave AS MATERIALIZED (
  SELECT e.doc_id, e.b, e.L,
         SUM(CASE WHEN (e.uval & m.mask) = m.bitval
                  THEN m.popc ELSE 0 END) AS saved
  FROM ktail e JOIN ktasg a USING (doc_id, b)
  JOIN kmask m ON m.c = a.c AND m.j = e.j AND m.gi = (SELECT gi FROM kbest)
  GROUP BY e.doc_id, e.b, e.L
),
kallsave AS (
  SELECT doc_id, b, CAST({v} AS BIGINT) AS L, saved
  FROM kfullsave WHERE gi = (SELECT gi FROM kbest)
  UNION ALL SELECT doc_id, b, L, saved FROM ktailsave
),
kdocsz AS MATERIALIZED (
  SELECT t.doc_id, coalesce(x.bytes, 0) AS km_bytes
  FROM t LEFT JOIN (
    SELECT doc_id, SUM(LEAST(
        CAST(ceil(CAST((L + 7) // 8 AS DOUBLE) / 4) AS BIGINT) * 4
        + CAST(ceil(CAST(4 * L - saved // 8 AS DOUBLE) / 4) AS BIGINT) * 4,
        4 * L)) AS bytes
    FROM kallsave GROUP BY doc_id) x USING (doc_id)
)""")
    return ",".join(parts)


# Per-document closed-form sizes of the lightweight codec family
# (selector.predict_sizes semantics: FOR/DFOR chunked minimal widths,
# RLE run count, DICT u16-capped cardinality) — the same formulas the
# codec_choice_by_source oracle replays, kept per-doc for reuse.
_LW_CTE = """
lw AS (
  SELECT doc_id, source, len(toks) AS n,
         4 * len(toks) AS sz_raw,
         5 + CAST(ceil(len(toks) / 8.0) AS BIGINT) *
             (CASE WHEN list_max(toks) = list_min(toks) THEN 0
                   ELSE length(bin(CAST(list_max(toks) - list_min(toks)
                                        AS BIGINT))) END) AS sz_for,
         9 + CAST(ceil(len(toks) / 8.0) AS BIGINT) * LEAST(
             (CASE WHEN
                 GREATEST(toks[1], coalesce(list_max(list_transform(
                    range(2, len(toks) + 1),
                    i -> toks[CAST(i AS INT)] - toks[CAST(i AS INT) - 1]
                 )), toks[1]))
                 - LEAST(toks[1], coalesce(list_min(list_transform(
                    range(2, len(toks) + 1),
                    i -> toks[CAST(i AS INT)] - toks[CAST(i AS INT) - 1]
                 )), toks[1])) = 0 THEN 0
               ELSE length(bin(CAST(
                 GREATEST(toks[1], coalesce(list_max(list_transform(
                    range(2, len(toks) + 1),
                    i -> toks[CAST(i AS INT)] - toks[CAST(i AS INT) - 1]
                 )), toks[1]))
                 - LEAST(toks[1], coalesce(list_min(list_transform(
                    range(2, len(toks) + 1),
                    i -> toks[CAST(i AS INT)] - toks[CAST(i AS INT) - 1]
                 )), toks[1])) AS BIGINT))) END), 32) AS sz_dfor,
         4 + 8 * (1 + len(list_filter(range(2, len(toks) + 1),
             i -> toks[CAST(i AS INT)] != toks[CAST(i AS INT) - 1]
         ))) AS sz_rle,
         len(list_distinct(toks)) AS card,
         4 + 4 * len(list_distinct(toks)) +
             CAST(ceil(len(toks) / 8.0) AS BIGINT) *
             (CASE WHEN len(list_distinct(toks)) <= 1 THEN 0
                   ELSE length(bin(CAST(len(list_distinct(toks)) - 1
                                        AS BIGINT))) END) AS sz_dict
  FROM t
),
allsz AS (
  SELECT l.*, d.ibp_bytes AS sz_ibp
  FROM lw l JOIN docsz d USING (doc_id)
)"""


def _simhash_replay_sql() -> str:
    """Full SQL replay of :func:`dataops.simhash64`: split on single
    spaces (empty text -> no words), FNV-1a-64 each word over its UTF-8
    bytes — the recursive CTE walks hex-decoded byte positions, and the
    mod-2^64 wrap is HUGEINT multiply % 2^64 (DuckDB integer ops trap
    on overflow, so the chain is widened, reduced, and narrowed each
    step) — then the per-bit strict-majority vote (ties -> 0) and the
    unsigned->signed int64 reinterpretation Spark emits.  Bit weights
    are emitted as literals: ``1 << 63`` overflows BIGINT."""
    weights = ", ".join(f"({b}, CAST({1 << b} AS HUGEINT))"
                        for b in range(64))
    return f"""
WITH RECURSIVE
sw AS (
  SELECT doc_id,
         UNNEST(CASE WHEN length(text) > 0
                     THEN string_split(text, ' ')
                     ELSE CAST([] AS VARCHAR[]) END) AS w
  FROM documents
),
swb AS MATERIALIZED (
  SELECT doc_id, upper(hex(encode(w))) AS hx,
         octet_length(encode(w)) AS nb,
         ROW_NUMBER() OVER () AS wid
  FROM sw
),
chain AS (
  SELECT wid, nb, hx, 0 AS i,
         CAST(14695981039346656037 AS UBIGINT) AS h
  FROM swb
  UNION ALL
  SELECT wid, nb, hx, i + 1,
         CAST((CAST(xor(h, CAST(
             (strpos('0123456789ABCDEF', substr(hx, i * 2 + 1, 1)) - 1) * 16
             + strpos('0123456789ABCDEF', substr(hx, i * 2 + 2, 1)) - 1
           AS UBIGINT)) AS HUGEINT) * 1099511628211)
           % 18446744073709551616 AS UBIGINT) AS h
  FROM chain WHERE i < nb
),
whash AS MATERIALIZED (
  SELECT wid, h FROM chain WHERE i = nb
),
bitw(b, w) AS (VALUES {weights}),
votes AS MATERIALIZED (
  SELECT s.doc_id, bw.b, bw.w,
         SUM(CASE WHEN (f.h >> bw.b) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
         COUNT(*) AS n
  FROM swb s JOIN whash f USING (wid), bitw bw
  GROUP BY s.doc_id, bw.b, bw.w
),
sh AS (
  SELECT doc_id,
         SUM(CASE WHEN 2 * ones > n THEN w ELSE CAST(0 AS HUGEINT) END)
           AS u
  FROM votes GROUP BY doc_id
)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       CAST(CASE WHEN coalesce(s.u, 0) >= 9223372036854775808
                 THEN coalesce(s.u, 0) - 18446744073709551616
                 ELSE coalesce(s.u, 0) END AS BIGINT) AS simhash
FROM documents d LEFT JOIN sh s USING (doc_id)
"""


def _ann_lsh_replay_sql(planes: int = 4, tables: int = 8, seed: int = 42,
                        dim: int = 64, cap: int = 100_000,
                        num_queries: int = 8, k: int = 5) -> str:
    """Full SQL replay of :func:`dataops.ann_lsh_topk`: the seeded
    hyperplanes (``default_rng(seed).standard_normal``) are embedded as
    float literals — exactly the values the Spark plan carries via
    ``F.lit`` — then bucket signatures (sign-bit fold, MSB-first),
    the degenerate-bucket cap, per-table candidate union (DISTINCT),
    exact cosine re-rank and (sim DESC, vec_id ASC) top-k."""
    import numpy as np

    hp = np.random.default_rng(seed).standard_normal((tables, planes, dim))
    rows = ", ".join(
        f"({t}, {p}, [{','.join(repr(float(x)) for x in hp[t, p])}]"
        "::DOUBLE[])"
        for t in range(tables) for p in range(planes))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
hp(tbl, p, pv) AS (VALUES {rows}),
dots AS MATERIALIZED (
  SELECT e.vec_id, h.tbl, h.p,
         list_sum(list_transform(range(1, {dim + 1}),
                                 i -> e.v[i] * h.pv[i])) AS d
  FROM e CROSS JOIN hp h
),
sig AS MATERIALIZED (
  SELECT vec_id, tbl,
         SUM(CASE WHEN d > 0 THEN (1 << ({planes - 1} - p))
                  ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id, tbl
),
sizes AS (SELECT tbl, bucket, COUNT(*) AS bn FROM sig
          GROUP BY tbl, bucket),
sigf AS MATERIALIZED (
  SELECT sig.* FROM sig JOIN sizes USING (tbl, bucket)
  WHERE bn <= {cap}
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e
      ORDER BY vec_id LIMIT {num_queries}),
qb AS (SELECT q.q_id, s.tbl, s.bucket
       FROM q JOIN sigf s ON s.vec_id = q.q_id),
cand AS (
  SELECT DISTINCT qb.q_id, s.vec_id
  FROM sigf s JOIN qb USING (tbl, bucket)
  WHERE s.vec_id != qb.q_id
),
pairs AS (
  SELECT c.q_id, c.vec_id,
         list_sum(list_transform(range(1, {dim + 1}),
                                 i -> ev.v[i] * qq.qv[i]))
         / (sqrt(list_sum(list_transform(range(1, {dim + 1}),
                                         i -> ev.v[i] * ev.v[i])))
            * sqrt(list_sum(list_transform(range(1, {dim + 1}),
                                           i -> qq.qv[i] * qq.qv[i]))))
           AS sim
  FROM cand c JOIN e ev ON ev.vec_id = c.vec_id
  JOIN q qq ON qq.q_id = c.q_id
),
ranked AS (
  SELECT q_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY sim DESC, vec_id ASC) AS rank
  FROM pairs)
SELECT q_id, CAST(rank AS INT) AS rank, vec_id, ROUND(sim, 6) AS sim
FROM ranked WHERE rank <= {k}
"""


def oracle_sql() -> dict[str, str]:
    from invariantbitpacking_spark.functions import dataops as _dataops

    return {
        "simhash": _simhash_replay_sql(),
        "ann_lsh_topk": _ann_lsh_replay_sql(),
        "kmeans_vs_global_ratio": (
            "WITH " + _ibp_replay_cte(v=32) + "," + _kmeans_replay_cte()
            + """
            SELECT d.source,
                   COUNT(*) AS docs,
                   CAST(SUM(4 * d.n) AS BIGINT) AS raw_bytes,
                   CAST(SUM(k.km_bytes) AS BIGINT) AS kmeans_bytes,
                   CAST(SUM(d.ibp_bytes) AS BIGINT) AS global_bytes
            FROM docsz d JOIN kdocsz k USING (doc_id)
            GROUP BY d.source ORDER BY d.source
        """),
        "condensed_offsets": "WITH " + _ibp_replay_cte() + """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(ibp_bytes AS BIGINT) AS comp_bytes,
                   CAST(SUM(ibp_bytes) OVER (
                        ORDER BY CAST(doc_id AS VARCHAR)
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS end_offset
            FROM docsz
        """,
        "codec_sizes_by_source": (
            "WITH " + _ibp_replay_cte() + "," + _LW_CTE + """
            , cells AS (
              SELECT source, 'raw' AS codec, sz_raw AS bytes FROM allsz
              UNION ALL SELECT source, 'ibp', sz_ibp FROM allsz
              UNION ALL SELECT source, 'for', sz_for FROM allsz
              UNION ALL SELECT source, 'dfor', sz_dfor FROM allsz
              UNION ALL SELECT source, 'rle', sz_rle FROM allsz
              UNION ALL SELECT source, 'dict', sz_dict FROM allsz
                        WHERE card <= 65535
            )
            SELECT source, codec, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                   COUNT(*) AS docs
            FROM cells GROUP BY source, codec
        """),
        "codec_mix": (
            "WITH " + _ibp_replay_cte() + "," + _LW_CTE + """
            , pick AS (
              SELECT source, sz_raw,
                     CASE  -- argmin with CODEC_ORDER tie priority
                       WHEN sz_raw <= LEAST(sz_ibp, d2, sz_rle, sz_dfor,
                                            sz_for) THEN 'raw'
                       WHEN sz_ibp <= LEAST(d2, sz_rle, sz_dfor, sz_for)
                         THEN 'ibp'
                       WHEN d2 <= LEAST(sz_rle, sz_dfor, sz_for) THEN 'dict'
                       WHEN sz_rle <= LEAST(sz_dfor, sz_for) THEN 'rle'
                       WHEN sz_dfor <= sz_for THEN 'dfor'
                       ELSE 'for'
                     END AS codec,
                     LEAST(sz_raw, sz_ibp, d2, sz_rle, sz_dfor, sz_for)
                       AS bytes
              FROM (SELECT *, CASE WHEN card > 65535
                                   THEN 9223372036854775807
                                   ELSE sz_dict END AS d2 FROM allsz)
            )
            SELECT codec, COUNT(*) AS docs,
                   CAST(SUM(sz_raw) AS BIGINT) AS raw_bytes,
                   CAST(SUM(bytes) AS BIGINT) AS comp_bytes
            FROM pick GROUP BY codec ORDER BY codec
        """),
        "tokenize_documents": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(toks) AS INT) AS n_tok,
                   CAST(toks[1] AS INT) AS tok_first,
                   CAST(toks[-1] AS INT) AS tok_last,
                   source
            FROM (SELECT doc_id, {_TOK} AS toks, source FROM documents)
        """,
        "bitcount_partkey": """
            SELECT CAST(bit AS INT) AS pos,
                   CAST(SUM((l_partkey >> bit) & 1) AS BIGINT) AS cnt
            FROM lineitem, (SELECT UNNEST(range(32)) AS bit)
            GROUP BY bit
            UNION ALL
            SELECT -1, COUNT(*) FROM lineitem
            UNION ALL
            SELECT 32, COUNT(*) FROM lineitem  -- column-0 coverage row
        """,
        "ibp_roundtrip_by_source": """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs
            FROM documents GROUP BY source
        """,
        "float32_roundtrip_by_source": (
            "WITH " + _ibp_replay_cte(tok_expr=_f32_pat_small_int()) + """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs,
                   CAST(SUM(4 * n) AS BIGINT) AS raw_bytes,
                   CAST(SUM(ibp_bytes) AS BIGINT) AS comp_bytes
            FROM docsz GROUP BY source ORDER BY source
        """),
        "embedding_ibp_ratio": (
            "WITH " + _ibp_replay_cte(
                tok_expr=_f32_pat_general("embedding"), v=64,
                table="(SELECT CAST(vec_id AS VARCHAR) AS doc_id, "
                      "CAST(label AS VARCHAR) AS source, embedding "
                      "FROM embeddings)") + """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs,
                   CAST(SUM(4 * n) AS BIGINT) AS raw_bytes,
                   CAST(SUM(ibp_bytes) AS BIGINT) AS comp_bytes
            FROM docsz GROUP BY source ORDER BY source
        """),
        "auto_roundtrip_by_source": """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs
            FROM documents GROUP BY source
        """,
        "kmeans_roundtrip_by_source": """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs
            FROM documents GROUP BY source
        """,
        "ibp64_roundtrip_by_source": """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs
            FROM documents GROUP BY source
        """,
        "float64_roundtrip_by_source": """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs
            FROM documents GROUP BY source
        """,
        "bitcount64_orderkey": """
            SELECT CAST(bit AS INT) AS pos,
                   CAST(SUM((CAST(l_orderkey AS BIGINT) >> bit) & 1)
                        AS BIGINT) AS cnt
            FROM lineitem, (SELECT UNNEST(range(64)) AS bit)
            GROUP BY bit
            UNION ALL
            SELECT -1, COUNT(*) FROM lineitem
            UNION ALL
            SELECT 64, COUNT(*) FROM lineitem  -- column-0 coverage row
        """,
        "bitcount16_suppkey": """
            SELECT CAST(bit AS INT) AS pos,
                   CAST(SUM(((l_suppkey % 16384) >> bit) & 1)
                        AS BIGINT) AS cnt
            FROM lineitem, (SELECT UNNEST(range(16)) AS bit)
            GROUP BY bit
            UNION ALL
            SELECT -1, COUNT(*) FROM lineitem
            UNION ALL
            SELECT 16, COUNT(*) FROM lineitem  -- column-0 coverage row
        """,
        "ibp16_roundtrip_by_source": """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs
            FROM documents GROUP BY source
        """,
        "ibp8_roundtrip_by_source": """
            SELECT source,
                   COUNT(*) AS docs,
                   COUNT(*) AS ok_docs
            FROM documents GROUP BY source
        """,
        "ibp_ratio_by_source": f"""
            SELECT source,
                   COUNT(*) AS docs,
                   CAST(SUM(4 * len({_TOK})) AS BIGINT) AS raw_bytes,
                   COUNT(*) AS no_expand_docs
            FROM documents GROUP BY source
        """,
        "kmeans_vs_global_shape": f"""
            SELECT source,
                   COUNT(*) AS docs,
                   CAST(SUM(4 * len({_TOK})) AS BIGINT) AS raw_bytes,
                   COUNT(*) AS no_expand_docs
            FROM documents GROUP BY source
        """,
        "codec_docs_by_source": f"""
            WITH t AS (SELECT source, {_TOK} AS toks FROM documents),
            codecs AS (SELECT UNNEST(['raw','ibp','for','dfor','rle','dict'])
                       AS codec)
            SELECT t.source, c.codec, COUNT(*) AS docs
            FROM t, codecs c
            WHERE c.codec != 'dict'
               OR len(list_distinct(t.toks)) <= 65535
            GROUP BY t.source, c.codec
        """,
        "codec_choice_by_source": f"""
            WITH t AS (SELECT {_TOK} AS toks, source FROM documents),
            m AS (
              SELECT source, len(toks) AS n,
                     CAST(ceil(len(toks) / 8.0) AS BIGINT) AS nch,
                     list_max(toks) - list_min(toks) AS rng,
                     len(list_distinct(toks)) AS card,
                     GREATEST(toks[1], coalesce(list_max(list_transform(
                        range(2, len(toks) + 1),
                        i -> toks[CAST(i AS INT)] - toks[CAST(i AS INT) - 1]
                     )), toks[1]))
                     - LEAST(toks[1], coalesce(list_min(list_transform(
                        range(2, len(toks) + 1),
                        i -> toks[CAST(i AS INT)] - toks[CAST(i AS INT) - 1]
                     )), toks[1])) AS drng,
                     1 + len(list_filter(range(2, len(toks) + 1),
                        i -> toks[CAST(i AS INT)] != toks[CAST(i AS INT) - 1]
                     )) AS runs
              FROM t
            ),
            s AS (
              SELECT source,
                     4 * n AS sz_raw,
                     5 + nch * (CASE WHEN rng = 0 THEN 0
                           ELSE length(bin(CAST(rng AS BIGINT))) END) AS sz_for,
                     9 + nch * LEAST(CASE WHEN drng = 0 THEN 0
                           ELSE length(bin(CAST(drng AS BIGINT))) END, 32)
                       AS sz_dfor,
                     4 + 8 * runs AS sz_rle,
                     4 + 4 * card + nch * (CASE WHEN card <= 1 THEN 0
                           ELSE length(bin(CAST(card - 1 AS BIGINT))) END)
                       AS sz_dict
              FROM m
            ),
            c AS (
              SELECT source,
                     CASE
                       WHEN sz_raw <= LEAST(sz_dict, sz_rle, sz_dfor, sz_for)
                         THEN 'raw'
                       WHEN sz_dict <= LEAST(sz_rle, sz_dfor, sz_for)
                         THEN 'dict'
                       WHEN sz_rle <= LEAST(sz_dfor, sz_for) THEN 'rle'
                       WHEN sz_dfor <= sz_for THEN 'dfor'
                       ELSE 'for'
                     END AS codec,
                     LEAST(sz_raw, sz_dict, sz_rle, sz_dfor, sz_for) AS bytes
              FROM s
            )
            SELECT source, codec, COUNT(*) AS docs,
                   CAST(SUM(bytes) AS BIGINT) AS total_bytes
            FROM c GROUP BY source, codec
        """,
        "lineitem_colstats": """
            SELECT 'l_partkey' AS col_name, CAST(MIN(l_partkey) AS BIGINT) AS min_v,
                   CAST(MAX(l_partkey) AS BIGINT) AS max_v,
                   COUNT(DISTINCT l_partkey) AS ndv, COUNT(l_partkey) AS cnt
            FROM lineitem
            UNION ALL
            SELECT 'l_suppkey', CAST(MIN(l_suppkey) AS BIGINT),
                   CAST(MAX(l_suppkey) AS BIGINT),
                   COUNT(DISTINCT l_suppkey), COUNT(l_suppkey) FROM lineitem
            UNION ALL
            SELECT 'l_orderkey', CAST(MIN(l_orderkey) AS BIGINT),
                   CAST(MAX(l_orderkey) AS BIGINT),
                   COUNT(DISTINCT l_orderkey), COUNT(l_orderkey) FROM lineitem
        """,
        "token_stats_per_source": f"""
            WITH t AS (SELECT doc_id, {_TOK} AS toks, source FROM documents),
            per_row AS (
                SELECT source,
                       len(toks) AS n,
                       list_min(toks) AS mn,
                       list_max(toks) AS mx,
                       len(list_distinct(toks)) AS row_ndv,
                       1 + (SELECT COUNT(*) FROM (
                            SELECT UNNEST(range(1, len(toks))) AS i
                       ) WHERE toks[CAST(i AS INT)] != toks[CAST(i AS INT) + 1]) AS row_runs
                FROM t
            )
            SELECT source,
                   CAST(SUM(n) AS BIGINT) AS n_tokens,
                   CAST(MIN(mn) AS INT) AS min_tok,
                   CAST(MAX(mx) AS INT) AS max_tok,
                   CAST(SUM(row_ndv) AS BIGINT) AS sum_row_ndv,
                   CAST(SUM(row_runs) AS BIGINT) AS sum_row_runs,
                   COUNT(*) AS docs
            FROM per_row GROUP BY source
        """,
        "gather_decode": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(toks) AS INT) AS n_tok,
                   CAST(toks[1] AS INT) AS tok_first,
                   CAST(toks[-1] AS INT) AS tok_last
            FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
            WHERE CAST(doc_id AS VARCHAR) LIKE '%7'
        """,
        "gather_encode": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(toks) AS INT) AS n_tok,
                   CAST(toks[1] AS INT) AS tok_first,
                   CAST(toks[-1] AS INT) AS tok_last
            FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
            WHERE CAST(doc_id AS VARCHAR) LIKE '%3'
        """,
        "gather_snapshot": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(toks) AS INT) AS n_tok,
                   CAST(toks[1] AS INT) AS tok_first,
                   CAST(toks[-1] AS INT) AS tok_last
            FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
            WHERE CAST(doc_id AS VARCHAR) LIKE '%42'
        """,
        "time_travel_fetch": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(toks) AS INT) AS n_tok_asof,
                   CAST(toks[1] AS INT) AS tok_first_asof,
                   CAST(toks[-1] AS INT) AS tok_last_asof,
                   CASE WHEN CAST(doc_id AS VARCHAR) LIKE '%7'
                        THEN 1 ELSE 0 END AS now_present,
                   CASE WHEN CAST(doc_id AS VARCHAR) LIKE '%7'
                        THEN 3 ELSE -1 END AS n_tok_now
            FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
            WHERE CAST(doc_id AS VARCHAR) IN (
                SELECT d FROM (
                    SELECT CAST(doc_id AS VARCHAR) AS d FROM documents
                    WHERE CAST(doc_id AS VARCHAR) LIKE '%7'
                    ORDER BY d LIMIT 40)
                UNION ALL
                SELECT d FROM (
                    SELECT CAST(doc_id AS VARCHAR) AS d FROM documents
                    WHERE CAST(doc_id AS VARCHAR) LIKE '%3'
                    ORDER BY d LIMIT 40))
        """,
        "pack_sequences": f"""
            WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              {_TOK} AS toks FROM documents),
            l AS (SELECT doc_id, toks, len(toks) AS n,
                    sum(len(toks)) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - len(toks) AS base
                  FROM d),
            f AS (SELECT l.base + g.i AS gpos, l.toks[g.i + 1] AS tok
                  FROM l, LATERAL (SELECT unnest(range(0, l.n)) AS i) g)
            SELECT CAST(gpos // 512 AS BIGINT) AS seq_id,
                   CAST(count(*) AS INT) AS n_tok,
                   CAST(sum(tok) AS BIGINT) AS tok_sum,
                   CAST(arg_min(tok, gpos) AS INT) AS tok_first,
                   CAST(arg_max(tok, gpos) AS INT) AS tok_last
            FROM f GROUP BY 1
        """,
        "train_val_split": f"""
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              source, {_TOK} AS toks FROM documents)
            SELECT CASE WHEN substr(md5(doc_id), 1, 1) IN ('0', '1')
                        THEN 'val' ELSE 'train' END AS split,
                   source,
                   CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(len(toks)) AS BIGINT) AS tokens
            FROM t GROUP BY 1, 2
        """,
        "fsst_roundtrip": """
            SELECT source, COUNT(*) AS docs, COUNT(*) AS ok_docs
            FROM documents GROUP BY source
        """,
        "bitwidth_histogram": f"""
            WITH t AS (SELECT {_TOK} AS toks, source FROM documents),
            w AS (SELECT source,
                         CASE WHEN len(toks) = 0 THEN 0
                              WHEN list_max(toks) = list_min(toks) THEN 0
                              ELSE length(bin(CAST(list_max(toks) - list_min(toks) AS BIGINT)))
                         END AS bit_width
                  FROM t)
            SELECT source, CAST(bit_width AS INT) AS bit_width,
                   COUNT(*) AS docs
            FROM w GROUP BY source, bit_width
        """,
        "orders_by_nation": """
            SELECT n.n_name,
                   COUNT(*) AS n_orders,
                   CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                             AS DECIMAL(18,2)) AS DOUBLE) AS total_price
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "event_window_stats": """
            SELECT date_trunc('hour', ts) AS win_start,
                   event_type,
                   COUNT(*) AS events,
                   ROUND(SUM(value), 6) AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "token_topk": f"""
            WITH t AS (SELECT {_TOK} AS toks FROM documents),
            c AS (SELECT CAST(tok AS INT) AS tok, COUNT(*) AS cnt
                  FROM (SELECT UNNEST(toks) AS tok FROM t) GROUP BY tok),
            r AS (SELECT tok, cnt,
                         ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank
                  FROM c)
            SELECT CAST(rank AS INT) AS rank, tok, cnt FROM r WHERE rank <= 20
        """,
        "decontaminate": """
            WITH bdocs AS (
              SELECT text FROM (SELECT text, CAST(doc_id AS VARCHAR) AS d
                                FROM documents ORDER BY d LIMIT 5)
            ),
            bg AS (
              SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS gram
              FROM (SELECT string_split(text, ' ') AS w FROM bdocs),
                   UNNEST(generate_series(1, len(w) - 2)) AS t(i)
              WHERE len(w) >= 3
            ),
            dg AS (
              SELECT DISTINCT d.doc_id,
                     array_to_string(d.w[i:i+2], ' ') AS gram
              FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                           string_split(text, ' ') AS w
                    FROM documents) d,
                   UNNEST(generate_series(1, len(d.w) - 2)) AS t(i)
              WHERE len(d.w) >= 3
            ),
            hits AS (SELECT doc_id, COUNT(*) AS m
                     FROM dg JOIN bg USING (gram) GROUP BY 1)
            SELECT a.doc_id,
                   CAST(coalesce(h.m, 0) AS INT) AS matched_ngrams,
                   CAST(coalesce(h.m, 0) > 0 AS INT) AS contaminated
            FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id
                  FROM documents) a
            LEFT JOIN hits h USING (doc_id)
        """,
        "ngram_jaccard_pairs": """
            WITH pos AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                     UNNEST(generate_series(1, length(text) - 2)) AS i
              FROM documents WHERE length(text) >= 3
            ),
            g AS (
              SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS gram
              FROM pos
            ),
            s AS (SELECT doc_id, COUNT(*) AS ng FROM g GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
              FROM g a JOIN g b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   ROUND(c * 1.0 / (sa.ng + sb.ng - c), 6) AS jaccard
            FROM inter
            JOIN s sa ON sa.doc_id = inter.doc_a
            JOIN s sb ON sb.doc_id = inter.doc_b
            WHERE c * 1.0 / (sa.ng + sb.ng - c) >= 0.7
        """,
        "minhash_lsh_pairs": """
            WITH t AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     list_distinct(list_transform(
                        range(1, len(string_split(text,' ')) - 1),
                        i -> concat_ws(' ',
                               string_split(text,' ')[CAST(i AS INT)],
                               string_split(text,' ')[CAST(i AS INT)+1],
                               string_split(text,' ')[CAST(i AS INT)+2])
                     )) AS sh
              FROM documents
              WHERE len(string_split(text,' ')) >= 3
            ),
            inv AS (SELECT doc_id, UNNEST(sh) AS s FROM t),
            cand AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS inter
              FROM inv a JOIN inv b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            j AS (
              SELECT c.doc_a, c.doc_b,
                     c.inter * 1.0
                       / (len(ta.sh) + len(tb.sh) - c.inter) AS jac
              FROM cand c
              JOIN t ta ON ta.doc_id = c.doc_a
              JOIN t tb ON tb.doc_id = c.doc_b
            )
            SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard
            FROM j WHERE jac >= 0.5
        """,
        "dedup_exact": """
            SELECT md5(text) AS h,
                   CAST(MIN(doc_id) AS VARCHAR) AS keep_doc_id,
                   COUNT(*) AS copies
            FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
                  FROM documents)
            GROUP BY h
        """,
        "ann_cosine_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e
                  ORDER BY vec_id LIMIT 8),
            pairs AS (
                SELECT q.q_id, e.vec_id,
                       list_cosine_similarity(e.v, q.qv) AS sim
                FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
            ranked AS (
                SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY sim DESC, vec_id ASC)
                       AS rank
                FROM pairs)
            SELECT q_id, CAST(rank AS INT) AS rank, vec_id
            FROM ranked WHERE rank <= 5
        """,
        "ann_ivf_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e
                  ORDER BY vec_id LIMIT 8),
            pairs AS (
                SELECT q.q_id, e.vec_id,
                       list_cosine_similarity(e.v, q.qv) AS sim
                FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
            ranked AS (
                SELECT q_id, vec_id, sim,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY sim DESC, vec_id ASC)
                       AS rank
                FROM pairs)
            SELECT q_id, CAST(rank AS INT) AS rank, vec_id,
                   ROUND(sim, 6) AS sim
            FROM ranked WHERE rank <= 5
        """,
        "embedding_dup_pairs": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.9
        """,
        "embedding_dup_pairs_lowt": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.45
        """,
        "simhash_shape": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(CASE WHEN length(text) > 0
                             THEN len(string_split(text, ' '))
                             ELSE 0 END AS BIGINT) AS n_words,
                   CAST(CASE WHEN length(text) > 0
                             THEN len(list_distinct(string_split(text, ' ')))
                             ELSE 0 END AS BIGINT) AS n_uniq
            FROM documents
        """,
        "text_quality": """
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                              string_split(text, ' ') AS words
                       FROM documents),
            f AS (SELECT doc_id,
                         length(text) AS n_chars_actual,
                         len(words) AS n_words,
                         len(list_filter(words, w -> w IN
                             ('the','a','of','and','to','in','is','on',
                              'for','with'))) AS n_stopwords,
                         (length(text) - len(words) + 1.0) / len(words)
                             AS mwl
                  FROM t)
            SELECT doc_id,
                   CAST(n_chars_actual AS INT) AS n_chars_actual,
                   CAST(n_words AS INT) AS n_words,
                   CAST(n_stopwords AS INT) AS n_stopwords,
                   ROUND(mwl, 6) AS mean_word_len,
                   ROUND(LEAST(n_words / 100.0, 1.0) * 0.5
                         + (n_stopwords * 1.0 / n_words) * 0.3
                         + CASE WHEN mwl >= 3 AND mwl <= 8
                                THEN 0.2 ELSE 0.0 END, 6)
                       AS quality_score
            FROM f
        """,
        "token_counts": """
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              string_split(text, ' ') AS words
                       FROM documents)
            SELECT doc_id,
                   CAST(len(words) AS INT) AS n_words,
                   CAST(len(list_distinct(words)) AS INT)
                       AS n_distinct_words,
                   CAST(list_sum(list_transform(words,
                        w -> CAST(ceil(length(w) / 4.0) AS INT)))
                        AS INT) AS n_subwords_est
            FROM t
        """,
        "repetition_stats": """
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              string_split(text, ' ') AS w
                       FROM documents),
            s AS (SELECT doc_id, len(w) AS nw,
                         len(list_distinct(w)) AS ndw, w
                  FROM t),
            bg AS (SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] AS bg
                   FROM s, LATERAL (SELECT unnest(range(1, nw)) AS i) g),
            c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
            r AS (SELECT doc_id, max(c) AS topc, sum(c) AS nb,
                         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
                  FROM c GROUP BY 1)
            SELECT s.doc_id,
                   CAST(nw AS INT) AS n_words,
                   CAST(ndw AS INT) AS n_distinct_words,
                   ROUND((nw - ndw) * 1.0 / nw, 6) AS dup_word_frac,
                   CAST(coalesce(topc, 0) AS INT) AS top_bigram_count,
                   CAST(coalesce(nb, 0) AS INT) AS n_bigrams,
                   CASE WHEN coalesce(nb, 0) > 0
                        THEN ROUND(topc * 1.0 / nb, 6)
                        ELSE 0.0 END AS top_bigram_frac,
                   CASE WHEN coalesce(nb, 0) > 0
                        THEN ROUND(dup_occ * 1.0 / nb, 6)
                        ELSE 0.0 END AS dup_bigram_frac
            FROM s LEFT JOIN r USING (doc_id)
        """,
        "doc_fingerprint": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(text, ' '),
                               w -> CAST(ascii(w[1:1]) * 521
                                         + ascii(w[2:2]) * 31
                                         + length(w) AS BIGINT))),
                       (a, b) -> (a * 31 + b) % 1000000007)
                   AS fingerprint
            FROM documents
        """,
        "multimodal_featurize": """
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
                       FROM documents)
            SELECT doc_id,
                   1 AS decoded_w,
                   CAST(length(text) AS BIGINT) AS body_bytes,
                   CAST(len(list_filter(range(1, length(text) + 1),
                        i -> ascii(text[CAST(i AS INT)]) % 16 = 0))
                        AS BIGINT) AS hist0,
                   CAST(len(list_filter(range(1, length(text) + 1),
                        i -> ascii(text[CAST(i AS INT)]) % 16 = 1))
                        AS BIGINT) AS hist1,
                   CAST(len(list_filter(range(1, length(text) + 1),
                        i -> ascii(text[CAST(i AS INT)]) % 16 = 2))
                        AS BIGINT) AS hist2,
                   CAST(len(list_filter(range(1, length(text) + 1),
                        i -> ascii(text[CAST(i AS INT)]) % 16 = 3))
                        AS BIGINT) AS hist3
            FROM t
        """,
        "multimodal_frames": """
            WITH v AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                              LEAST(CAST(floor(length(text) / 8) AS INT), 9)
                              AS fr
                       FROM documents WHERE length(text) >= 16),
            k AS (SELECT doc_id, text,
                         UNNEST(range(0, fr, 2)) AS fi FROM v)
            SELECT doc_id,
                   CAST(fi AS INT) AS frame_idx,
                   substr(text, CAST(fi * 8 + 1 AS INT), 8) AS frame_str
            FROM k
        """,
        "multimodal_real": f"""
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              {_TOK} AS toks
                       FROM documents)
            SELECT doc_id,
                   CAST(16 AS INT) AS img_w,
                   CAST(len(toks) // 16 AS INT) AS img_h,
                   CAST(coalesce(list_sum(list_transform(
                        toks[1:16 * (len(toks) // 16)],
                        t -> t % 256)), 0) AS BIGINT) AS px_sum,
                   CAST(len(toks) AS INT) AS n_samples,
                   CAST(coalesce(list_sum(list_transform(
                        toks, t -> (t % 65536) - 32768)), 0)
                        AS BIGINT) AS samp_sum,
                   CAST(16000 AS INT) AS sample_rate
            FROM t
        """,
        "multimodal_png": f"""
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              {_TOK} AS toks
                       FROM documents),
            c AS (SELECT doc_id,
                         LEAST(len(toks) // 16, 40) AS h,
                         toks[1:16 * LEAST(len(toks) // 16, 40)] AS u
                  FROM t WHERE len(toks) >= 16)
            SELECT doc_id,
                   CAST(16 AS INT) AS img_w,
                   CAST(h AS INT) AS img_h,
                   CAST(list_sum(list_transform(u, t -> t % 256))
                        AS BIGINT) AS r_sum,
                   CAST(list_sum(list_transform(u, t -> (t * 7) % 256))
                        AS BIGINT) AS g_sum,
                   CAST(list_sum(list_transform(u, t -> (t * 13) % 256))
                        AS BIGINT) AS b_sum
            FROM c
        """,
        "multimodal_jpeg": f"""
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              {_TOK} AS toks
                       FROM documents),
            c AS (SELECT doc_id,
                         list_transform(toks[1:24], t -> t % 256) AS v
                  FROM t WHERE len(toks) >= 1)
            SELECT doc_id,
                   CAST(8 AS INT) AS img_w,
                   CAST(8 * len(v) AS INT) AS img_h,
                   CAST(64 * list_sum(v) AS BIGINT) AS px_sum,
                   CAST(list_min(v) AS INT) AS px_min,
                   CAST(list_max(v) AS INT) AS px_max,
                   CAST(64 * list_sum(v) AS BIGINT) AS px_sum_prog
            FROM c
        """,
        "lang_id": """
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              string_split(text, ' ') AS words
                       FROM documents),
            s AS (SELECT doc_id,
                    len(list_filter(words, w -> w IN ('the','and','of','is'))) AS s_en,
                    len(list_filter(words, w -> w IN ('der','die','und','ist'))) AS s_de,
                    len(list_filter(words, w -> w IN ('le','la','et','est'))) AS s_fr,
                    len(list_filter(words, w -> w IN ('el','los','y','es'))) AS s_es,
                    len(list_filter(words, w -> w IN ('de5','shi4','le5','zai4'))) AS s_zh
                  FROM t)
            SELECT doc_id,
                   CASE
                     WHEN s_zh > GREATEST(s_en, s_de, s_fr, s_es) THEN 'zh'
                     WHEN s_es > GREATEST(s_en, s_de, s_fr) THEN 'es'
                     WHEN s_fr > GREATEST(s_en, s_de) THEN 'fr'
                     WHEN s_de > s_en THEN 'de'
                     ELSE 'en'
                   END AS pred_lang,
                   CAST(GREATEST(s_en, s_de, s_fr, s_es, s_zh) AS INT)
                       AS marker_hits
            FROM s
        """,
        # The regex literals are substituted from dataops.PII_*_RE so
        # the oracle replays the exact patterns the Spark plan compiles
        # (both engines interpret this regex subset identically).
        "pii_scrub": r"""
            WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              text || ' contact user'
                                   || CAST(doc_id AS VARCHAR)
                                   || '@mail.example.com'
                                   || ' from 10.0.'
                                   || CAST(doc_id % 256 AS VARCHAR)
                                   || '.7 call 555-'
                                   || lpad(CAST(doc_id % 1000 AS VARCHAR),
                                           3, '0')
                                   || '-'
                                   || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                           4, '0') AS text
                       FROM documents),
            s1 AS (SELECT doc_id,
                          len(regexp_extract_all(text, '__EMAIL__'))
                              AS n_email,
                          regexp_replace(text, '__EMAIL__', '<EMAIL>', 'g')
                              AS t1
                   FROM t),
            s2 AS (SELECT doc_id, n_email,
                          len(regexp_extract_all(t1, '__IPV4__')) AS n_ipv4,
                          regexp_replace(t1, '__IPV4__', '<IP>', 'g') AS t2
                   FROM s1)
            SELECT doc_id,
                   CAST(n_email AS INT) AS n_email,
                   CAST(n_ipv4 AS INT) AS n_ipv4,
                   CAST(len(regexp_extract_all(t2, '__PHONE__')) AS INT)
                       AS n_phone,
                   regexp_replace(t2, '__PHONE__', '<PHONE>', 'g')
                       AS scrubbed
            FROM s2
        """.replace("__EMAIL__", _dataops.PII_EMAIL_RE)
           .replace("__IPV4__", _dataops.PII_IPV4_RE)
           .replace("__PHONE__", _dataops.PII_PHONE_RE),
    }
