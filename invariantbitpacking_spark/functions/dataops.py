"""Large-scale training-data pipeline operations.

Beyond the reference's codec surface, these are the operations a 100 TB
token-corpus pipeline needs around the encoder: deduplication (exact,
MinHash+LSH, SimHash), similarity search over embeddings, and text
analysis (language id, quality scoring, token counting, fingerprints).

Everything here is declarative ``pyspark.sql`` — JVM-side expressions
that Catalyst optimizes (predicate pushdown, broadcast joins,
whole-stage codegen); the only Pandas UDF is the SimHash bit-vote,
which has no efficient Catalyst expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    keeper (min doc_id) and the duplicate count.  Hash-partitioned
    groupBy with map-side partial agg — the canonical shuffle shape."""
    return (docs
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.md5(F.col("text")).alias("h"))
            .groupBy("h")
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("copies"))
            .select("h", "keep_doc_id", "copies"))


def _word_shingles(col, n: int = 3):
    """Word n-gram shingles as an array<string> (distinct).  Documents
    with fewer than n words yield an EMPTY array: ``sequence(1, k)``
    DESCENDS for k < 1 ([1, 0] — and slice() at start 0 is a runtime
    error), so the too-short case is computed on a clamped sequence and
    then guarded out entirely."""
    words = F.split(col, " ")
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return F.array_distinct(
        F.when(k >= 1, grams).otherwise(
            F.array().cast("array<string>")))


def minhash_signatures(docs: DataFrame, num_hashes: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """Per-document MinHash signature over word shingles — each hash is
    ``min(xxhash64(shingle, seed))``, computed entirely JVM-side."""
    sh = _word_shingles(F.col("text"), shingle_n)
    cols = [
        F.array_min(F.transform(
            F.col("shingles"), lambda s: F.xxhash64(s, F.lit(i)))
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return (docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                        sh.alias("shingles"))
            .filter(F.size("shingles") > 0)
            .select("doc_id", "shingles", *cols))


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 16,
                      bands: int = 8, shingle_n: int = 3,
                      jaccard_threshold: float = 0.5,
                      bucket_cap: int = 64) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified with the exact
    shingle Jaccard.  Banding: signatures split into ``bands`` groups;
    a pair is a candidate when any band hash collides (equi-join on
    (band, hash) — shuffle-friendly, no O(n^2) scan).

    Skew guard: a bucket with more than ``bucket_cap`` members (the
    boilerplate/exact-duplicate case — k identical documents collide in
    every band, k^2/2 pairs in one task) switches from all-pairs to a
    two-wave star scheme with bounded task size:

    1. every member is candidate-paired with the bucket's min doc_id
       (the hub) — k-1 pairs — and exactly verified;
    2. members whose hub pair FAILED verification retry as a group:
       all-pairs if at most ``bucket_cap`` of them, else a second star
       around the failed group's min doc_id.

    Exact-duplicate clusters resolve in wave 1; mixed big buckets
    recover hub-dissimilar near-dup pairs in wave 2.  Precise residual
    caveat: a near-dup pair (x, y) where x passes hub verification but
    y fails is linked only if it also collides in some small bucket or
    wave-2 group — emitted pairs are always exact and never false, but
    big-bucket recall for such boundary pairs is not guaranteed.

    Verification pushes the shingle-set SIZES down before shipping the
    sets: jaccard <= min(|A|,|B|)/max(|A|,|B|), so pairs that cannot
    reach the threshold are pruned from the array join exactly (no
    recall loss); the remaining skewed hub keys are AQE skew-join
    territory."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, shingle_n)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"mh{b * rows_per_band + r}")
                              for r in range(rows_per_band)]).alias("bh"))
        for b in range(bands)
    ]
    buckets = (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("k"))
               .select("doc_id", "k.band", "k.bh"))
    sizes = buckets.groupBy("band", "bh").agg(
        F.count(F.lit(1)).alias("bn"), F.min("doc_id").alias("hub"))
    b2 = buckets.join(sizes, ["band", "bh"])
    small = b2.filter(F.col("bn") <= bucket_cap)
    pairs_small = (small.alias("a")
                   .join(small.alias("b"),
                         (F.col("a.band") == F.col("b.band"))
                         & (F.col("a.bh") == F.col("b.bh"))
                         & (F.col("a.doc_id") < F.col("b.doc_id")))
                   .select(F.col("a.doc_id").alias("doc_a"),
                           F.col("b.doc_id").alias("doc_b")))
    bigm = b2.filter(F.col("bn") > bucket_cap)
    pairs_hub = (bigm.filter(F.col("doc_id") != F.col("hub"))
                 .select(F.col("hub").alias("doc_a"),
                         F.col("doc_id").alias("doc_b")))

    # exact verification reads a lean (doc_id, shingles, size)
    # projection — recomputed from source with pushdown, nothing cached
    sh = sig.select("doc_id", "shingles", F.size("shingles").alias("n_sh"))

    def verify(cand: DataFrame) -> DataFrame:
        """Exact jaccard for candidate pairs; shingle-set sizes ride
        the same join, and the size-ratio bound prunes hopeless pairs
        before the O(n log n) intersect."""
        withsets = (cand
                    .join(sh.select(F.col("doc_id").alias("doc_a"),
                                    F.col("shingles").alias("sh_a"),
                                    F.col("n_sh").alias("na")), "doc_a")
                    .join(sh.select(F.col("doc_id").alias("doc_b"),
                                    F.col("shingles").alias("sh_b"),
                                    F.col("n_sh").alias("nb")), "doc_b")
                    .filter(F.least("na", "nb")
                            >= jaccard_threshold * F.greatest("na", "nb")))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.col("na") + F.col("nb") - inter
        return (withsets
                .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
                .filter(F.col("jaccard") >= jaccard_threshold))

    ok_small = verify(pairs_small.distinct())
    ok_hub = verify(pairs_hub.distinct())
    # wave 2: big-bucket members whose hub link failed verification
    failed = (bigm.filter(F.col("doc_id") != F.col("hub"))
              .join(ok_hub.select(F.col("doc_a").alias("hub"),
                                  F.col("doc_b").alias("doc_id")),
                    ["hub", "doc_id"], "left_anti"))
    fsizes = failed.groupBy("band", "bh").agg(
        F.count(F.lit(1)).alias("fn"), F.min("doc_id").alias("hub2"))
    f2 = failed.join(fsizes, ["band", "bh"])
    fs = f2.filter(F.col("fn") <= bucket_cap)
    retry_small = (fs.alias("a")
                   .join(fs.alias("b"),
                         (F.col("a.band") == F.col("b.band"))
                         & (F.col("a.bh") == F.col("b.bh"))
                         & (F.col("a.doc_id") < F.col("b.doc_id")))
                   .select(F.col("a.doc_id").alias("doc_a"),
                           F.col("b.doc_id").alias("doc_b")))
    retry_big = (f2.filter((F.col("fn") > bucket_cap)
                           & (F.col("doc_id") != F.col("hub2")))
                 .select(F.col("hub2").alias("doc_a"),
                         F.col("doc_id").alias("doc_b")))
    ok_retry = verify(retry_small.union(retry_big).distinct())
    return ok_small.union(ok_hub).union(ok_retry).distinct()


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 13) -> DataFrame:
    """Benchmark decontamination — the standard pre-training hygiene
    pass beside dedup: flag every document sharing any word n-gram
    with an evaluation set (n=13 is the published convention for
    contamination sweeps; lower it for short texts).  Returns one row
    per input document: ``matched_ngrams`` (distinct benchmark grams
    the doc contains) and ``contaminated`` (0/1).

    Scale shape: the benchmark gram set is small by construction
    (eval suites are MBs against a 100 TB corpus) and is broadcast —
    the corpus side is one exploded projection + a hash-partitioned
    groupBy(doc_id), no shuffle of the corpus against itself and no
    UDF anywhere."""
    bg = (benchmark
          .select(F.explode(_word_shingles(F.col("text"), n))
                  .alias("gram"))
          .distinct())
    dg = (docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      F.explode(_word_shingles(F.col("text"), n))
                      .alias("gram")))
    hits = (dg.join(F.broadcast(bg), "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("m")))
    return (docs.select(F.col("doc_id").cast("string").alias("doc_id"))
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("m", F.lit(0)).cast("int")
                    .alias("matched_ngrams"),
                    (F.coalesce("m", F.lit(0)) > 0).cast("int")
                    .alias("contaminated")))


def _char_ngrams(col, n: int = 3):
    """Distinct character n-grams of ``col`` as an array<string>.
    Callers must pre-filter ``length(col) >= n``: Spark's
    ``sequence(1, k)`` DESCENDS when k < 1, which would fabricate
    grams for too-short strings instead of yielding an empty set."""
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.length(col) - (n - 1)),
        lambda i: col.substr(i, F.lit(n))))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.7) -> DataFrame:
    """EXACT character-n-gram Jaccard near-duplicate pairs via
    AllPairs/PPJoin-style prefix filtering — the deterministic sibling
    of :func:`minhash_lsh_pairs` (which trades a probabilistic band
    collision for a smaller candidate set).

    Candidate generation is an equi-join on PREFIX grams only: grams
    are globally ordered by (document frequency ASC, gram), and a doc
    with ``g`` grams indexes just its ``g - floor(t*g) + 1`` rarest
    ones.  Two sets with Jaccard >= t must share a prefix gram under
    that order (their overlap >= ceil(t*max(|A|,|B|)) cannot fit in
    either suffix), so recall is exactly 1.0 — ``floor`` rather than
    the tight ``ceil`` keeps the guarantee immune to float rounding in
    ``t*g``.  High-frequency grams (the skew risk of any posting-list
    join) sort LAST and thus fall out of every prefix: frequency
    ordering is simultaneously the candidate-minimizer and the skew
    guard.  Verification joins the full gram arrays for surviving
    pairs with the same size-ratio prune as MinHash
    (``jaccard <= min/max`` of set sizes), then filters on the exact
    intersection — emitted pairs are exact, complete, and RNG-free.

    At 100 TB: grams/df/prefix are one exploded projection + one
    hash-partitioned groupBy + a per-doc window (partitioned by
    doc_id, never global); the candidate join keys are rare-by-
    construction so posting lists stay short, and residual hot keys
    are AQE skew-join territory."""
    base = (docs.filter(F.length("text") >= n)
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    _char_ngrams(F.col("text"), n).alias("grams")))
    sets = base.select("doc_id", "grams", F.size("grams").alias("ng"))
    grams = sets.select("doc_id", "ng", F.explode("grams").alias("gram"))
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    prefix = (grams.join(dfreq, "gram")
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= F.col("ng")
                      - F.floor(F.lit(threshold) * F.col("ng")) + 1)
              .select("doc_id", "gram"))
    cand = (prefix.alias("a")
            .join(prefix.alias("b"),
                  (F.col("a.gram") == F.col("b.gram"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    withsets = (cand
                .join(sets.select(F.col("doc_id").alias("doc_a"),
                                  F.col("grams").alias("g_a"),
                                  F.col("ng").alias("na")), "doc_a")
                .join(sets.select(F.col("doc_id").alias("doc_b"),
                                  F.col("grams").alias("g_b"),
                                  F.col("ng").alias("nb")), "doc_b")
                .filter(F.least("na", "nb")
                        >= threshold * F.greatest("na", "nb")))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.col("na") + F.col("nb") - inter
    return (withsets
            .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


FNV_BASIS = np.uint64(0xCBF29CE484222325)
FNV_PRIME = np.uint64(0x100000001B3)


def fnv1a64_words(words: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a 64-bit over an array of strings, hashed with a
    column sweep over one flat byte buffer — the only Python-level loop
    is over the max word length (a small constant), never over words or
    documents.  Bit-identical to the scalar
    ``h = (h ^ byte) * prime mod 2^64`` chain over UTF-8 bytes.

    Bytes stay in Python ``bytes`` objects + a flat uint8 buffer, never
    numpy U/S string dtypes: their fixed-width storage silently drops
    TRAILING NUL bytes, so words ending in NUL would hash as if
    truncated (per-element encode/len here are pandas/C-level calls)."""
    w = len(words)
    if w == 0:
        return np.zeros(0, np.uint64)
    enc = pd.Series(words, dtype=object).str.encode("utf-8").values
    byte_lens = np.fromiter((len(b) for b in enc), np.int64, count=w)
    h = np.full(w, FNV_BASIS, np.uint64)
    if int(byte_lens.sum()) == 0:
        return h
    flat = np.frombuffer(b"".join(enc), np.uint8)
    starts = np.cumsum(byte_lens) - byte_lens
    for j in range(int(byte_lens.max())):
        act = byte_lens > j
        if not act.any():
            break
        h[act] = ((h[act] ^ flat[starts[act] + j].astype(np.uint64))
                  * FNV_PRIME)
    return h


def simhash64(docs: DataFrame, with_counts: bool = False) -> DataFrame:
    """64-bit SimHash per document (word-level), via ``mapInArrow``.
    Word splitting runs JVM-side (``F.split``); the UDF reads the
    list<string> column's values buffer directly (no per-doc array
    objects), unique words are FNV-1a-hashed once
    (:func:`fnv1a64_words`) and the per-bit majority vote is 8
    byte-table bincounts — no per-document, per-word, or per-character
    Python.

    ``with_counts`` also emits per-doc word and distinct-word counts
    from the SAME pass — the SQL-computable companions that let a
    DuckDB oracle hash-gate this query's checkable half (the mod-2^64
    FNV-1a chain itself is not SQL-expressible)."""

    def sim(batches):
        import pyarrow as pa

        from ..operators.framing import gather_ranges
        from ..operators.stages import mass_ranges

        for rb in batches:
            col = rb.column(1)
            offsets = col.offsets.to_numpy().astype(np.int64)
            values = col.values.to_numpy(zero_copy_only=False)  # object
            starts_all = offsets[:-1]
            lens_all = offsets[1:] - starts_all
            if col.null_count:
                nulls = col.is_null().to_numpy(zero_copy_only=False)
                lens_all = np.where(nulls, 0, lens_all)
            # bound the words x 64-bit vote working set per sub-batch
            for i0, i1 in mass_ranges(lens_all, 2_000_000):
                ndocs = i1 - i0
                lens = lens_all[i0:i1]
                total = int(lens.sum())
                out = np.zeros(ndocs, np.uint64)
                nuniq = np.zeros(ndocs, np.int64)
                if total:
                    flat = gather_ranges(values, starts_all[i0:i1], lens)
                    codes, uniq = pd.factorize(flat)
                    hw = fnv1a64_words(np.asarray(uniq, object))[codes]
                    doc_of = np.repeat(np.arange(ndocs), lens)
                    if with_counts:
                        key = ((doc_of.astype(np.uint64) << np.uint64(32))
                               | codes.astype(np.uint64))
                        key.sort(kind="stable")
                        new = np.ones(total, bool)
                        new[1:] = key[1:] != key[:-1]
                        nuniq = np.bincount(
                            (key[new] >> np.uint64(32)).astype(np.int64),
                            minlength=ndocs).astype(np.int64)
                    # per-bit majority vote, one byte group at a time:
                    # count (doc, byte-value) pairs with a bincount,
                    # fold through a 256x8 bit table — 8 O(words)
                    # passes instead of 64
                    bt = np.unpackbits(
                        np.arange(256, dtype=np.uint8)[:, None],
                        axis=1, bitorder="little").astype(np.int64)
                    hb = hw.astype("<u8", copy=False).view(
                        np.uint8).reshape(-1, 8)
                    base = doc_of << np.int64(8)
                    for g in range(8):
                        key = base | hb[:, g]
                        cnt = np.bincount(
                            key, minlength=ndocs * 256).reshape(ndocs, 256)
                        ones = cnt @ bt  # [ndocs, 8] per-bit set counts
                        vote = 2 * ones > lens[:, None]  # majority
                        shifts = (np.arange(8, dtype=np.uint64)
                                  + np.uint64(8 * g))
                        out |= (vote.astype(np.uint64) << shifts[None, :]
                                ).sum(axis=1, dtype=np.uint64)
                if with_counts:
                    yield pa.RecordBatch.from_arrays(
                        [rb.column(0).slice(i0, ndocs),
                         pa.array(out.view(np.int64), pa.int64()),
                         pa.array(lens, pa.int64()),
                         pa.array(nuniq, pa.int64())],
                        names=["doc_id", "simhash", "n_words", "n_uniq"])
                else:
                    yield pa.RecordBatch.from_arrays(
                        [rb.column(0).slice(i0, ndocs),
                         pa.array(out.view(np.int64), pa.int64())],
                        names=["doc_id", "simhash"])

    words = F.when(F.length("text") > 0, F.split("text", " ")
                   ).otherwise(F.array().cast("array<string>"))
    schema = ("doc_id string, simhash long, n_words long, n_uniq long"
              if with_counts else "doc_id string, simhash long")
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       words.alias("words")).mapInArrow(sim, schema=schema)


# ---------------------------------------------------------------------------
# similarity search (embeddings)
# ---------------------------------------------------------------------------

def ann_cosine_topk(emb: DataFrame, num_queries: int = 8,
                    k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: queries (lowest vec_ids) are broadcast
    against the full table; dot products run JVM-side with
    zip_with/aggregate inside whole-stage codegen; ranking is a window
    over each query's candidate set.  At 100 TB the same plan holds with
    the query side broadcast and the corpus scanned once; the LSH
    variant below is the sub-linear path."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = (e.orderBy("vec_id").limit(num_queries)
         .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv")))
    dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x))
    pairs = (e.crossJoin(F.broadcast(q))
             .filter(F.col("vec_id") != F.col("q_id"))
             .select("q_id", "vec_id",
                     (dot / (nrm(F.col("v")) * nrm(F.col("qv")))).alias("sim")))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "rank", "vec_id"))


def _hyperplane_buckets(e: DataFrame, planes: int, num_tables: int,
                        seed: int, dim: int) -> DataFrame:
    """Random-hyperplane LSH bucket ids: ``num_tables`` independent
    sign-pattern signatures per vector, computed JVM-side.  Output one
    row per (vec_id, table): (vec_id, v, tbl, bucket)."""
    rng = np.random.default_rng(seed)
    hp = rng.standard_normal((num_tables, planes, dim))

    def table_sig(t: int):
        hp_lit = F.array(*[
            F.array(*[F.lit(float(x)) for x in hp[t, p]])
            for p in range(planes)])
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(planes - 1)),
            F.lit(0),
            lambda acc, p: acc * 2 + F.when(
                F.aggregate(
                    F.zip_with(F.col("v"), F.element_at(hp_lit, p + 1),
                               lambda a, b: a * b),
                    F.lit(0.0), lambda s, x: s + x) > 0, 1).otherwise(0))

    sigs = F.array(*[
        F.struct(F.lit(t).alias("tbl"), table_sig(t).alias("bucket"))
        for t in range(num_tables)])
    return (e.select("vec_id", "v", F.explode(sigs).alias("s"))
            .select("vec_id", "v", "s.tbl", "s.bucket"))


def ann_lsh_topk(emb: DataFrame, num_queries: int = 8, k: int = 5,
                 planes: int = 4, num_tables: int = 8,
                 seed: int = 42, bucket_cap: int = 100_000) -> DataFrame:
    """Sub-linear ANN: random-hyperplane LSH with ``num_tables``
    independent tables (candidate union — recall 1-(1-p)^L), exact
    cosine re-ranking only within collided buckets (candidates ~=
    n * L / 2^planes).  Buckets above ``bucket_cap`` (a degenerate
    sign pattern swallowing a large corpus fraction) are skipped —
    the IVF-style probe cap that bounds per-query candidate work; the
    other L-1 tables still cover their members.  Approximate by
    design — recall is measured in tests, not by an exact oracle."""
    first = emb.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"])
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    eb = _hyperplane_buckets(e, planes, num_tables, seed, dim)
    sizes = eb.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("bn"))
    eb = (eb.join(sizes, ["tbl", "bucket"])
          .filter(F.col("bn") <= bucket_cap).drop("bn"))
    q = (e.orderBy("vec_id").limit(num_queries)
         .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv")))
    qb = (q.join(eb.select(F.col("vec_id").alias("q_id"),
                           F.col("tbl").alias("q_tbl"),
                           F.col("bucket").alias("q_bucket")), "q_id"))
    cand = (eb.join(F.broadcast(qb),
                    (F.col("tbl") == F.col("q_tbl"))
                    & (F.col("bucket") == F.col("q_bucket"))
                    & (F.col("vec_id") != F.col("q_id")))
            .select("q_id", "qv", "vec_id", "v").distinct())
    dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x))
    pairs = cand.select(
        "q_id", "vec_id",
        (dot / (nrm(F.col("v")) * nrm(F.col("qv")))).alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "rank", "vec_id", F.round("sim", 6).alias("sim")))


def _ivf_centroids(e: DataFrame, nlist: int, iters: int, seed: int,
                   sample_rows: int) -> np.ndarray:
    """Spherical k-means coarse quantizer learned driver-side on a
    seeded UNIFORM sample (deterministic given the partition layout),
    centroids unit-normalized.  A head-of-table sample (orderBy+limit)
    would train the quantizer on one modality of an ingest-ordered
    corpus; ``df.sample`` draws across the whole table — the pattern
    learn_params already uses (ibp.py).  The IVF index layer of a
    vector store: tiny (nlist x dim), broadcast into every
    assign/search closure."""
    n = max(sample_rows, 8 * nlist)
    total = e.count()
    frac = min(1.0, 3.0 * n / max(total, 1))
    pdf = (e.sample(fraction=frac, seed=seed) if frac < 1.0 else e
           ).orderBy("vec_id").toPandas()
    if len(pdf) > n:  # seeded uniform thinning, NOT a head slice
        keep = np.sort(np.random.default_rng(seed).choice(
            len(pdf), n, replace=False))
        pdf = pdf.iloc[keep]
    V = np.stack([np.asarray(v, np.float64) for v in pdf["v"].values])
    V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = V[rng.choice(V.shape[0], nlist, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(V @ cents.T, axis=1)
        for c in range(nlist):
            sel = assign == c
            if sel.any():
                m = V[sel].mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_assign(e: DataFrame, cents: np.ndarray) -> DataFrame:
    """Assign each vector to its nearest coarse centroid by cosine
    (one Arrow-batched matmul per batch) -> adds ``list_id``."""
    from typing import Iterator as _It

    def asg(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            V = np.stack([np.asarray(v, np.float64) for v in pdf["v"].values])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                                1e-12)
            pdf = pdf.copy()
            pdf["list_id"] = np.argmax(Vn @ cents.T, axis=1).astype(np.int32)
            yield pdf

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in e.schema.fields)
    return e.mapInPandas(asg, schema=f"{fields}, list_id int")


def ann_ivf_topk(emb: DataFrame, num_queries: int = 8, k: int = 5,
                 nlist: int = 8, nprobe: int = 2, iters: int = 5,
                 seed: int = 42, sample_rows: int = 512) -> DataFrame:
    """IVF-bucketed ANN — the second scale path next to
    :func:`ann_lsh_topk`: a spherical-k-means coarse quantizer
    partitions the corpus into ``nlist`` inverted lists; each query
    probes only its ``nprobe`` nearest lists and re-ranks exactly
    inside them, so per-query work is ~nprobe/nlist of the corpus.
    With ``nprobe == nlist`` the result provably equals brute force
    (pytest-pinned); below that it is approximate by design."""
    e = emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v"))
    cents = _ivf_centroids(e, nlist, iters, seed, sample_rows)
    lists = ivf_assign(e, cents)
    # queries: lowest vec_ids (same convention as the other ANN ops);
    # their nprobe nearest lists expand to one row per (query, probe)
    q = (e.orderBy("vec_id").limit(num_queries)
         .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv")))

    def probes(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, np.float64)
                          for v in pdf["qv"].values])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                                1e-12)
            order = np.argsort(-(Vn @ cents.T), axis=1)[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame({
                "q_id": np.repeat(pdf["q_id"].values, nprobe),
                "qv": [pdf["qv"].values[i] for i in range(n)
                       for _ in range(nprobe)],
                "list_id": order.reshape(-1).astype(np.int32)})

    qp = q.mapInPandas(
        probes, schema=f"q_id {q.schema['q_id'].dataType.simpleString()}, "
                       "qv array<double>, list_id int")
    cand = (lists.join(F.broadcast(qp), "list_id")
            .filter(F.col("vec_id") != F.col("q_id")))
    dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x))
    # no distinct needed: list assignment is unique, so a (query,
    # vector) pair can surface through at most one probed list
    pairs = cand.select("q_id", "vec_id",
                        (dot / (nrm(F.col("v")) * nrm(F.col("qv"))))
                        .alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "rank", "vec_id", F.round("sim", 6).alias("sim")))


def embedding_dup_pairs(emb: DataFrame, threshold: float = 0.9,
                        planes: int = 4, num_tables: int = 8,
                        seed: int = 42, bucket_cap: int = 256) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector twin of
    :func:`minhash_lsh_pairs`: random-hyperplane LSH candidates
    (deterministic seed; near-identical vectors share every table's
    sign pattern with overwhelming probability), exact JVM-side cosine
    verification, and the same two-wave oversized-bucket guard: star
    linking against the bucket's min vec_id (k-1 candidate pairs, not
    k^2/2 in one task), then hub-FAILED members retry all-pairs (or a
    second star when still above ``bucket_cap``).  Emitted similarities
    are exact; false positives are impossible (every candidate is
    re-verified); the residual caveat matches minhash_lsh_pairs: a
    near-dup pair split across hub-pass/hub-fail in a big bucket relies
    on also colliding in some other table."""
    first = emb.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"])
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    eb = _hyperplane_buckets(e, planes, num_tables, seed, dim)
    sizes = eb.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).alias("bn"), F.min("vec_id").alias("hub"))
    b2 = eb.join(sizes, ["tbl", "bucket"])
    small = b2.filter(F.col("bn") <= bucket_cap)
    pairs_small = (small.alias("a")
                   .join(small.alias("b"),
                         (F.col("a.tbl") == F.col("b.tbl"))
                         & (F.col("a.bucket") == F.col("b.bucket"))
                         & (F.col("a.vec_id") < F.col("b.vec_id")))
                   .select(F.col("a.vec_id").alias("vec_a"),
                           F.col("b.vec_id").alias("vec_b")))
    bigm = b2.filter(F.col("bn") > bucket_cap)
    pairs_hub = (bigm.filter(F.col("vec_id") != F.col("hub"))
                 .select(F.least("hub", "vec_id").alias("vec_a"),
                         F.greatest("hub", "vec_id").alias("vec_b")))

    dot = F.aggregate(F.zip_with("va", "vb", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x))

    def verify(cand: DataFrame) -> DataFrame:
        withv = (cand
                 .join(e.select(F.col("vec_id").alias("vec_a"),
                                F.col("v").alias("va")), "vec_a")
                 .join(e.select(F.col("vec_id").alias("vec_b"),
                                F.col("v").alias("vb")), "vec_b"))
        return (withv
                .select("vec_a", "vec_b",
                        (dot / (nrm(F.col("va")) * nrm(F.col("vb"))))
                        .alias("sim"))
                .filter(F.col("sim") >= threshold))

    ok_small = verify(pairs_small.distinct())
    ok_hub = verify(pairs_hub.distinct())
    failed = (bigm.filter(F.col("vec_id") != F.col("hub"))
              .withColumn("pa", F.least("hub", "vec_id"))
              .withColumn("pb", F.greatest("hub", "vec_id"))
              .join(ok_hub.select(F.col("vec_a").alias("pa"),
                                  F.col("vec_b").alias("pb")),
                    ["pa", "pb"], "left_anti"))
    fsizes = failed.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).alias("fn"), F.min("vec_id").alias("hub2"))
    f2 = failed.join(fsizes, ["tbl", "bucket"])
    fs = f2.filter(F.col("fn") <= bucket_cap)
    retry_small = (fs.alias("a")
                   .join(fs.alias("b"),
                         (F.col("a.tbl") == F.col("b.tbl"))
                         & (F.col("a.bucket") == F.col("b.bucket"))
                         & (F.col("a.vec_id") < F.col("b.vec_id")))
                   .select(F.col("a.vec_id").alias("vec_a"),
                           F.col("b.vec_id").alias("vec_b")))
    retry_big = (f2.filter((F.col("fn") > bucket_cap)
                           & (F.col("vec_id") != F.col("hub2")))
                 .select(F.least("hub2", "vec_id").alias("vec_a"),
                         F.greatest("hub2", "vec_id").alias("vec_b")))
    ok_retry = verify(retry_small.union(retry_big).distinct())
    return ok_small.union(ok_hub).union(ok_retry).distinct()


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def text_quality(docs: DataFrame) -> DataFrame:
    """Deterministic quality features: length, word stats, stopword
    ratio, and a composite score — all Catalyst expressions."""
    words = F.split(F.col("text"), " ")
    nw = F.size(words)
    sw = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    mean_wlen = (F.length("text") - nw + 1) / nw
    score = (F.least(nw / F.lit(100.0), F.lit(1.0)) * 0.5
             + (sw / nw) * 0.3
             + F.when((mean_wlen >= 3) & (mean_wlen <= 8), 0.2).otherwise(0.0))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.length("text").alias("n_chars_actual"),
        nw.alias("n_words"),
        sw.alias("n_stopwords"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Token accounting: whitespace words, distinct words, and a
    BPE-ish subword estimate (ceil(chars/4) per word)."""
    words = F.split(F.col("text"), " ")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.aggregate(words, F.lit(0),
                    lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int")
                    ).alias("n_subwords_est"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals, the standard pretraining
    filters for boilerplate and degenerate text: duplicate-word
    fraction, the most frequent word-bigram's share of all bigram
    occurrences, and the share of bigram occurrences whose bigram
    appears more than once.  Shapes as Catalyst expressions plus one
    explode + two per-doc aggregations — the group keys are
    (doc_id, bigram), so the shuffle is uniformly distributed and the
    per-group state is a counter: scale-safe at any corpus size (no
    per-doc quadratic array scans, no driver state).  Counts (not the
    argmax bigram string) are emitted, so ties need no tiebreak and
    the DuckDB oracle replays exactly."""
    words = F.split(F.col("text"), " ")
    nw = F.size(words)
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        nw.alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.when(nw >= 2, F.zip_with(
            F.slice(words, 1, nw - 1), F.slice(words, 2, nw - 1),
            lambda a, b: F.concat_ws(" ", a, b))
        ).otherwise(F.array().cast("array<string>")).alias("bigrams"))
    counts = (base.select("doc_id", F.explode("bigrams").alias("bg"))
              .groupBy("doc_id", "bg")
              .agg(F.count(F.lit(1)).alias("c")))
    rep = counts.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_count"),
        F.sum("c").alias("n_bigrams"),
        F.sum(F.when(F.col("c") > 1, F.col("c"))
              .otherwise(F.lit(0))).alias("dup_bigram_occ"))
    out = base.drop("bigrams").join(rep, "doc_id", "left")
    nb = F.coalesce(F.col("n_bigrams"), F.lit(0))
    return out.select(
        "doc_id", "n_words", "n_distinct_words",
        F.round((F.col("n_words") - F.col("n_distinct_words"))
                / F.col("n_words"), 6).alias("dup_word_frac"),
        F.coalesce(F.col("top_bigram_count"), F.lit(0)).cast("int")
        .alias("top_bigram_count"),
        nb.cast("int").alias("n_bigrams"),
        F.when(nb > 0, F.round(F.coalesce("top_bigram_count", F.lit(0))
                               / nb, 6)).otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(nb > 0, F.round(F.coalesce("dup_bigram_occ", F.lit(0))
                               / nb, 6)).otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"))


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-sensitive polynomial fingerprint of the word sequence
    (rolling hash mod 1e9+7): equal fingerprints == equal word streams
    with high probability; used for cheap shard-level dedup."""
    p = F.lit(1_000_000_007)
    words = F.split(F.col("text"), " ")
    word_val = lambda w: (  # noqa: E731
        F.ascii(F.substring(w, 1, 1)) * 521
        + F.ascii(F.substring(w, 2, 1)) * 31 + F.length(w))
    fp = F.aggregate(words, F.lit(0).cast("long"),
                     lambda acc, w: (acc * 31 + word_val(w)) % p)
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       fp.alias("fingerprint"))


def lang_id(docs: DataFrame) -> DataFrame:
    """Deterministic language-id heuristic: per-language marker-word
    hit counts; argmax with a fixed priority tiebreak.  (Real corpora
    would use char-n-gram models; the *plumbing* — scoring arrays, a
    greatest-of expression tree — is identical.)"""
    markers = {
        "en": ("the", "and", "of", "is"),
        "de": ("der", "die", "und", "ist"),
        "fr": ("le", "la", "et", "est"),
        "es": ("el", "los", "y", "es"),
        "zh": ("de5", "shi4", "le5", "zai4"),
    }
    words = F.split(F.col("text"), " ")
    scores = [
        F.size(F.filter(words, lambda w: w.isin(*ws))).alias(f"s_{lang}")
        for lang, ws in markers.items()
    ]
    d = docs.select(F.col("doc_id").cast("string").alias("doc_id"), *scores)
    best = F.lit("en")
    best_score = F.col("s_en")
    for lang in ("de", "fr", "es", "zh"):
        cond = F.col(f"s_{lang}") > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, F.col(f"s_{lang}")).otherwise(best_score)
    return d.select("doc_id", best.alias("pred_lang"),
                    best_score.alias("marker_hits"))


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact the three bread-and-butter PII shapes a pre-training
    privacy pass removes — email addresses, dotted-quad IPv4
    addresses, and NNN-NNN-NNNN phone numbers — and report per-doc
    match counts alongside the scrubbed text.

    Emails are replaced first so a digits-only domain can never be
    re-matched as an IPv4.  Pure per-row Catalyst ``regexp_count`` /
    ``regexp_replace`` expressions (JVM codegen, no UDF, no shuffle):
    the patterns use only the regex subset Java and RE2 interpret
    identically (char classes, ``\\b``, ``(?:)``, bounded repeats), so
    the DuckDB oracle replays them verbatim."""
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    s1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_ipv4 = F.regexp_count(s1, F.lit(PII_IPV4_RE))
    s2 = F.regexp_replace(s1, PII_IPV4_RE, "<IP>")
    n_phone = F.regexp_count(s2, F.lit(PII_PHONE_RE))
    s3 = F.regexp_replace(s2, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        n_email.cast("int").alias("n_email"),
        n_ipv4.cast("int").alias("n_ipv4"),
        n_phone.cast("int").alias("n_phone"),
        s3.alias("scrubbed"))


# ---------------------------------------------------------------------------
# sequence packing (GPT-style concat-and-chop)
# ---------------------------------------------------------------------------

def _global_token_offsets(toks: DataFrame) -> DataFrame:
    """Each document's absolute token offset in the doc_id-ordered
    concatenation of the corpus — WITHOUT a global unpartitioned
    window.  Deterministic range buckets (one bounded
    TakeOrderedAndProject sample) assign each doc a pid; per-pid token
    totals collect to broadcast base offsets; a local cumsum inside
    each pid partition finishes the scan.  Every stage stays parallel
    (the same two-phase shape as the condensed-offsets query)."""
    spark = toks.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 2)
    ids = sorted(r[0] for r in toks.select("doc_id")
                 .orderBy(F.xxhash64("doc_id"))
                 .limit(nparts * 128).collect())
    step = max(len(ids) // nparts, 1)
    bounds = ids[step::step][:nparts - 1]
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col("doc_id") > F.lit(b)).cast("int")
    sized = (toks.select("doc_id", "n_tok", "tokens")
             .withColumn("pid", pid.cast("int")))
    totals = {r["pid"]: int(r["t"]) for r in
              sized.groupBy("pid").agg(F.sum("n_tok").alias("t"))
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
            ns = pdf["n_tok"].to_numpy(np.int64)
            pids = pdf["pid"].to_numpy()
            out = np.empty(len(pdf), np.int64)
            grp = np.flatnonzero(np.r_[True, pids[1:] != pids[:-1]])
            for s, e in zip(grp.tolist(),
                            np.r_[grp[1:], len(pdf)].tolist()):
                p = int(pids[s])
                base = run.get(p, bases.get(p, 0))
                cs = np.cumsum(ns[s:e])
                out[s:e] = base + cs - ns[s:e]
                run[p] = int(base + cs[-1])
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "tokens": pdf["tokens"],
                                "base": out})

    return (sized.repartition(nparts, "pid")
            .sortWithinPartitions("pid", "doc_id")
            .mapInPandas(scan,
                         schema="doc_id string, tokens array<int>, "
                                "base long"))


def pack_sequence_stats(toks: DataFrame, seq_len: int = 512) -> DataFrame:
    """Training-sequence packing, stats view: documents are
    concatenated in doc_id order and chopped into fixed ``seq_len``
    windows (the packing most LLM training pipelines apply before
    batching); returns per-sequence (seq_id, n_tok, tok_sum,
    tok_first, tok_last).

    Scale shape: the two-phase offset scan never shuffles tokens, and
    the per-sequence aggregate is map-side partial — the exchange
    carries only (partition x sequence) partial rows, never token
    data."""
    ex = (_global_token_offsets(toks)
          .select("base", F.posexplode("tokens").alias("pos", "tok"))
          .withColumn("gpos", F.col("base") + F.col("pos"))
          .withColumn("seq_id",
                      F.floor(F.col("gpos") / seq_len).cast("long")))
    return ex.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tok"),
        F.sum("tok").cast("long").alias("tok_sum"),
        F.min_by("tok", "gpos").alias("tok_first"),
        F.max_by("tok", "gpos").alias("tok_last"))


def pack_sequences(toks: DataFrame, seq_len: int = 512) -> DataFrame:
    """Full packer: emits (seq_id, n_tok, tokens) with every sequence
    exactly ``seq_len`` tokens except the last.  Unlike the stats
    view this SHUFFLES the token stream once (keyed by seq_id) — the
    inherent cost of materializing repacked rows; at corpus scale,
    prefer running it on the encoder's output partitions."""
    ex = (_global_token_offsets(toks)
          .select("base", F.posexplode("tokens").alias("pos", "tok"))
          .withColumn("gpos", F.col("base") + F.col("pos"))
          .withColumn("seq_id",
                      F.floor(F.col("gpos") / seq_len).cast("long")))
    return (ex.groupBy("seq_id")
            .agg(F.sort_array(F.collect_list(
                F.struct("gpos", "tok"))).alias("s"))
            .select("seq_id",
                    F.size("s").cast("int").alias("n_tok"),
                    F.transform("s", lambda x: x["tok"]).alias("tokens")))
