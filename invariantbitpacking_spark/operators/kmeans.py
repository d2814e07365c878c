"""Hamming k-means clustered codec parameters.

Re-expression of ``ibp.preprocess_kmeans`` (reference ibp/__init__.py:
16-17 -> src/preprocess.cu:88-139 -> preproc_kmeans
ibp_preproc_host.cuh:118-284) as an iterative DataFrame job, the
MLlib-KMeans shape (broadcast centroids, assign, re-aggregate) but with
XOR+popcount distance, which MLlib does not offer:

- init: k distinct sample blocks as centroids (the reference uses
  std::random_shuffle, ibp_preproc_host.cuh:176-188; we use a seeded
  numpy choice — divergence in the random stream only, not semantics)
- 10 iterations (ibp_preproc_host.cuh:191-193): assign each block to
  the nearest centroid by Hamming distance (cluster_vecs,
  ibp_preproc_kmeans.cuh:106-150), recompute each centroid bit as the
  cluster majority with integer division (`bits_set > size / 2`,
  construct_bitmasks :219-236); empty clusters collapse to zero
- final: per-cluster (mask, bitval) via the same strict-threshold rule
  (create_mask_many :238-297), sweeping one GLOBAL threshold over the
  float32 grid and keeping the argmax of real gated savings measured
  with per-cluster params (check_feats_many :299-323,
  ibp_preproc_host.cuh:257-268)

Clustering is learned on full blocks (the reference clusters whole
rectangular vectors); ragged tails are assigned at encode time by
prefix Hamming distance.  Encode and decode run over the batch's one
zero-padded block matrix (operators/framing.py): one assignment for
every block, then one ``numpy_ref`` call per cluster, whatever the mix
of tail widths; the padding never reaches the stored bytes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..codecs import numpy_ref as nr
from ..codecs.numpy_ref import popcount32
from . import stages
from ..codecs.lightweight import _scatter_rows
from .framing import (FramedBatch, VEC_SIZE, frame_batch_flat,
                      list_array_flat, unframe_flat)
from .ibp import (_block_table, _doc_sums, _elem_bytes, _flag_bitmaps,
                  _value_kind, binary_array_flat, decoded_batch,
                  decoding_stage, encoded_batch, framed_stage,
                  read_encoded_rows)


def _cluster_counts(df: DataFrame, centroids, tokens_col: str,
                    vec_size: int):
    """Lloyd/statistics pass: assign every full block to its nearest
    centroid; returns per-cluster LSB-first bit-position set counts
    ``[k, vec_size * 32]`` and cluster sizes ``[k]``.  Executors emit
    partial counts plus a pos=-1 cluster-size row per sub-batch."""
    k = centroids.shape[0]

    def counts_of(rb, fb):
        full = fb.full_blocks()
        if full.shape[0] == 0:
            return None
        cl = hamming_assign(full, centroids)
        bits = nr._bits_msb(full)[..., ::-1]  # LSB-first
        outs_c, outs_p, outs_n = [], [], []
        for c in range(k):
            sel = cl == c
            if not sel.any():
                continue
            counts = bits[sel].sum(axis=0, dtype=np.int64).reshape(-1)
            outs_c.append(np.full(counts.size + 1, c, np.int32))
            outs_p.append(np.concatenate(
                [[-1], np.arange(counts.size)]).astype(np.int32))
            outs_n.append(np.concatenate([[int(sel.sum())], counts]))
        if not outs_c:
            return None
        return pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(outs_c), pa.int32()),
             pa.array(np.concatenate(outs_p), pa.int32()),
             pa.array(np.concatenate(outs_n).astype(np.int64), pa.int64())],
            names=["cluster", "pos", "cnt"])

    rows = (stages.apply(df, framed_stage(
        counts_of, "cluster int, pos int, cnt long", tokens_col, 4,
        vec_size))
        .groupBy("cluster", "pos").agg(F.sum("cnt").alias("cnt")).collect())
    counts = np.zeros((k, vec_size * 32), np.int64)
    sizes = np.zeros(k, np.int64)
    for r in rows:
        if r["pos"] == -1:
            sizes[r["cluster"]] = r["cnt"]
        else:
            counts[r["cluster"], r["pos"]] = r["cnt"]
    return counts, sizes


def _frame_sample(rows: DataFrame, tokens_col: str,
                  vec_size: int) -> FramedBatch:
    """Frame a small driver-side sample (the centroid seed pool) through
    the same Arrow-buffer path the executors use."""
    flat, starts, lens = list_array_flat(rows.toArrow()[tokens_col], 4)
    return frame_batch_flat(flat, starts, lens, vec_size)


def _require_int32_kmeans(df: DataFrame, tokens_col: str, op: str) -> None:
    """The clustered codec is 32-bit integer throughout (uint32
    centroids, popcount32 Hamming distance — matching the reference's
    kmeans preprocessing, which only instantiates on 4-byte words,
    ibp_preproc_host.cuh:118-284), and its decoder emits
    ``array<int>``.  Refuse wider elements and float elements (a float
    column would come back as a different type); 64-bit and float input
    go through the pure-IBP path (encode_ibp/decode_ibp)."""
    if (_elem_bytes(df.schema, tokens_col) != 4
            or _value_kind(df.schema, tokens_col) != "int"):
        raise ValueError(
            f"{op}: tokens column must be array<int> — the kmeans codec "
            "clusters 32-bit integer words; use encode_ibp/decode_ibp for "
            "wider or float elements")


@dataclass
class KmeansParams:
    centroids: np.ndarray  # uint32 [k, v]
    masks: np.ndarray      # uint32 [k, v]
    bitvals: np.ndarray    # uint32 [k, v]
    vec_size: int = VEC_SIZE
    threshold: float | None = None
    saved_bits: int = 0

    @property
    def k(self) -> int:
        return self.centroids.shape[0]

    def to_dict(self) -> dict:
        return {
            "vec_size": self.vec_size, "threshold": self.threshold,
            "saved_bits": int(self.saved_bits),
            "centroids": self.centroids.tolist(),
            "masks": self.masks.tolist(), "bitvals": self.bitvals.tolist(),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "KmeansParams":
        return cls(np.array(d["centroids"], np.uint32),
                   np.array(d["masks"], np.uint32),
                   np.array(d["bitvals"], np.uint32),
                   int(d["vec_size"]), d.get("threshold"),
                   int(d.get("saved_bits", 0)))


def hamming_assign(mat: np.ndarray, centroids: np.ndarray,
                   widths=None) -> np.ndarray:
    """argmin_c popcount(row ^ centroid_c) — cluster_vecs
    (ibp_preproc_kmeans.cuh:106-150).  Loops over k (small), whole-batch
    per centroid.  With ``widths``, row i is zero past ``widths[i]`` (a
    framed tail) and is compared on its first ``widths[i]`` columns:
    there ``row ^ c`` is ``c``, so the centroid's own popcount past the
    width comes off the full-row distance."""
    n = mat.shape[0]
    best = np.full(n, np.iinfo(np.int64).max, np.int64)
    out = np.zeros(n, np.int32)
    for c in range(centroids.shape[0]):
        d = popcount32(mat ^ centroids[c][None, :]).sum(axis=1)
        if widths is not None:
            past = np.append(np.cumsum(popcount32(centroids[c])[::-1])[::-1],
                             0)
            d -= past[widths]
        better = d < best
        best[better] = d[better]
        out[better] = c
    return out


def learn_kmeans(df: DataFrame, k: int = 8, iters: int = 10,
                 tokens_col: str = "tokens", vec_size: int = VEC_SIZE,
                 threshold: float | None = None,
                 sample_fraction: float | None = None,
                 seed: int = 42, init: str = "sample") -> KmeansParams:
    """``init`` picks the centroid seeding:

    - ``"sample"`` (default): seeded uniform Bernoulli sample + local
      seeded choice — the distribution-faithful analog of the
      reference's std::random_shuffle (ibp_preproc_host.cuh:176-188).
    - ``"hash"``: the first full block of the k docs with the smallest
      ``md5(doc_id)`` (requires a doc_id column).  Hash order is as
      arbitrary as a shuffle but ENGINE-INDEPENDENT: DuckDB computes
      the identical md5, which lets an oracle replay the entire
      clustering — init, Lloyd iterations, threshold sweep, and sizes
      — in pure SQL.
    """
    _require_int32_kmeans(df, tokens_col, "learn_kmeans")
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    if init == "hash":
        if "doc_id" not in df.columns:
            raise ValueError("init='hash' needs a doc_id column")
        seed_rows = (df.filter(F.size(tokens_col) >= vec_size)
                     .select(tokens_col,
                             F.md5(F.col("doc_id").cast("string"))
                             .alias("h"))
                     .orderBy("h").limit(k).collect())
        if len(seed_rows) < k:
            raise ValueError(
                f"init='hash' found only {len(seed_rows)} docs with a "
                f"full {vec_size}-token block, need {k}")
        centroids = np.stack([
            np.asarray(r[tokens_col][:vec_size], np.int64).astype(np.int32)
            .view(np.uint32) for r in seed_rows])
    # The Lloyd loop makes iters+2 distributed passes; persist the
    # (possibly sampled) projection ONCE so iterations scan cached
    # blocks, not the source table 12 times (the reference iterates over
    # GPU-resident data, ibp_preproc_host.cuh:191-193 — this is the
    # Spark analog of that residency).
    toks = df.select(tokens_col).persist()

    if init != "hash":
        # ---- init: k blocks from a tiny driver-side seeded sample -------
        # Uniform across the table, not a head slice: an ingest-ordered
        # corpus would otherwise seed every centroid from one modality.
        # Deterministic: seeded Bernoulli sample, then ordered by doc_id
        # so the local rng.choice below sees a stable row order (the
        # reference's std::random_shuffle is seeded by srand in the same
        # spirit, ibp_preproc_host.cuh:176-188).
        n_seed_rows = max(4 * k, 64)
        total = df.count()
        frac = min(1.0, 3.0 * n_seed_rows / max(total, 1))
        seed_src = (df.select("doc_id", tokens_col)
                    if "doc_id" in df.columns else df.select(tokens_col))
        if frac < 1.0:
            seed_src = seed_src.sample(fraction=frac, seed=seed)
        if "doc_id" in df.columns:
            seed_src = seed_src.orderBy("doc_id")
        full0 = _frame_sample(seed_src.limit(3 * n_seed_rows), tokens_col,
                              vec_size).full_blocks()
        if full0.shape[0] < k and frac < 1.0:
            # sampling undershot (short docs / binomial variance): retry
            # over the full table before giving up
            retry = (df.select("doc_id", tokens_col).orderBy("doc_id")
                     if "doc_id" in df.columns else df.select(tokens_col))
            full0 = _frame_sample(retry.limit(3 * n_seed_rows), tokens_col,
                                  vec_size).full_blocks()
        if full0.shape[0] < k:
            toks.unpersist()
            raise ValueError(
                f"need >= {k} full blocks to seed {k} centroids")
        rng = np.random.default_rng(seed)
        centroids = full0[rng.choice(full0.shape[0], k, replace=False)]

    # ---- Lloyd iterations (distributed assign + majority re-center) -----
    for _ in range(iters):
        counts, sizes = _cluster_counts(toks, centroids, tokens_col,
                                        vec_size)
        # majority vote with integer division (construct_bitmasks :230)
        weights = (np.uint64(1) << np.arange(32, dtype=np.uint64))
        new = np.zeros((k, vec_size), np.uint32)
        for c in range(k):
            if sizes[c] == 0:
                continue  # empty -> all-zero centroid, like the reference
            bitset = counts[c].reshape(vec_size, 32) > (sizes[c] // 2)
            new[c] = (bitset * weights[None, :]).sum(axis=1).astype(np.uint32)
        centroids = new

    # ---- final per-cluster (mask, bitval): global-threshold sweep -------
    counts, sizes = _cluster_counts(toks, centroids, tokens_col, vec_size)

    grid = [threshold] if threshold is not None else nr.sweep_thresholds()
    cand = []  # per theta: (masks [k,v], bitvals [k,v])
    for t in grid:
        ms = np.zeros((k, vec_size), np.uint32)
        bs = np.zeros((k, vec_size), np.uint32)
        for c in range(k):
            if sizes[c]:
                m, b = nr.create_mask(
                    counts[c].reshape(vec_size, 32), int(sizes[c]), t)
                ms[c], bs[c] = m, b
        cand.append((ms, bs))

    # one distributed pass evaluates savings for every theta
    def evaluator(rb, fb):
        full = fb.full_blocks()
        if full.shape[0] == 0:
            return None
        cl = hamming_assign(full, centroids)
        subs = [(c, full[cl == c]) for c in np.unique(cl)]
        saveds = [sum(nr.check_feats(sub, ms[c], bs[c]) for c, sub in subs)
                  for ms, bs in cand]
        return pa.RecordBatch.from_arrays(
            [pa.array(np.arange(len(grid), dtype=np.int32)),
             pa.array(saveds, pa.int64())],
            names=["ti", "saved"])

    ev = (stages.apply(toks, framed_stage(
        evaluator, "ti int, saved long", tokens_col, 4, vec_size))
        .groupBy("ti").agg(F.sum("saved").alias("saved")).collect())
    toks.unpersist()
    saved_by_t = np.zeros(len(grid), np.int64)
    for r in ev:
        saved_by_t[r["ti"]] = r["saved"]
    best_g, best_saved = 0, 0
    for g in range(len(grid)):
        if saved_by_t[g] > best_saved:
            best_g, best_saved = g, int(saved_by_t[g])
    masks, bitvals = cand[best_g]
    return KmeansParams(centroids, masks, bitvals, vec_size,
                        float(grid[best_g]), best_saved)


# ---------------------------------------------------------------------------
# clustered encode / decode
# ---------------------------------------------------------------------------

ENCODED_KMEANS_SCHEMA = (
    "doc_id string, source string, n_tok int, n_blocks int, "
    "block_sizes array<int>, block_flags binary, block_clusters binary, "
    "payload binary, comp_bytes long, raw_bytes long, codec string"
)


def _encode_kmeans_flat(fb: FramedBatch, cents, masks, bitvals):
    """Clustered encode of one framed batch into flat buffers (the
    kmeans twin of ibp.encode_batch_flat): one Hamming assignment of
    every block, one ``encode_concat`` call per cluster, ONE scatter
    per cluster into the doc-major buffer, ONE packbits for all flag
    bitmaps.  Returns ``(buf, doc_bytes, sizes, clusters, flags_packed,
    flag_nbytes)``."""
    cl = hamming_assign(fb.blocks, cents, fb.widths)
    sizes = np.zeros(cl.size, np.int64)
    is_comp = np.zeros(cl.size, bool)
    parts = []
    for c in np.unique(cl):
        sel = np.flatnonzero(cl == c)
        flat, sizes[sel], is_comp[sel] = nr.encode_concat(
            fb.blocks[sel], masks[c], bitvals[c], fb.widths[sel])
        parts.append((sel, flat))
    offsets = np.cumsum(sizes) - sizes
    buf = np.zeros(int(sizes.sum()), np.uint8)
    for sel, flat in parts:
        _scatter_rows(buf, offsets[sel], flat, sizes[sel])
    return (buf, _doc_sums(sizes, fb.nblocks), sizes, cl.astype(np.uint8),
            *_flag_bitmaps(fb.nblocks, is_comp))


def encode_ibp_kmeans(df: DataFrame, kp: KmeansParams,
                      tokens_col: str = "tokens") -> DataFrame:
    """Per-block cluster assignment + per-cluster (mask, bitval) encode;
    cluster ids stored as one u8 per block (``block_clusters``).

    Runs as one Arrow stage over flat buffers (see
    :func:`_encode_kmeans_flat`) — zero per-document Python."""
    _require_int32_kmeans(df, tokens_col, "encode_ibp_kmeans")
    cents, masks, bitvals = kp.centroids, kp.masks, kp.bitvals

    def encode(rb, fb):
        buf, doc_bytes, sizes, clusters, flags, flag_nb = (
            _encode_kmeans_flat(fb, cents, masks, bitvals))
        return encoded_batch(rb, fb.lens, fb.nblocks, sizes, flags, flag_nb,
                             buf, doc_bytes, "ibp_kmeans", clusters=clusters)

    return stages.apply(df, framed_stage(
        encode, ENCODED_KMEANS_SCHEMA, tokens_col, 4, kp.vec_size,
        reads=("doc_id", tokens_col, "source")))


def _decode_kmeans_flat(lens, sizes, flags_flat, flags_starts,
                        clus_flat, clus_starts, pay_flat, pay_starts,
                        masks, bitvals, v):
    """Flat-native clustered decode (the kmeans twin of
    ibp.decode_docs_flat), one ``decode_concat`` call per cluster —
    per-doc spans addressed through explicit start offsets into shared
    buffers."""
    bt = _block_table(lens, sizes, flags_flat, flags_starts, pay_starts, v)
    clusters = clus_flat[np.repeat(clus_starts, bt.nblocks) + bt.within]
    dec = np.zeros((clusters.size, v), np.uint32)
    for c in np.unique(clusters):
        sel = np.flatnonzero(clusters == c)
        dec[sel] = bt.decode(pay_flat, masks[c], bitvals[c], sel)
    return unframe_flat(bt.lens, dec)


def decode_ibp_kmeans(df: DataFrame, kp: KmeansParams) -> DataFrame:
    """Inverse of :func:`encode_ibp_kmeans`, as one Arrow stage over
    flat buffers — zero per-document Python."""
    masks, bitvals = kp.masks, kp.bitvals

    def decode(rb):
        e = read_encoded_rows(rb)
        clus_flat, clus_starts, _ = binary_array_flat(
            rb.column("block_clusters"))
        tok_flat, _ = _decode_kmeans_flat(
            e.lens, e.sizes(), e.flags, e.flag_starts, clus_flat,
            clus_starts, e.payload, e.pay_starts, masks, bitvals,
            kp.vec_size)
        return decoded_batch(rb, tok_flat, e.lens, np.int32)

    return stages.apply(df, decoding_stage(
        decode, "doc_id string, tokens array<int>, n_tok int, source string",
        "block_clusters"))
