"""Distributed IBP operators: parameter learning, encode, decode.

Spark-first re-expression of the reference's three hot entry points
(SURVEY.md §3):

- :func:`learn_params` == ``ibp.preprocess`` (src/preprocess.cu:17-76):
  one distributed partial+final aggregation for the per-(column, bit)
  histogram (count_bit_kernel, ibp_preproc_kernels.cuh:8-31), a
  driver-side numpy mask construction per threshold
  (create_mask, :34-51), then ONE more distributed pass evaluating all
  swept thresholds simultaneously (check_feats, :54-77) — strictly
  fewer scans than the reference's 1 + |grid| kernel launches.
- :func:`encode_ibp` == ``compress_condensed`` (src/compress.cu:238-313):
  an Arrow-native ``mapInArrow`` projection producing per-document
  binary payloads; no shuffle, no driver collection.
- :func:`decode_ibp` == ``decompress_fetch`` (src/decompress.cu:10-142):
  the inverse projection; gather-by-id variants compose with a plain
  DataFrame join upstream.

Documents are framed into full ``vec_size`` blocks plus one ragged
tail block (see operators/framing.py); tail blocks of width L use
``mask[:L]``/``bitval[:L]``, so rectangular inputs remain bit-identical
to the reference while short documents pay no padding tax.

Codec parameters ride to executors inside the UDF closure (they are
``vec_size`` words — broadcast-variable semantics without the
ceremony).  All hot loops are whole-batch numpy over Arrow data.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, functions as F

from ..codecs import numpy_ref as nr
from .framing import (SIGNED_DT, UNSIGNED_DT, VEC_SIZE, FramedBatch,
                      frame_batch_flat, gather_ranges, list_array_flat,
                      unframe_flat)


def binary_array_flat(arr):
    """Decompose a pyarrow Binary/String array into ``(flat uint8,
    starts, lens)`` numpy views, honoring slices and nulls (null ->
    length 0)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], np.int32)[
        arr.offset: arr.offset + len(arr) + 1].astype(np.int64)
    data = (np.frombuffer(bufs[2], np.uint8)
            if bufs[2] is not None else np.zeros(0, np.uint8))
    starts = offs[:-1]
    lens = offs[1:] - starts
    if arr.null_count:
        nulls = arr.is_null().to_numpy(zero_copy_only=False)
        lens = np.where(nulls, 0, lens)
    return data, starts, lens


def _mass_ranges(lens: np.ndarray, max_tokens: int | None):
    """Sub-batch boundaries [(i0, i1), ...] of one Arrow batch bounded
    by total token mass (``lens`` = per-row token counts, or any per-row
    mass; ``None`` = ``framing.MAX_BATCH_TOKENS``)."""
    from .framing import MAX_BATCH_TOKENS

    if max_tokens is None:
        max_tokens = MAX_BATCH_TOKENS
    n = len(lens)
    if n == 0 or int(lens.sum()) <= max_tokens:
        return [(0, n)]
    bucket = np.cumsum(lens) // max_tokens
    brk = np.flatnonzero(np.diff(bucket)) + 1
    bounds = [0, *brk.tolist(), n]
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)
            if bounds[i] < bounds[i + 1]]


@dataclass
class IbpParams:
    """The learned codec parameters — the reference's (mask, bitval)
    'IR' (SURVEY.md §3.1) plus provenance for lineage records."""

    mask: np.ndarray  # uint32/uint64 [vec_size] (dtype == element width)
    bitval: np.ndarray  # same dtype as mask
    vec_size: int = VEC_SIZE
    threshold: float | None = None
    saved_bits: int = 0
    num_vecs: int = 0
    # 'int' | 'float32' | 'float64': float inputs are encoded as their
    # IEEE bit patterns (same-width integer view) and decoded back to
    # the original float element type — the reference's float-tensor-
    # as-int-words practice (tests/nvcomp_comparison.py:39)
    value_kind: str = "int"

    @property
    def item_bytes(self) -> int:
        """Element width in bytes (the reference's dtype dispatch,
        src/preprocess.cu:56-72 / src/compress.cu:192: 4- or 8-byte
        words in the distributed path)."""
        return self.mask.dtype.itemsize

    def to_dict(self) -> dict:
        return {
            "vec_size": self.vec_size,
            "threshold": self.threshold,
            "saved_bits": int(self.saved_bits),
            "num_vecs": int(self.num_vecs),
            "item_bytes": self.item_bytes,
            "value_kind": self.value_kind,
            "mask": self.mask.tolist(),
            "bitval": self.bitval.tolist(),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "IbpParams":
        from .framing import UNSIGNED_DT

        dt = UNSIGNED_DT[int(d.get("item_bytes", 4))]
        return cls(
            mask=np.array(d["mask"], dt),
            bitval=np.array(d["bitval"], dt),
            vec_size=int(d["vec_size"]),
            threshold=d.get("threshold"),
            saved_bits=int(d.get("saved_bits", 0)),
            num_vecs=int(d.get("num_vecs", 0)),
            value_kind=d.get("value_kind", "int"),
        )


def _elem_bytes(df: DataFrame, tokens_col: str) -> int:
    """Element width from the Spark schema: 1 for array<tinyint>, 2 for
    array<smallint>, 4 for array<int> OR array<float>, 8 for
    array<bigint> OR array<double> — the full reference element-size
    dispatch (src/preprocess.cu:25-26, 56-72 instantiates
    int8/int16/int32/ull; the float widths cover its practice of
    viewing float tensors as integer words,
    tests/nvcomp_comparison.py:39 / tests/invariance_perc.py:112)."""
    from pyspark.sql.types import (ArrayType, ByteType, DoubleType,
                                   LongType, ShortType)

    dt = df.schema[tokens_col].dataType
    if isinstance(dt, ArrayType):
        if isinstance(dt.elementType, ByteType):
            return 1
        if isinstance(dt.elementType, ShortType):
            return 2
        if isinstance(dt.elementType, (LongType, DoubleType)):
            return 8
    return 4


def _value_kind(df: DataFrame, tokens_col: str) -> str:
    """'float32' / 'float64' for float element types (encoded via IEEE
    bit view, decoded back to the same float type), 'int' otherwise."""
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    dt = df.schema[tokens_col].dataType
    if isinstance(dt, ArrayType):
        if isinstance(dt.elementType, FloatType):
            return "float32"
        if isinstance(dt.elementType, DoubleType):
            return "float64"
    return "int"


# ---------------------------------------------------------------------------
# learn_params (preprocess)
# ---------------------------------------------------------------------------

def _batch_counts(fb: FramedBatch, vec_size: int, word_bits: int = 32):
    """Set-bit counts [v, W] + per-column block coverage [v]."""
    counts = np.zeros((vec_size, word_bits), np.int64)
    cov = np.zeros(vec_size, np.int64)
    if fb.full_mat.shape[0]:
        counts += nr.count_bits(fb.full_mat)
        cov += fb.full_mat.shape[0]
    for L, (mat, _) in fb.tails.items():
        counts[:L] += nr.count_bits(mat)
        cov[:L] += mat.shape[0]
    return counts, cov


def bit_count_df(df: DataFrame, tokens_col: str = "tokens",
                 vec_size: int = VEC_SIZE) -> DataFrame:
    """Distributed per-(column, bit) set-count histogram as a DataFrame
    ``(pos int, cnt long)``: ``pos = col * 32 + bit`` (LSB-first bit
    index) for set counts, plus ``pos = vec_size*32 + col`` rows
    carrying per-column block coverage (how many blocks include that
    column — needed because ragged tails cover a prefix of columns),
    and a sentinel ``pos = -1`` with the total block count.  Partial
    sums per Arrow batch + a small-key final ``groupBy`` = the exact
    partial/final shape of count_bit_kernel's shmem-then-atomicAdd
    scheme (ibp_preproc_kernels.cuh:8-31).  The word width W follows the
    input element type (32 for array<int>, 64 for array<bigint> —
    src/preprocess.cu:56-72 dtype dispatch)."""
    import pyarrow as pa

    ib = _elem_bytes(df, tokens_col)
    w = ib * 8

    def counter(batches) -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            flat, starts, lens = list_array_flat(rb.column(0), ib)
            for i0, i1 in _mass_ranges(lens, None):
                fb = frame_batch_flat(flat, starts[i0:i1], lens[i0:i1],
                                      vec_size)
                counts, cov = _batch_counts(fb, vec_size, w)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(
                        [[-1], np.arange(vec_size * w + vec_size)]
                    ).astype(np.int32), pa.int32()),
                     pa.array(np.concatenate(
                        [[int(fb.nblocks.sum())], counts.reshape(-1), cov]
                     ).astype(np.int64), pa.int64())],
                    names=["pos", "cnt"])

    partial = df.select(tokens_col).mapInArrow(counter, schema="pos int, cnt long")
    return partial.groupBy("pos").agg(F.sum("cnt").alias("cnt"))


def _gated_savings(mat: np.ndarray, mask: np.ndarray, bitval: np.ndarray,
                   mask_popc: np.ndarray) -> int:
    """check_feats semantics (ibp_preproc_kernels.cuh:54-77): per-block
    savings count only when strictly above the block's header bits.

    The weighted row-sum rides a float32 BLAS matvec: per-block sums of
    <= v terms each <= W fit far inside float32's exact-integer range
    (2^24), so the result is EXACT while skipping the int64 [n, v]
    product the broadcast multiply used to materialize — the evaluator
    runs this once per grid threshold, so its traffic dominates the
    learn pass."""
    L = mat.shape[1]
    pred = (mat & mask[None, :L]) == bitval[None, :L]
    if int(mask_popc[:L].sum()) < (1 << 24):
        per_vec = (pred.astype(np.float32) @
                   mask_popc[:L].astype(np.float32)).astype(np.int64)
    else:
        # sum(popcount) can exceed float32's exact-integer range only
        # for an enormous configured vec_size — take the exact path
        per_vec = pred @ mask_popc[:L].astype(np.int64)
    return int(np.where(per_vec > L, per_vec - L, 0).sum())


def learn_params(df: DataFrame, tokens_col: str = "tokens",
                 vec_size: int = VEC_SIZE, threshold: float | None = None,
                 sample_fraction: float | None = None,
                 eval_sample_fraction: float | None = None,
                 seed: int = 42) -> IbpParams:
    """Learn (mask, bitval) over the whole table (or a sample — the
    reference's sens_sweep fits on a prefix sample, tests/sens_sweep.py:
    20-24; ``df.sample`` is the distribution-safe analog).

    ``eval_sample_fraction`` samples ONLY the θ-selection evaluation
    pass while the bit-count pass stays exact: the candidate
    (mask, bitval) per θ are then identical to the full run and the
    sample merely votes on which θ wins — a far gentler approximation
    than sampling the counts, and the cheap way to cut the evaluator
    (the |grid|-way gated-savings scan) on large corpora."""
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    eval_df = df
    if eval_sample_fraction is not None and eval_sample_fraction < 1.0:
        eval_df = df.sample(fraction=eval_sample_fraction, seed=seed + 1)
    ib = _elem_bytes(df, tokens_col)
    w = ib * 8
    udt = UNSIGNED_DT[ib]

    rows = bit_count_df(df, tokens_col, vec_size).collect()
    counts = np.zeros(vec_size * w, np.int64)
    cov = np.zeros(vec_size, np.int64)
    num_vecs = 0
    for r in rows:
        if r["pos"] == -1:
            num_vecs = int(r["cnt"])
        elif r["pos"] >= vec_size * w:
            cov[r["pos"] - vec_size * w] = r["cnt"]
        else:
            counts[r["pos"]] = r["cnt"]
    counts = counts.reshape(vec_size, w)
    if num_vecs == 0:
        z = np.zeros(vec_size, udt)
        return IbpParams(z, z.copy(), vec_size, None, 0, 0)

    grid = [threshold] if threshold is not None else nr.sweep_thresholds()
    cands = [nr.create_mask(counts, cov, t) for t in grid]
    masks = np.stack([m for m, _ in cands])        # [G, v]
    bitvals = np.stack([b for _, b in cands])      # [G, v]
    mask_popc = np.stack([nr._popcount(m) for m in masks])  # [G, v]

    # Single evaluation pass for ALL thresholds: per batch, per-block
    # gated savings (ibp_preproc_kernels.cuh:69-72) summed per candidate.
    def evaluator(batches):
        import pyarrow as pa

        for rb in batches:
            flat, starts, lens = list_array_flat(rb.column(0), ib)
            for i0, i1 in _mass_ranges(lens, None):
                fb = frame_batch_flat(flat, starts[i0:i1], lens[i0:i1],
                                      vec_size)
                saveds = np.zeros(len(grid), np.int64)
                for g in range(len(grid)):
                    if fb.full_mat.shape[0]:
                        saveds[g] += _gated_savings(
                            fb.full_mat, masks[g], bitvals[g], mask_popc[g])
                    for L, (mat, _) in fb.tails.items():
                        saveds[g] += _gated_savings(
                            mat, masks[g], bitvals[g], mask_popc[g])
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.arange(len(grid), dtype=np.int32)),
                     pa.array(saveds, pa.int64())],
                    names=["ti", "saved"])

    ev = (
        eval_df.select(tokens_col)
        .mapInArrow(evaluator, schema="ti int, saved long")
        .groupBy("ti").agg(F.sum("saved").alias("saved"))
        .collect()
    )
    saved_by_t = np.zeros(len(grid), np.int64)
    for r in ev:
        saved_by_t[r["ti"]] = r["saved"]

    # strict improvement, earlier threshold wins ties
    # (ibp_preproc_host.cuh:92-95)
    best_g, best_saved = None, 0
    for g in range(len(grid)):
        if saved_by_t[g] > best_saved:
            best_g, best_saved = g, int(saved_by_t[g])
    vk = _value_kind(df, tokens_col)
    if best_g is None:
        z = np.zeros(vec_size, udt)
        return IbpParams(z, z.copy(), vec_size, None, 0, num_vecs,
                         value_kind=vk)
    if eval_sample_fraction is not None and eval_sample_fraction < 1.0:
        # saved_bits is lineage provenance; scale the sampled sum back
        # to a corpus-level estimate
        best_saved = int(best_saved / eval_sample_fraction)
    return IbpParams(masks[best_g].copy(), bitvals[best_g].copy(), vec_size,
                     float(grid[best_g]), best_saved, num_vecs,
                     value_kind=vk)


# ---------------------------------------------------------------------------
# encode / decode
# ---------------------------------------------------------------------------

ENCODED_SCHEMA = (
    "doc_id string, source string, n_tok int, n_blocks int, "
    "block_sizes array<int>, block_flags binary, payload binary, "
    "comp_bytes long, raw_bytes long, codec string"
)


def encode_batch_flat(fb: FramedBatch, mask: np.ndarray, bitval: np.ndarray):
    """Encode one framed batch into ONE doc-major buffer (no per-doc
    Python in the byte assembly — every phase is a vectorized scatter).

    Returns ``(buf, doc_bytes, sizes, flags_packed, flag_nbytes)``:
    ``buf`` uint8 holds every doc's blocks back-to-back doc-major,
    ``doc_bytes`` int64[ndocs] each doc's payload span in ``buf``,
    ``sizes`` int64[sum(nblocks)] the flat doc-major per-block byte
    sizes, ``flags_packed`` uint8 the per-doc byte-padded LSB-first
    compressed bitmaps back-to-back, ``flag_nbytes`` int64[ndocs] each
    doc's bitmap width in ``flags_packed``."""
    from ..codecs.lightweight import _scatter_rows

    ndocs = len(fb.lens)
    nb_tot = int(fb.nblocks.sum())
    blk_start = np.cumsum(fb.nblocks) - fb.nblocks
    sizes = np.zeros(nb_tot, np.int64)
    is_comp = np.zeros(nb_tot, bool)
    pending: list[tuple] = []  # (global block ids, group blob, sizes)
    if fb.full_mat.shape[0]:
        flat_full, sizes_full, comp_full = nr.encode_concat(
            fb.full_mat, mask, bitval)
        doc_of_full = np.repeat(np.arange(ndocs), fb.nfull)
        within = (np.arange(fb.full_mat.shape[0])
                  - np.repeat(np.cumsum(fb.nfull) - fb.nfull, fb.nfull))
        gidx = blk_start[doc_of_full] + within
        sizes[gidx] = sizes_full
        is_comp[gidx] = comp_full
        pending.append((gidx, flat_full, sizes_full))
    for L, (mat, docs) in fb.tails.items():
        tflat, tsizes, tcomp = nr.encode_concat(mat, mask[:L], bitval[:L])
        gidx = blk_start[docs] + fb.nblocks[docs] - 1
        sizes[gidx] = tsizes
        is_comp[gidx] = tcomp
        pending.append((gidx, tflat, tsizes))
    offsets = np.cumsum(sizes) - sizes
    buf = np.zeros(int(sizes.sum()), np.uint8)
    for gidx, flat, sz in pending:
        _scatter_rows(buf, offsets[gidx], flat, sz)
    # blocks are doc-major, so each doc's payload is one contiguous span
    doc_bytes = np.add.reduceat(
        np.append(sizes, 0), np.minimum(blk_start, nb_tot)) * (fb.nblocks > 0)
    # per-doc byte-padded flag bitmaps packed in ONE packbits call
    flag_bits = ((fb.nblocks + 7) // 8) * 8
    fbit_start = np.cumsum(flag_bits) - flag_bits
    bigbits = np.zeros(int(flag_bits.sum()), np.uint8)
    if nb_tot:
        within_all = np.arange(nb_tot) - np.repeat(blk_start, fb.nblocks)
        bigbits[np.repeat(fbit_start, fb.nblocks) + within_all] = is_comp
    flags_packed = np.packbits(bigbits, bitorder="little")
    return buf, doc_bytes.astype(np.int64), sizes, flags_packed, flag_bits // 8


def encode_ibp(df: DataFrame, params: IbpParams,
               tokens_col: str = "tokens",
               max_batch_tokens: int | None = None) -> DataFrame:
    """Encode the tokens table into per-document condensed blobs.

    Output row = one document: ``payload`` holds its blocks'
    back-to-back blobs (full blocks then the ragged tail),
    ``block_sizes`` their byte sizes, ``block_flags`` the per-block
    compressed bitmap (LSB-first — the reference's ``bitmask`` int32
    array, src/compress.cu:214-215).  A pure narrow projection.
    Element width follows ``params.mask.dtype`` (4- or 8-byte words,
    src/compress.cu:192).

    Runs as ``mapInArrow``: tokens arrive as one Arrow values buffer +
    offsets (no pandas conversion, no per-doc array objects), and every
    output column is built from one flat numpy buffer + offsets — the
    whole encode is zero per-document Python."""
    import pyarrow as pa

    mask, bitval, v = params.mask, params.bitval, params.vec_size
    ib = params.item_bytes

    def encoder(batches) -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            flat, starts, lens = list_array_flat(
                rb.column(rb.schema.names.index(tokens_col)), ib)
            for i0, i1 in _mass_ranges(lens, max_batch_tokens):
                fb = frame_batch_flat(flat, starts[i0:i1], lens[i0:i1], v)
                buf, doc_bytes, sizes, flags_packed, flag_nbytes = (
                    encode_batch_flat(fb, mask, bitval))
                n = i1 - i0
                pay_off = np.zeros(n + 1, np.int32)
                np.cumsum(doc_bytes, out=pay_off[1:])
                payload = pa.BinaryArray.from_buffers(
                    pa.binary(), n,
                    [None, pa.py_buffer(pay_off), pa.py_buffer(buf)])
                blk_off = np.zeros(n + 1, np.int32)
                np.cumsum(fb.nblocks, out=blk_off[1:])
                block_sizes = pa.ListArray.from_arrays(
                    pa.array(blk_off, pa.int32()),
                    pa.array(sizes.astype(np.int32), pa.int32()))
                flg_off = np.zeros(n + 1, np.int32)
                np.cumsum(flag_nbytes, out=flg_off[1:])
                block_flags = pa.BinaryArray.from_buffers(
                    pa.binary(), n,
                    [None, pa.py_buffer(flg_off), pa.py_buffer(flags_packed)])
                yield pa.RecordBatch.from_arrays(
                    [rb.column(rb.schema.names.index("doc_id")).slice(i0, n),
                     rb.column(rb.schema.names.index("source")).slice(i0, n),
                     pa.array(fb.lens.astype(np.int32), pa.int32()),
                     pa.array(fb.nblocks.astype(np.int32), pa.int32()),
                     block_sizes, block_flags, payload,
                     pa.array(doc_bytes, pa.int64()),
                     pa.array(fb.lens * ib, pa.int64()),
                     pa.array(np.full(n, "ibp", object))],
                    names=["doc_id", "source", "n_tok", "n_blocks",
                           "block_sizes", "block_flags", "payload",
                           "comp_bytes", "raw_bytes", "codec"])

    cols = ["doc_id", tokens_col, "source"]
    return df.select(*cols).mapInArrow(encoder, schema=ENCODED_SCHEMA)


def sizes_ibp(df: DataFrame, params: IbpParams,
              tokens_col: str = "tokens",
              max_batch_tokens: int | None = None) -> DataFrame:
    """Per-document IBP compressed size WITHOUT encoding — the
    DataFrame face of :func:`predict_sizes_ibp` (the reference's
    get_compress_size operator, src/compress.cu:25-174).  One predicate
    pass over the framed tokens: no payload assembly, no flag packing,
    no output buffers — for size-only consumers (offset scans, planning)
    this costs a fraction of a full :func:`encode_ibp` evaluation."""
    import pyarrow as pa

    mask, bitval, v = params.mask, params.bitval, params.vec_size
    ib = params.item_bytes

    def sizer(batches) -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            flat, starts, lens = list_array_flat(
                rb.column(rb.schema.names.index(tokens_col)), ib)
            for i0, i1 in _mass_ranges(lens, max_batch_tokens):
                fb = frame_batch_flat(flat, starts[i0:i1], lens[i0:i1], v)
                sizes = predict_sizes_ibp(fb, mask, bitval)
                n = i1 - i0
                yield pa.RecordBatch.from_arrays(
                    [rb.column(rb.schema.names.index("doc_id")).slice(i0, n),
                     pa.array(fb.lens.astype(np.int32), pa.int32()),
                     pa.array(sizes, pa.int64())],
                    names=["doc_id", "n_tok", "comp_bytes"])

    return (df.select("doc_id", tokens_col)
            .mapInArrow(sizer,
                        schema="doc_id string, n_tok int, comp_bytes long"))


def decode_docs_flat(lens: np.ndarray, sizes: np.ndarray,
                     flags_flat: np.ndarray, flags_starts: np.ndarray,
                     pay_flat: np.ndarray, pay_starts: np.ndarray,
                     mask: np.ndarray, bitval: np.ndarray, v: int):
    """Decode a batch of encoded documents — the vectorized inverse of
    :func:`encode_batch_flat`.  Per-doc payload/flag spans are
    addressed through explicit start offsets into shared buffers — no
    joins, no per-doc bytes objects.  Returns ``(tok_flat,
    tok_starts)`` in the ListArray layout."""
    sdt = SIGNED_DT[mask.dtype.itemsize]
    ndocs = len(lens)
    lens = np.asarray(lens, np.int64)
    nfull = lens // v
    tail_len = lens % v
    nblocks = nfull + (tail_len > 0)
    nb_tot = int(nblocks.sum())
    if ndocs == 0 or nb_tot == 0:
        return np.zeros(0, sdt), np.zeros(ndocs, np.int64)
    sizes = np.asarray(sizes, np.int64)
    blk_start = np.cumsum(nblocks) - nblocks
    # byte offset of each block = its doc's payload base + the local
    # exclusive cumsum of its doc's block sizes
    # zero-block docs have blk_start == nb_tot; pad so indexing stays
    # in bounds (their repeat count is 0, the value never used)
    exc = np.append(np.cumsum(sizes) - sizes, 0)
    local = exc[:-1] - np.repeat(exc[np.minimum(blk_start, nb_tot)], nblocks)
    offsets = np.repeat(pay_starts, nblocks) + local
    within = np.arange(nb_tot, dtype=np.int64) - np.repeat(blk_start, nblocks)
    fbyte = np.repeat(flags_starts, nblocks) + (within >> 3)
    is_comp = ((flags_flat[fbyte].astype(np.int64) >> (within & 7)) & 1
               ).astype(bool)
    doc_of_block = np.repeat(np.arange(ndocs), nblocks)
    is_tail = (tail_len[doc_of_block] > 0) & (
        within == (nblocks[doc_of_block] - 1))

    fsel = ~is_tail
    fbuf = gather_ranges(pay_flat, offsets[fsel], sizes[fsel])
    full_dec = nr.decode_concat(
        fbuf, sizes[fsel], is_comp[fsel], v, mask, bitval)

    tail_dec: dict[int, np.ndarray] = {}
    tails: dict[int, tuple] = {}
    tsel = np.flatnonzero(is_tail)
    if tsel.size:
        widths = tail_len[doc_of_block[tsel]]
        order = np.argsort(widths, kind="stable")
        tsel, widths = tsel[order], widths[order]
        uniq, gs = np.unique(widths, return_index=True)
        ge = np.append(gs[1:], widths.size)
        for L, s, e in zip(uniq, gs, ge):
            L = int(L)
            sel = tsel[s:e]
            buf = gather_ranges(pay_flat, offsets[sel], sizes[sel])
            tail_dec[L] = nr.decode_concat(
                buf, sizes[sel], is_comp[sel], L, mask[:L], bitval[:L])
            tails[L] = (None, doc_of_block[sel])

    fb = FramedBatch(lens, nfull, tail_len, nblocks, full_dec, tails, v)
    return unframe_flat(fb, full_dec, tail_dec)


def predict_sizes_ibp(fb: FramedBatch, mask: np.ndarray,
                      bitval: np.ndarray) -> np.ndarray:
    """Per-document IBP compressed size WITHOUT encoding (the
    get_compress_size operator, src/compress.cu:25-174) — one predicate
    pass over the framed batch."""
    ndocs = len(fb.lens)
    out = np.zeros(ndocs, np.int64)
    if fb.full_mat.shape[0]:
        s = nr.comp_sizes_matrix(fb.full_mat, mask, bitval)
        doc_of_full = np.repeat(np.arange(ndocs), fb.nfull)
        out += np.bincount(doc_of_full, weights=s,
                           minlength=ndocs).astype(np.int64)
    for L, (mat, docs) in fb.tails.items():
        out[docs] += nr.comp_sizes_matrix(mat, mask[:L], bitval[:L])
    return out


def decode_ibp(df: DataFrame, params: IbpParams,
               max_batch_tokens: int | None = None) -> DataFrame:
    """Decode an encoded table back to ``(doc_id, tokens, n_tok,
    source)`` — per-row inverse, bit-identical token arrays.  The
    tokens element type follows ``params.item_bytes`` (tinyint /
    smallint / int / bigint).

    Runs as ``mapInArrow``: payload/flag/size columns are consumed as
    shared Arrow buffers with per-doc offsets, and the decoded tokens
    column is emitted as ONE values buffer + offsets — zero
    per-document Python end to end."""
    import pyarrow as pa

    mask, bitval, v = params.mask, params.bitval, params.vec_size
    pa_elem = {1: pa.int8(), 2: pa.int16(), 4: pa.int32(),
               8: pa.int64()}[params.item_bytes]
    np_out = None
    if params.value_kind == "float32":
        pa_elem, np_out = pa.float32(), np.float32
    elif params.value_kind == "float64":
        pa_elem, np_out = pa.float64(), np.float64

    def decoder(batches) -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            names = rb.schema.names
            n_tok_all = rb.column(names.index("n_tok")).to_numpy(
                zero_copy_only=False).astype(np.int64)
            for i0, i1 in _mass_ranges(n_tok_all, max_batch_tokens):
                n = i1 - i0
                sl = rb.slice(i0, n)
                lens = n_tok_all[i0:i1]
                bs_vals, bs_starts, bs_lens = list_array_flat(
                    sl.column(names.index("block_sizes")), 4)
                sizes = gather_ranges(bs_vals, bs_starts, bs_lens)
                flags_flat, flags_starts, _ = binary_array_flat(
                    sl.column(names.index("block_flags")))
                pay_flat, pay_starts, _ = binary_array_flat(
                    sl.column(names.index("payload")))
                tok_flat, tok_starts = decode_docs_flat(
                    lens, sizes, flags_flat, flags_starts,
                    pay_flat, pay_starts, mask, bitval, v)
                tok_off = np.zeros(n + 1, np.int32)
                np.cumsum(lens, out=tok_off[1:])
                if np_out is not None:  # float bit view back
                    tok_flat = tok_flat.view(np_out)
                tokens = pa.ListArray.from_arrays(
                    pa.array(tok_off, pa.int32()),
                    pa.array(tok_flat, pa_elem))
                yield pa.RecordBatch.from_arrays(
                    [sl.column(names.index("doc_id")),
                     tokens,
                     pa.array(lens.astype(np.int32), pa.int32()),
                     sl.column(names.index("source"))],
                    names=["doc_id", "tokens", "n_tok", "source"])

    elem = {1: "tinyint", 2: "smallint", 4: "int", 8: "bigint"}[params.item_bytes]
    if params.value_kind == "float32":
        elem = "float"
    elif params.value_kind == "float64":
        elem = "double"
    schema = f"doc_id string, tokens array<{elem}>, n_tok int, source string"
    return df.select("doc_id", "n_blocks", "block_sizes", "block_flags",
                     "payload", "n_tok", "source").mapInArrow(decoder, schema=schema)
