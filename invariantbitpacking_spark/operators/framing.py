"""Framing of variable-length token sequences into codec blocks.

The reference codec operates on rectangular [num_vecs x vec_size]
matrices (src/preprocess.cu:23).  Our input rows are variable-length
``tokens array<int32>``, so each document is split into
``n_tok // vec_size`` FULL blocks of ``vec_size`` tokens plus (when
``n_tok % vec_size != 0``) one ragged TAIL block of width
``L = n_tok % vec_size``, stored exactly as the reference would encode
the width-L vector under ``mask[:L]``/``bitval[:L]``.

Ragged tails instead of zero-padding in the STORED format: padding a
60-token document out to 128 would *grow* its compressed size past its
raw size (the pad zeros still cost their residual bits), which at
corpus scale wastes 10-50% on short documents.  On rectangular inputs
(every reference test vector) framing is the identity and the byte
streams stay bit-identical to the reference.

Padding is a COMPUTE layout only: a framed batch is one doc-major
``[blocks, vec_size]`` matrix whose tails are zero-padded, plus each
block's width.  Every kernel takes the widths (``numpy_ref``'s
``widths=``) and reads no column past a block's width, so one call
covers the whole batch whatever its mix of tail widths, and the bytes
are those of the width-L encode.  The padding costs at most
``vec_size - 1`` elements per document of a batch.

All framing is whole-batch vectorized numpy.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VEC_SIZE = 128

# Spark caps Arrow batches by ROW count
# (spark.sql.execution.arrow.maxRecordsPerBatch) but not by bytes, so
# every token stage sub-batches by token mass (``stages.Stage``) to keep
# a batch of long documents from materializing multi-GB framing
# buffers.  Read when a stage is built.
MAX_BATCH_TOKENS = 16_000_000  # ~64 MB of int32 per UDF sub-batch


def gather_ranges(flat: np.ndarray, starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenate flat[starts[i] : starts[i]+lengths[i]] for all i —
    variable-length gather.

    Adaptive: tiny ranges use one vectorized index build (a cumsum over
    per-position deltas: ones within a range, a jump at each boundary —
    per-range Python would dominate); large ranges use a per-range
    slice-copy loop, where each iteration is a pure C memcpy and the
    vectorized path's int64 index arrays would move ~8-40x the payload
    bytes in index traffic."""
    lengths = np.asarray(lengths, np.int64)
    starts = np.asarray(starts, np.int64)
    total = int(lengths.sum())
    if total == 0:
        return flat[:0]
    nz = lengths > 0
    if not nz.all():
        starts, lengths = starts[nz], lengths[nz]
    # coalesce adjacent ranges (flat[s:s+n] runs merge when contiguous)
    if len(lengths) > 1:
        brk = np.ones(len(lengths), bool)
        brk[1:] = starts[1:] != starts[:-1] + lengths[:-1]
        if not brk.all():
            bidx = np.flatnonzero(brk)
            starts = starts[bidx]
            lengths = np.add.reduceat(lengths, bidx)
    if total * flat.dtype.itemsize >= len(lengths) * 1024:
        out = np.empty(total, flat.dtype)
        out_pos = np.cumsum(lengths) - lengths
        for d, s, n in zip(out_pos.tolist(), starts.tolist(),
                           lengths.tolist()):
            out[d:d + n] = flat[s:s + n]
        return out
    out_pos = np.cumsum(lengths) - lengths
    idx = np.ones(total, np.int64)
    idx[0] = starts[0]
    if len(starts) > 1:
        idx[out_pos[1:]] = starts[1:] - (starts[:-1] + lengths[:-1]) + 1
    return flat[np.cumsum(idx)]


@dataclass
class FramedBatch:
    """Blocks of one Arrow batch of documents, doc-major order."""

    lens: np.ndarray       # int64[ndocs] token counts
    nblocks: np.ndarray    # int64[ndocs] blocks per doc
    blocks: np.ndarray     # uint [sum(nblocks), vec_size], tails zero-padded
    widths: np.ndarray     # int64[sum(nblocks)]: vec_size, or L for a tail
    vec_size: int

    def full_blocks(self) -> np.ndarray:
        """The full-width blocks, in doc order."""
        return self.blocks[self.widths == self.vec_size]


def block_layout(lens: np.ndarray, vec_size: int):
    """``(nblocks, blk_start, widths)`` of documents of ``lens`` tokens:
    per-doc block counts and first-block ids, and every block's width
    (``vec_size``, or ``L`` for a doc's ragged last block)."""
    lens = np.asarray(lens, np.int64)
    nblocks = -(-lens // vec_size)
    blk_start = np.cumsum(nblocks) - nblocks
    widths = np.full(int(nblocks.sum()), vec_size, np.int64)
    tail = lens % vec_size
    tdocs = np.flatnonzero(tail)
    widths[blk_start[tdocs] + nblocks[tdocs] - 1] = tail[tdocs]
    return nblocks, blk_start, widths


SIGNED_DT = {1: np.int8, 2: np.int16, 4: np.int32, 8: np.int64}
UNSIGNED_DT = {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.uint64}


def frame_batch_flat(tok_flat: np.ndarray, starts: np.ndarray,
                     lens: np.ndarray,
                     vec_size: int = VEC_SIZE) -> FramedBatch:
    """Frame documents given directly as (flat values, per-doc starts,
    per-doc lengths) — the Arrow ListArray layout (``values`` buffer +
    ``offsets``), so ``mapInArrow`` paths frame with ZERO per-document
    Python: no list of arrays, no concatenate.  ``starts`` need not be
    contiguous (null docs carry len 0 and any start).

    The element width follows ``tok_flat.dtype`` — 1/2/4/8 bytes, the
    full reference preprocess dtype dispatch (src/preprocess.cu:25-26,
    56-72; compress adds the 4/8-byte pair, src/compress.cu:192).
    The block matrix comes out as the same-width unsigned dtype; the
    numpy codec layer is dtype-generic.  Doc d's tokens land at flat
    position ``blk_start[d] * vec_size`` of it."""
    from ..codecs.lightweight import _scatter_rows

    sdt = SIGNED_DT[tok_flat.dtype.itemsize]
    tok_flat = tok_flat.view(sdt)
    lens = np.asarray(lens, np.int64)
    nblocks, blk_start, widths = block_layout(lens, vec_size)
    blocks = np.zeros(widths.size * vec_size, sdt)
    _scatter_rows(blocks, blk_start * vec_size,
                  gather_ranges(tok_flat, starts, lens), lens)
    blocks = blocks.reshape(-1, vec_size).view(
        UNSIGNED_DT[tok_flat.dtype.itemsize])
    return FramedBatch(lens, nblocks, blocks, widths, vec_size)


def list_array_flat(col, itemsize: int = 4):
    """Decompose a pyarrow ListArray (or ChunkedArray with one chunk)
    into ``(values uint8-view flat, starts, lens)`` numpy views — the
    zero-copy input contract of :func:`frame_batch_flat`.  Null entries
    become length-0 documents.  Handles sliced arrays (offsets reflect
    the slice window; values stay the full child buffer)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    starts = offsets[:-1]
    lens = offsets[1:] - starts
    if col.null_count:
        nulls = col.is_null().to_numpy(zero_copy_only=False)
        lens = np.where(nulls, 0, lens)
    sdt = SIGNED_DT[itemsize]
    values_arr = col.values
    if values_arr.null_count:
        # Null ELEMENTS in the child buffer make to_numpy fall back to
        # float64+NaN, and viewing that as int silently corrupts every
        # token after the first null.  A null inside a live document
        # window is real (Spark allows array<int> element nulls) but
        # meaningless to a token codec -> fail loudly.  Nulls outside
        # every window (slice artifacts) are zero-filled and harmless.
        null_pos = np.flatnonzero(
            values_arr.is_null().to_numpy(zero_copy_only=False))
        if null_pos.size and starts.size:
            doc = np.searchsorted(starts, null_pos, "right") - 1
            doc = np.maximum(doc, 0)
            if ((null_pos >= starts[doc]) &
                    (null_pos < starts[doc] + lens[doc])).any():
                raise ValueError(
                    "tokens arrays contain null elements; null-free "
                    "array<int> input is required for encoding")
        values_arr = values_arr.fill_null(0)
    values = values_arr.to_numpy(zero_copy_only=False)
    if values.dtype.kind == "f" and values.dtype.itemsize == itemsize:
        # float feature columns (array<float>/array<double> — the
        # reference's DLRM-embedding / KV-cache workloads view float
        # tensors as int words, tests/nvcomp_comparison.py:39,
        # tests/invariance_perc.py:112): reinterpret the IEEE bits as
        # same-width integers.  Zero-copy view; the codec layer is
        # bit-pattern-generic, and the decode side views back.
        values = values.view(sdt)
    if values.dtype.kind not in "iu" or values.dtype.itemsize != itemsize:
        raise ValueError(
            f"token values decoded to {values.dtype}, expected a "
            f"{itemsize}-byte integer or float dtype")
    return np.ascontiguousarray(values).view(sdt), starts, lens


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


def unframe_flat(lens: np.ndarray, dec: np.ndarray):
    """Rebuild a batch's decoded ``[blocks, vec_size]`` matrix (the
    framed layout) as ONE flat array plus per-doc start offsets (the
    Arrow ListArray layout) — one gather, no per-doc Python."""
    lens = np.asarray(lens, np.int64)
    v = dec.shape[1]
    flat = gather_ranges(dec.view(SIGNED_DT[dec.dtype.itemsize]).reshape(-1),
                         block_layout(lens, v)[1] * v, lens)
    return flat, np.cumsum(lens) - lens
