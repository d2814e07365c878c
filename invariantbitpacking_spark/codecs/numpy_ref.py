"""Pure-numpy reference implementation of the Invariant Bit Packing codec.

This is the bit-exact, whole-batch-vectorized re-derivation of the
reference CUDA kernels (all file:line cites into /root/reference):

- compressed-size formula .... include/misc/ibp_misc_dev.cuh:20-46 (block)
  and :62-91 (warp) -- ``comp_size``
- encode bitstream ........... include/compress/ibp_compress_dev.cuh:8-97
  (``compress_and_write``) -- ``encode_concat``
- compress-or-verbatim rule .. include/compress/ibp_compress_kernel.cuh:28-31
  (strict ``comp_size < vec_bytes``)
- decode ..................... include/decompress/ibp_decompress_dev.cuh:131-340
  (inverse of the encoder's format) -- ``decode_concat``
- bit-count histogram ........ include/preproc/ibp_preproc_kernels.cuh:8-31
  -- ``count_bits``
- mask/bitval construction ... include/preproc/ibp_preproc_kernels.cuh:34-51
  -- ``create_mask``
- savings accounting ......... include/preproc/ibp_preproc_kernels.cuh:54-77
  (per-vector ``bit_ctr > vec_size`` gate) -- ``check_feats``
- threshold sweep ............ include/preproc/ibp_preproc_host.cuh:61-100
  (float32 accumulation 0.7 -> 1.0 step 0.05, strict ``> max_saved``
  improvement) -- ``preprocess``

Format summary (per compressed vector of ``vec_size`` elements of
``itemsize`` bytes each; word width W = 8*itemsize bits):

1. Header: ``align(ceil(vec_size/8), itemsize)`` bytes.  Header bit j
   (byte j//8, bit j%8 LSB-first) = 1 iff element j was stored in
   compressed (residual-only) form.
2. Payload bitstream starting right after the header.  Element j
   contributes, in order j = 0..vec_size-1:
   - if ``(v[j] & mask[j]) == bitval[j]``: its W - popcount(mask[j])
     non-invariant bits, extracted MSB-first (the CLZ run-extraction of
     ibp_compress_dev.cuh:43-58 is equivalent to "keep the bits where
     mask is 0, in MSB->LSB order");
   - else: all W bits verbatim, MSB-first.
   Stream bit p lands in payload word p // W at bit W-1 - (p % W)
   (words fill from the MSB downward; words are little-endian in
   memory), per the ``elem_offset``/``bit_offset`` addressing of
   ibp_compress_dev.cuh:74-92.

A vector whose compressed size is not strictly smaller than its raw
size is stored verbatim (raw little-endian words) with header absent
and its per-vector ``is_compressed`` flag 0.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "comp_size",
    "comp_sizes_matrix",
    "count_bits",
    "create_mask",
    "check_feats",
    "sweep_thresholds",
    "preprocess",
    "encode_concat",
    "decode_concat",
]


def _udtype(itemsize: int):
    return {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.uint64}[itemsize]


def _as_unsigned(a: np.ndarray) -> np.ndarray:
    """Reinterpret any fixed-width integer matrix as its unsigned twin."""
    return a.view(_udtype(a.dtype.itemsize))


def _popcount(a: np.ndarray) -> np.ndarray:
    """Vectorized popcount via byte view (no per-element Python)."""
    b = np.ascontiguousarray(a).view(np.uint8)
    return np.unpackbits(b).reshape(*a.shape, a.dtype.itemsize * 8).sum(
        axis=-1, dtype=np.int64
    )


_POPC8 = np.array([bin(i).count("1") for i in range(256)], np.uint8)


def popcount32(a: np.ndarray) -> np.ndarray:
    """Fast elementwise popcount of a uint32 array (byte-LUT; the POPC
    intrinsic of ibp_helpers.cuh:13-29 for our hot distance loops)."""
    b = np.ascontiguousarray(a).view(np.uint8).reshape(*a.shape, 4)
    return _POPC8[b].sum(axis=-1, dtype=np.int64)


def _bits_msb(a: np.ndarray) -> np.ndarray:
    """Unpack each element into its bits, MSB-first: shape (*a.shape, W)."""
    w = a.dtype.itemsize
    be = a.astype(a.dtype.newbyteorder(">"), copy=False)
    return np.unpackbits(be.view(np.uint8).reshape(*a.shape, w), axis=-1)


def _align(x, m):
    return (x + m - 1) // m * m


def _general_rows(v: int, w: int) -> int:
    """Rows per pass of the bit-level (general) encode/decode path.  Its
    temporaries take tens of bytes per bit of a row (the int64 stream
    positions alone take 8), so passes of 2^22 bits bound them however
    many rows a batch sends down the path."""
    return max(1, (1 << 22) // (v * w))


_LAYOUT_CACHE: dict = {}


def _fast_layout(mask_u: np.ndarray, bitval_u: np.ndarray):
    """Cached word-level layout for the all-pass fast path (uint32 only)."""
    if mask_u.dtype.itemsize != 4:
        return None
    key = (mask_u.tobytes(), bitval_u.tobytes())
    lay = _LAYOUT_CACHE.get(key)
    if lay is None:
        from .fastpath import FastLayout

        if len(_LAYOUT_CACHE) > 256:
            _LAYOUT_CACHE.clear()
        lay = _LAYOUT_CACHE[key] = FastLayout(mask_u, bitval_u)
    return lay


# ---------------------------------------------------------------------------
# Size formula (ibp_misc_dev.cuh:20-46)
# ---------------------------------------------------------------------------

def comp_size(vec_size: int, saved_bits: int, itemsize: int) -> int:
    """Exact reference compressed size in bytes for one vector.

    ``saved_bits`` = sum of popcount(mask[j]) over elements passing the
    invariance predicate.  Mirrors ibp_misc_dev.cuh:33-42: metadata and
    data sections independently aligned up to the element size, total
    clamped to the raw size (never expands).
    """
    vec_bytes = vec_size * itemsize
    metadata = _align((vec_size + 7) // 8, itemsize)
    data = _align(vec_bytes - saved_bits // 8, itemsize)
    return int(min(metadata + data, vec_bytes))


def _valid_cols(v: int, widths) -> np.ndarray:
    """[n, v] mask of each row's columns below its width."""
    return np.arange(v)[None, :] < np.asarray(widths, np.int64)[:, None]


def _pred_saved(block_u: np.ndarray, mask: np.ndarray, bitval: np.ndarray,
                widths=None):
    """Invariance predicate per element + saved bits per vector.  With
    ``widths``, row i uses only its columns below ``widths[i]``: the
    predicate is False past them, so they save nothing."""
    pred = (block_u & mask[None, :]) == bitval[None, :]
    if widths is not None:
        pred &= _valid_cols(block_u.shape[1], widths)
    mask_popc = _popcount(mask)
    # exact float32 matvec (sums of <= v terms each <= W stay far under
    # 2^24) — skips the int64 [n, v] broadcast-product temp; this is
    # the per-batch size pass of every encode.  The exactness argument
    # needs sum(popcount(mask)) < 2^24 (every partial sum is then an
    # exactly representable float32 integer); an unusually wide
    # configured vec_size would break it silently, so guard and fall
    # back to the exact int64 path.
    if int(mask_popc.sum()) < (1 << 24):
        saved = (pred.astype(np.float32)
                 @ mask_popc.astype(np.float32)).astype(np.int64)
    else:
        saved = pred @ mask_popc.astype(np.int64)
    return pred, saved


def _row_sizes(saved: np.ndarray, widths, itemsize: int):
    """``(sizes, metadata)`` per row from its saved bits (the
    ibp_misc_dev.cuh:33-42 formula at each row's width): metadata and
    data sections aligned to the element size, clamped to raw."""
    vec_bytes = widths * itemsize
    metadata = _align((widths + 7) // 8, itemsize)
    data = _align(vec_bytes - saved // 8, itemsize)
    return np.minimum(metadata + data, vec_bytes).astype(np.int64), metadata


def comp_sizes_matrix(block: np.ndarray, mask: np.ndarray, bitval: np.ndarray,
                      widths=None) -> np.ndarray:
    """Per-vector compressed sizes for a [n x v] matrix (get_compress_size,
    src/compress.cu:25-174 -> check_compress_size_blk).  ``widths``
    (int[n], default all ``v``): row i is sized as the width-``widths[i]``
    vector ``block[i, :widths[i]]`` under ``mask[:widths[i]]``."""
    block_u = _as_unsigned(np.ascontiguousarray(block))
    _, saved = _pred_saved(block_u, _as_unsigned(mask), _as_unsigned(bitval),
                           widths)
    w = block_u.shape[1] if widths is None else np.asarray(widths, np.int64)
    return _row_sizes(saved, w, block_u.dtype.itemsize)[0]


# ---------------------------------------------------------------------------
# Preprocess: bit counts, mask construction, threshold sweep
# ---------------------------------------------------------------------------

def count_bits(block: np.ndarray) -> np.ndarray:
    """[v x W] per-(column, bit) set counts (count_bit_kernel,
    ibp_preproc_kernels.cuh:8-31).  Bit index is LSB-first (bit 0 = LSB)
    to match ``1ull << bit`` in the kernel.

    Byte-LUT bincount instead of unpackbits: per BYTE POSITION, a
    256-bin histogram of that position's column, then a [256 x 8]
    bit-table matmul.  The byte-major layout comes from a ROW-BLOCKED
    transpose — ``cols[:, i0:i0+B] = u8[i0:i0+B].T`` per block of B
    rows — so the source tile stays cache-resident and the destination
    writes are runs of B contiguous bytes; a naive full-matrix
    ``ascontiguousarray(u8.T)`` touches a fresh cache line per element
    (the row stride exceeds a line) and measures ~9x slower at the
    learn pass's (rows x positions) shapes.  Each bincount then runs
    over a dense uint8 run with an L1-resident bin table.  Counts are
    byte-for-byte identical to the naive per-bit reference (pinned in
    tests).  Little-endian byte k of an element holds its bits
    k*8..k*8+7, so the per-byte LSB-first columns concatenate directly
    into the element-wide LSB-first layout."""
    block_u = _as_unsigned(np.ascontiguousarray(block))
    n, v = block_u.shape
    w = block_u.dtype.itemsize
    if n == 0:
        return np.zeros((v, w * 8), np.int64)
    le = block_u.astype(block_u.dtype.newbyteorder("<"), copy=False)
    u8 = np.ascontiguousarray(le).view(np.uint8).reshape(n, v * w)
    nb = v * w
    cols = np.empty((nb, n), np.uint8)  # (nb, n) byte-major
    B = 512  # row block: B x nb source tile stays L2-resident
    for i0 in range(0, n, B):
        cols[:, i0:i0 + B] = u8[i0:i0 + B].T
    hist = np.empty((nb, 256), np.int64)
    for j in range(nb):
        hist[j] = np.bincount(cols[j], minlength=256)
    bit_tab = ((np.arange(256)[:, None] >> np.arange(8)[None, :]) & 1
               ).astype(np.int64)
    return (hist @ bit_tab).reshape(v, w * 8)


def create_mask(bit_count: np.ndarray, num_vecs, threshold: float):
    """(mask, bitval) from counts (create_mask, ibp_preproc_kernels.cuh:34-51).

    Bit is invariant-1 when ``count > float32(threshold * N)`` (strict),
    invariant-0 when ``count < (1.0 - threshold) * N`` (double, strict) --
    replicating the kernel's mixed float/double promotions.

    ``num_vecs`` may be a scalar (rectangular data — the reference
    case) or an int array [v] of per-column coverage counts (our ragged
    tail-block extension, where column j appears in N_j blocks).
    """
    v, w = bit_count.shape
    itemsize = w // 8
    dt = _udtype(itemsize)
    thr32 = np.float32(threshold)
    nv = np.asarray(num_vecs)
    nv = nv.reshape(-1, 1) if nv.ndim else nv  # [v,1] broadcast over bits
    hi = bit_count.astype(np.float32) > thr32 * nv.astype(np.float32)
    lo = bit_count.astype(np.float64) < (1.0 - np.float64(thr32)) * nv.astype(np.float64)
    weights = (np.uint64(1) << np.arange(w, dtype=np.uint64))  # LSB-first
    mask = ((hi | lo) * weights[None, :]).sum(axis=1).astype(dt)
    bitval = (hi * weights[None, :]).sum(axis=1).astype(dt)
    return mask, bitval


def check_feats(block: np.ndarray, mask: np.ndarray, bitval: np.ndarray,
                widths=None) -> int:
    """Total real saved bits (check_feats, ibp_preproc_kernels.cuh:54-77):
    per vector, savings count only when strictly more than its width in
    bits (the 1-bit-per-element header cost), and the header cost is
    then subtracted.  ``widths`` as in :func:`comp_sizes_matrix`."""
    block_u = _as_unsigned(np.ascontiguousarray(block))
    _, saved = _pred_saved(block_u, _as_unsigned(mask), _as_unsigned(bitval),
                           widths)
    w = block_u.shape[1] if widths is None else np.asarray(widths, np.int64)
    return int(np.where(saved > w, saved - w, 0).sum())


def sweep_thresholds() -> list[float]:
    """The reference's float32-accumulated sweep grid
    (ibp_preproc_host.cuh:67: ``for(t = 0.7f; t <= 1.0; t += 0.05f)``)."""
    out = []
    t = np.float32(0.7)
    while np.float64(t) <= 1.0:
        out.append(float(t))
        t = np.float32(t + np.float32(0.05))
    return out


def preprocess(block: np.ndarray, threshold: float | None = None):
    """Learn (mask, bitval) exactly as preproc_data
    (ibp_preproc_host.cuh:23-115).

    Returns (mask, bitval, best_threshold, max_saved_bits).  With no
    threshold given, sweeps the float32 grid and keeps the params with
    strictly maximal real saved bits (ties keep the earlier threshold).
    When nothing ever saves (max_saved stays 0) the returned mask/bitval
    are all-zero, like the reference's untouched cudaMalloc'd outputs
    semantically: compression then never triggers.
    """
    block_u = _as_unsigned(np.ascontiguousarray(block))
    n, _ = block_u.shape
    counts = count_bits(block_u)
    grid = [threshold] if threshold is not None else sweep_thresholds()
    max_saved = 0
    best = None
    best_t = None
    for t in grid:
        mask, bitval = create_mask(counts, n, t)
        saved = check_feats(block_u, mask, bitval)
        if saved > max_saved:
            max_saved = saved
            best = (mask, bitval)
            best_t = t
    if best is None:
        dt = block_u.dtype
        best = (np.zeros(block_u.shape[1], dt), np.zeros(block_u.shape[1], dt))
    return best[0], best[1], best_t, max_saved


# ---------------------------------------------------------------------------
# Encode (compress_and_write, ibp_compress_dev.cuh:8-97)
# ---------------------------------------------------------------------------

def encode_concat(block: np.ndarray, mask: np.ndarray, bitval: np.ndarray,
                  widths=None):
    """Encode a [n x v] matrix into one concatenated byte buffer.

    Returns ``(flat, sizes, is_comp)``: ``flat`` is a uint8 array of
    length ``sizes.sum()`` holding each vector's blob back-to-back (the
    condensed layout, compress_condensed_kernel
    ibp_compress_kernel.cuh:58-94, with offsets = inclusive scan of
    sizes as in src/compress.cu:284-285), ``sizes`` int64[n] == the
    §1.4 formula, ``is_comp`` the per-vector bitmask bit
    (ibp_compress_kernel.cuh:40-42).  Verbatim vectors are raw
    little-endian words (memcpy_warp path, ibp_compress_kernel.cuh:47-50).
    Whole-batch vectorized; no per-bit Python.

    ``widths`` (int[n], default all ``v``): row i is encoded exactly as
    the width-``widths[i]`` vector ``block[i, :widths[i]]`` under
    ``mask[:widths[i]]``/``bitval[:widths[i]]`` — a header of
    ``ceil(widths[i]/8)`` bytes aligned to the element size, and no
    column past the width read — so a ragged batch encodes in one call.
    """
    block_u = _as_unsigned(np.ascontiguousarray(block))
    mask_u = _as_unsigned(np.ascontiguousarray(mask))
    bitval_u = _as_unsigned(np.ascontiguousarray(bitval))
    n, v = block_u.shape
    itemsize = block_u.dtype.itemsize
    w = itemsize * 8
    wid = (np.full(n, v, np.int64) if widths is None
           else np.asarray(widths, np.int64))
    vec_bytes = wid * itemsize

    pred, saved = _pred_saved(block_u, mask_u, bitval_u, widths)
    sizes, metadata = _row_sizes(saved, wid, itemsize)
    is_comp = sizes < vec_bytes
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    flat = np.zeros(int(offsets[-1]), np.uint8)

    vidx = np.flatnonzero(~is_comp)
    if vidx.size:
        le = block_u.astype(block_u.dtype.newbyteorder("<"), copy=False)
        raw = np.ascontiguousarray(le).view(np.uint8).reshape(n, v * itemsize)
        # per-row slice copies: the old offsets[:,None]+arange index
        # matrix moved ~16 bytes of int64 index traffic per payload
        # byte (measured 52 -> 12 ms on a 17k-row batch); each slice
        # assignment is one C memcpy of the row's bytes
        for i, o, nb in zip(vidx.tolist(), offsets[vidx].tolist(),
                            vec_bytes[vidx].tolist()):
            flat[o:o + nb] = raw[i, :nb]

    # all-pass fast path: fixed layout, word-level shifts (fastpath.py).
    # A row narrower than v fails the predicate past its width, so only
    # full-width rows take it.
    is_comp_general = is_comp
    lay = _fast_layout(mask_u, bitval_u)
    if lay is not None and lay.is_smaller:
        fsel = np.flatnonzero(pred.all(axis=1) & is_comp)
        if fsel.size:
            from .fastpath import encode_allpass

            rows8 = encode_allpass(block_u[fsel], lay)
            K = lay.comp_size  # per-row slice copies (see verbatim note)
            for i, o in enumerate(offsets[fsel].tolist()):
                flat[o:o + K] = rows8[i]
            is_comp_general = is_comp.copy()
            is_comp_general[fsel] = False

    mask_bits = _bits_msb(mask_u)  # [v, w]
    gidx = np.flatnonzero(is_comp_general)
    step = _general_rows(v, w)
    for c0 in range(0, gidx.size, step):
        cidx = gidx[c0:c0 + step]
        cblock = block_u[cidx]
        cpred = pred[cidx]
        m = cidx.size
        # --- header: bit j (byte j//8, bit j%8 LSB-first) = pred[j] ---
        hdr = np.packbits(cpred.astype(np.uint8), axis=1, bitorder="little")
        # --- payload: keep bits where (verbatim elem) or (mask bit == 0),
        # in (element asc, MSB->LSB) order == the CLZ run extraction;
        # no bit of a column past the row's width ---
        bits = _bits_msb(cblock).reshape(m, v * w)
        keep = ((~cpred[:, :, None] | (mask_bits == 0)[None, :, :])
                & _valid_cols(v, wid[cidx])[:, :, None]).reshape(m, v * w)
        # payload section is zero-padded out to the aligned data size
        cmeta = metadata[cidx][:, None]
        data_bytes = sizes[cidx][:, None] - cmeta
        pos = keep.cumsum(axis=1) - 1  # in-row stream position of kept bits
        stream = np.zeros((m, int(data_bytes.max()) * 8), np.uint8)
        rows = np.broadcast_to(np.arange(m)[:, None], keep.shape)
        stream[rows[keep], pos[keep]] = bits[keep]
        # pack MSB-first, then reverse bytes within each word (words are
        # little-endian but fill from the MSB: ibp_compress_dev.cuh:77-85)
        packed = np.packbits(stream, axis=1)
        payload = packed.reshape(m, -1, itemsize)[:, :, ::-1].reshape(m, -1)
        # each blob: the header, zero-padded to its aligned metadata
        # size, then its payload
        base = offsets[cidx][:, None]
        hcol = np.arange(hdr.shape[1])[None, :]
        hval = np.broadcast_to(hcol < cmeta, hdr.shape)
        flat[(base + hcol)[hval]] = hdr[hval]
        pcol = np.arange(payload.shape[1])[None, :]
        pval = pcol < data_bytes
        flat[(base + cmeta + pcol)[pval]] = payload[pval]
    return flat, sizes, is_comp


# ---------------------------------------------------------------------------
# Decode (inverse; ibp_decompress_dev.cuh:131-340 semantics)
# ---------------------------------------------------------------------------

def decode_concat(flat: np.ndarray, sizes, is_comp, vec_size: int,
                  mask: np.ndarray, bitval: np.ndarray,
                  widths=None) -> np.ndarray:
    """Decode n back-to-back blobs (condensed layout) from one uint8
    buffer back to a [n x vec_size] unsigned matrix.

    Batch-vectorized: all compressed rows are decoded with flat fancy
    indexing, no per-bit Python.  (Spark analog of the reference's five
    kernel variants is a single numpy path; see SURVEY.md §2.4.)

    ``widths`` (int[n], default all ``vec_size``): blob i holds the
    width-``widths[i]`` vector :func:`encode_concat` wrote for it; its
    row comes back zero past that width.
    """
    mask_u = _as_unsigned(np.ascontiguousarray(mask))
    bitval_u = _as_unsigned(np.ascontiguousarray(bitval))
    v = vec_size
    itemsize = mask_u.dtype.itemsize
    w = itemsize * 8
    dt = mask_u.dtype
    flat = np.asarray(flat, np.uint8)
    sizes = np.asarray(sizes, np.int64)
    is_comp = np.asarray(is_comp, bool)
    n = len(sizes)
    wid = (np.full(n, v, np.int64) if widths is None
           else np.asarray(widths, np.int64))
    vec_bytes = wid * itemsize
    metadata = _align((wid + 7) // 8, itemsize)
    offsets = np.concatenate([[0], np.cumsum(sizes)])

    out = np.zeros((n, v), dt)
    vidx = np.flatnonzero(~is_comp)
    if vidx.size:
        # per-row slice copies (see encode_concat's verbatim note:
        # 37 -> 9 ms vs the index-matrix gather on a 17k-row batch)
        raw = np.zeros((vidx.size, v * itemsize), np.uint8)
        for i, o, nb in zip(range(vidx.size), offsets[vidx].tolist(),
                            vec_bytes[vidx].tolist()):
            raw[i, :nb] = flat[o:o + nb]
        out[vidx] = raw.view(dt.newbyteorder("<")).astype(dt)

    cidx = np.flatnonzero(is_comp)
    if cidx.size == 0:
        return out

    # all-pass fast path: full-width compressed rows whose header is the
    # all-ones pattern decode via fixed-layout word shifts (fastpath.py)
    lay = _fast_layout(mask_u, bitval_u)
    if lay is not None and lay.is_smaller:
        cand = cidx[(sizes[cidx] == lay.comp_size) & (wid[cidx] == v)]
        if cand.size:
            hidx = offsets[cand][:, None] + np.arange(lay.metadata)[None, :]
            hdrs = flat[hidx]
            fast = cand[(hdrs == lay.header[None, :]).all(axis=1)]
            if fast.size:
                from .fastpath import decode_allpass

                K = lay.comp_size  # per-row slice gather (verbatim note)
                pay = np.empty((fast.size, K), np.uint8)
                for i, o in enumerate(offsets[fast].tolist()):
                    pay[i] = flat[o:o + K]
                out[fast] = decode_allpass(pay, lay).view(dt)
                keep = np.ones(len(sizes), bool)
                keep[fast] = False
                cidx = np.flatnonzero(is_comp & keep)
                if cidx.size == 0:
                    return out

    mask_bits = _bits_msb(mask_u)          # [v, w] MSB-first
    bitval_bits = _bits_msb(bitval_u)      # [v, w]
    gidx, step = cidx, _general_rows(v, w)
    for c0 in range(0, gidx.size, step):
        cidx = gidx[c0:c0 + step]
        m = cidx.size
        base = offsets[cidx][:, None]
        cmeta = metadata[cidx][:, None]
        # header bytes (a row's own, below its aligned metadata size)
        hcol = np.arange((v + 7) // 8)[None, :]
        hval = np.broadcast_to(hcol < cmeta, (m, hcol.shape[1]))
        hdr = np.zeros(hval.shape, np.uint8)
        hdr[hval] = flat[(base + hcol)[hval]]
        pred = np.unpackbits(hdr, axis=1, bitorder="little")[:, :v].astype(bool)
        # payload bytes, from each row's metadata offset
        data_bytes = sizes[cidx][:, None] - cmeta
        pcol = np.arange(int(data_bytes.max()))[None, :]
        pval = pcol < data_bytes
        payload = np.zeros(pval.shape, np.uint8)
        payload[pval] = flat[(base + cmeta + pcol)[pval]]

        pay_words = payload.shape[1] // itemsize
        # un-reverse bytes within words, then unpack MSB-first -> stream bits
        stream = np.unpackbits(
            payload[:, : pay_words * itemsize]
            .reshape(m, pay_words, itemsize)[:, :, ::-1]
            .reshape(m, pay_words * itemsize),
            axis=1,
        )

        valid = _valid_cols(v, wid[cidx])
        keep = ((~pred[:, :, None] | (mask_bits == 0)[None, :, :])
                & valid[:, :, None]).reshape(m, v * w)

        # seed with bitval (ibp_decompress_dev.cuh:292-299); verbatim elements
        # take every bit from the stream so their seed is irrelevant
        out_bits = np.broadcast_to(bitval_bits.reshape(1, v * w), (m, v * w)).copy()
        pos = keep.cumsum(axis=1) - 1
        rows = np.broadcast_to(np.arange(m)[:, None], keep.shape)
        sel = keep & (pos < stream.shape[1])
        out_bits[sel] = stream[rows[sel], pos[sel]]

        words = np.packbits(out_bits.reshape(m, v, w), axis=-1)
        dec = words.reshape(m, v, itemsize).copy().view(dt.newbyteorder(">")).reshape(m, v)
        out[cidx] = np.where(valid, dec, 0)  # zero past each row's width
    return out
