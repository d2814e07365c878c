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


def _pred_saved(block_u: np.ndarray, mask: np.ndarray, bitval: np.ndarray):
    """Invariance predicate per element + saved bits per vector."""
    pred = (block_u & mask[None, :]) == bitval[None, :]
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


def comp_sizes_matrix(block: np.ndarray, mask: np.ndarray, bitval: np.ndarray) -> np.ndarray:
    """Per-vector compressed sizes for a [n x v] matrix (get_compress_size,
    src/compress.cu:25-174 -> check_compress_size_blk)."""
    block_u = _as_unsigned(np.ascontiguousarray(block))
    itemsize = block_u.dtype.itemsize
    v = block_u.shape[1]
    _, saved = _pred_saved(block_u, _as_unsigned(mask), _as_unsigned(bitval))
    vec_bytes = v * itemsize
    metadata = _align((v + 7) // 8, itemsize)
    data = _align(vec_bytes - saved // 8, itemsize)
    return np.minimum(metadata + data, vec_bytes).astype(np.int64)


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


def check_feats(block: np.ndarray, mask: np.ndarray, bitval: np.ndarray) -> int:
    """Total real saved bits (check_feats, ibp_preproc_kernels.cuh:54-77):
    per vector, savings count only when strictly more than vec_size bits
    (the 1-bit-per-element header cost), and the header cost is then
    subtracted."""
    block_u = _as_unsigned(np.ascontiguousarray(block))
    v = block_u.shape[1]
    _, saved = _pred_saved(block_u, _as_unsigned(mask), _as_unsigned(bitval))
    gated = np.where(saved > v, saved - v, 0)
    return int(gated.sum())


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

def encode_concat(block: np.ndarray, mask: np.ndarray, bitval: np.ndarray):
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
    """
    block_u = _as_unsigned(np.ascontiguousarray(block))
    mask_u = _as_unsigned(np.ascontiguousarray(mask))
    bitval_u = _as_unsigned(np.ascontiguousarray(bitval))
    n, v = block_u.shape
    itemsize = block_u.dtype.itemsize
    w = itemsize * 8
    vec_bytes = v * itemsize
    metadata = _align((v + 7) // 8, itemsize)

    pred, saved = _pred_saved(block_u, mask_u, bitval_u)
    data = _align(vec_bytes - saved // 8, itemsize)
    sizes = np.minimum(metadata + data, vec_bytes).astype(np.int64)
    is_comp = sizes < vec_bytes
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    flat = np.zeros(int(offsets[-1]), np.uint8)

    vidx = np.flatnonzero(~is_comp)
    if vidx.size:
        le = block_u.astype(block_u.dtype.newbyteorder("<"), copy=False)
        raw = np.ascontiguousarray(le).view(np.uint8).reshape(n, vec_bytes)
        # per-row slice copies: the old offsets[:,None]+arange index
        # matrix moved ~16 bytes of int64 index traffic per payload
        # byte (measured 52 -> 12 ms on a 17k-row batch); each slice
        # assignment is one C memcpy of vec_bytes
        for i, o in zip(vidx.tolist(), offsets[vidx].tolist()):
            flat[o:o + vec_bytes] = raw[i]

    # all-pass fast path: fixed layout, word-level shifts (fastpath.py)
    lay = _fast_layout(mask_u, bitval_u)
    if lay is not None and lay.is_smaller:
        fsel = np.flatnonzero(pred.all(axis=1) & is_comp)
        if fsel.size:
            from .fastpath import encode_allpass

            rows8 = encode_allpass(block_u[fsel], lay)
            K = lay.comp_size  # per-row slice copies (see verbatim note)
            for i, o in enumerate(offsets[fsel].tolist()):
                flat[o:o + K] = rows8[i]
            is_general = np.ones(n, bool)
            is_general[fsel] = False
            is_comp_general = is_comp & is_general
        else:
            is_comp_general = is_comp
    else:
        is_comp_general = is_comp

    cidx = np.flatnonzero(is_comp_general)
    if cidx.size:
        cblock = block_u[cidx]
        cpred = pred[cidx]
        m = cidx.size
        csizes = sizes[cidx]
        # --- header: bit j (byte j//8, bit j%8 LSB-first) = pred[j] ---
        hdr = np.packbits(cpred.astype(np.uint8), axis=1, bitorder="little")
        # --- payload: keep bits where (verbatim elem) or (mask bit == 0),
        # in (element asc, MSB->LSB) order == the CLZ run extraction ---
        bits = _bits_msb(cblock).reshape(m, v * w)
        mask_bits = _bits_msb(mask_u)  # [v, w]
        keep = (~cpred[:, :, None] | (mask_bits == 0)[None, :, :]).reshape(m, v * w)
        # payload section is zero-padded out to the aligned data size
        data_bytes_max = int(csizes.max()) - metadata
        pos = keep.cumsum(axis=1) - 1  # in-row stream position of kept bits
        stream = np.zeros((m, data_bytes_max * 8), np.uint8)
        rows = np.broadcast_to(np.arange(m)[:, None], keep.shape)
        stream[rows[keep], pos[keep]] = bits[keep]
        # pack MSB-first, then reverse bytes within each word (words are
        # little-endian but fill from the MSB: ibp_compress_dev.cuh:77-85)
        packed = np.packbits(stream, axis=1)
        payload = packed.reshape(m, -1, itemsize)[:, :, ::-1].reshape(m, -1)
        full = np.zeros((m, metadata + data_bytes_max), np.uint8)
        full[:, : hdr.shape[1]] = hdr
        full[:, metadata : metadata + payload.shape[1]] = payload
        col = np.arange(full.shape[1])[None, :]
        valid = col < csizes[:, None]
        tgt = offsets[cidx][:, None] + col
        flat[tgt[valid]] = full[valid]
    return flat, sizes, is_comp


# ---------------------------------------------------------------------------
# Decode (inverse; ibp_decompress_dev.cuh:131-340 semantics)
# ---------------------------------------------------------------------------

def decode_concat(flat: np.ndarray, sizes, is_comp, vec_size: int,
                  mask: np.ndarray, bitval: np.ndarray) -> np.ndarray:
    """Decode n back-to-back blobs (condensed layout) from one uint8
    buffer back to a [n x vec_size] unsigned matrix.

    Batch-vectorized: all compressed rows are decoded with flat fancy
    indexing, no per-bit Python.  (Spark analog of the reference's five
    kernel variants is a single numpy path; see SURVEY.md §2.4.)
    """
    mask_u = _as_unsigned(np.ascontiguousarray(mask))
    bitval_u = _as_unsigned(np.ascontiguousarray(bitval))
    v = vec_size
    itemsize = mask_u.dtype.itemsize
    w = itemsize * 8
    dt = mask_u.dtype
    vec_bytes = v * itemsize
    metadata = _align((v + 7) // 8, itemsize)
    flat = np.asarray(flat, np.uint8)
    sizes = np.asarray(sizes, np.int64)
    is_comp = np.asarray(is_comp, bool)
    n = len(sizes)
    offsets = np.concatenate([[0], np.cumsum(sizes)])

    out = np.zeros((n, v), dt)
    vidx = np.flatnonzero(~is_comp)
    if vidx.size:
        # per-row slice copies (see encode_concat's verbatim note:
        # 37 -> 9 ms vs the index-matrix gather on a 17k-row batch)
        raw = np.empty((vidx.size, vec_bytes), np.uint8)
        for i, o in enumerate(offsets[vidx].tolist()):
            raw[i] = flat[o:o + vec_bytes]
        out[vidx] = raw.view(dt.newbyteorder("<")).astype(dt)

    cidx = np.flatnonzero(is_comp)
    if cidx.size == 0:
        return out

    # all-pass fast path: compressed rows whose header is the all-ones
    # pattern decode via fixed-layout word shifts (fastpath.py)
    lay = _fast_layout(mask_u, bitval_u)
    if lay is not None and lay.is_smaller:
        cand = cidx[sizes[cidx] == lay.comp_size]
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

    m = cidx.size
    maxlen = int(sizes[cidx].max())
    col = np.arange(maxlen)[None, :]
    valid = col < sizes[cidx][:, None]
    src = offsets[cidx][:, None] + col
    buf = np.zeros((m, maxlen), np.uint8)
    buf[valid] = flat[src[valid]]

    hdr = buf[:, : (v + 7) // 8]
    pred = np.unpackbits(hdr, axis=1, bitorder="little")[:, :v].astype(bool)

    payload = buf[:, metadata:]
    pay_words = payload.shape[1] // itemsize
    # un-reverse bytes within words, then unpack MSB-first -> stream bits
    stream = np.unpackbits(
        payload[:, : pay_words * itemsize]
        .reshape(m, pay_words, itemsize)[:, :, ::-1]
        .reshape(m, pay_words * itemsize),
        axis=1,
    )

    mask_bits = _bits_msb(mask_u)          # [v, w] MSB-first
    bitval_bits = _bits_msb(bitval_u)      # [v, w]
    keep = (~pred[:, :, None] | (mask_bits == 0)[None, :, :]).reshape(m, v * w)

    # seed with bitval (ibp_decompress_dev.cuh:292-299); verbatim elements
    # take every bit from the stream so their seed is irrelevant
    out_bits = np.broadcast_to(bitval_bits.reshape(1, v * w), (m, v * w)).copy()
    pos = keep.cumsum(axis=1) - 1
    rows = np.broadcast_to(np.arange(m)[:, None], keep.shape)
    sel = keep & (pos < stream.shape[1])
    out_bits[sel] = stream[rows[sel], pos[sel]]

    words = np.packbits(out_bits.reshape(m, v, w), axis=-1)
    dec = words.reshape(m, v, itemsize).copy().view(dt.newbyteorder(">")).reshape(m, v)
    out[cidx] = dec.astype(dt)
    return out
