"""Statistics-driven codec auto-selection (north-rule new work).

Per Arrow batch the selector computes, from column statistics
(value range -> FOR width, consecutive-diff range -> DFOR width, run
count -> RLE, per-row cardinality -> DICT, invariance predicate ->
IBP), the EXACT encoded size of every candidate codec for every
document, then picks the per-document argmin (deterministic tie-break
by CODEC_ORDER).  Sizes are closed-form from the stats — no trial
encodings — so selection costs about one scan.

The reference has a single codec and no selector; its analogous
decision is the per-vector compress-or-verbatim rule
(ibp_compress_kernel.cuh:28-31), which survives here inside the IBP
path, while `raw` below is the document-level never-expand guarantee.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..codecs import lightweight as lw
from ..codecs.bitutil import width_for
from . import stages
from .framing import frame_batch_flat, gather_ranges, list_array_flat
from .ibp import (ENCODED_SCHEMA, IbpParams, _elem_bytes, _elem_type,
                  decode_docs_flat, decoded_batch, decoded_schema,
                  decoding_stage, encode_batch_flat, encoded_batch,
                  predict_sizes_ibp, read_encoded_rows, token_stage)


def _require_int32(schema: StructType, tokens_col: str, op: str) -> None:
    """The lightweight codec family packs 32-bit words; silently
    truncating array<bigint> input would corrupt data, so refuse it
    here — 64-bit elements go through the pure-IBP path (encode_ibp /
    decode_ibp), mirroring the reference's compress dtype dispatch
    (src/compress.cu:192: 4- or 8-byte, IBP only).  ``array<float>``
    passes: its IEEE bit patterns are 32-bit words, and every codec in
    the family is a bijection on patterns (dict/RLE match patterns;
    FOR/DFOR arithmetic on the signed int32 view inverts exactly), so
    float round trips are bit-identical."""
    if _elem_bytes(schema, tokens_col) != 4:
        raise ValueError(
            f"{op}: tokens column must be array<int> or array<float> — "
            "the dict/RLE/FOR codec family is 32-bit; use "
            "encode_ibp/decode_ibp for array<bigint>/array<double> input")

# raw first so an incompressible document ties (ibp clamps to raw size)
# resolve to the plain layout; compressible data always beats raw strictly
CODEC_ORDER = ("raw", "ibp", "dict", "rle", "dfor", "for")


def _card_per_row(flat: np.ndarray, lens: np.ndarray,
                  starts: np.ndarray) -> np.ndarray:
    """Exact per-row distinct-value counts.  Rows are grouped into
    doubling length classes, padded to the class max with a
    0xFFFFFFFF sentinel, and sorted INDEPENDENTLY along axis=1 —
    uint32 row sorts move half the bytes of the old global
    ``(row << 32 | value)`` uint64 composite sort and skip the key
    construction passes entirely (~1.7x on the mixed-profile corpus,
    and less DRAM traffic, which is what the 4->16 scaling ceiling is
    made of).  A real 0xFFFFFFFF token ties with the sentinel, but the
    first ``len`` positions of the sorted row still hold exactly the
    row's values, so the masked change-count stays exact."""
    nrows = len(lens)
    card = np.zeros(nrows, np.int64)
    total = int(lens.sum())
    if total == 0:
        return card
    order = np.argsort(lens, kind="stable")
    sl = lens[order]
    i = 0
    while i < nrows:
        cap = max(int(sl[i]), 1) * 2
        j = max(int(np.searchsorted(sl, cap, side="left")), i + 1)
        rs = order[i:j]
        m = int(sl[j - 1])
        i = j
        if m == 0:
            continue
        k = len(rs)
        ls = lens[rs]
        mat = np.full((k, m), np.uint32(0xFFFFFFFF))
        # row-major boolean scatter: mat[valid] fills rows left to
        # right in exactly the gathered order — one contiguous gather
        # plus one masked assign, versus the three full-length
        # np.repeat index builds this used to pay (the profile's
        # hottest lines of the auto-encode size pass)
        valid = np.arange(m)[None, :] < ls[:, None]
        mat[valid] = gather_ranges(flat, starts[rs], ls)
        mat.sort(axis=1)
        changed = np.ones((k, m), bool)
        changed[:, 1:] = mat[:, 1:] != mat[:, :-1]
        card[rs] = (changed & valid).sum(axis=1)
    return card


def predict_sizes(flat: np.ndarray, lens: np.ndarray, fb,
                  params: IbpParams) -> dict[str, np.ndarray]:
    """Exact per-document encoded size for each candidate codec."""
    lens = np.asarray(lens, np.int64)
    starts = np.cumsum(lens) - lens
    nchunks = -(-lens // 8)
    total = int(lens.sum())
    out: dict[str, np.ndarray] = {"raw": 4 * lens}

    mn, mx = lw._minmax_per_row(flat, lens)
    out["for"] = 5 + nchunks * width_for(mx.astype(np.uint64) - mn.astype(np.uint64))

    d = np.empty(total, np.int64)
    if total:
        f64 = flat.astype(np.int64)
        d[1:] = f64[1:] - f64[:-1]
        d[starts[lens > 0]] = f64[starts[lens > 0]]
    dmn, dmx = lw._minmax_per_row(d, lens)
    out["dfor"] = 9 + nchunks * np.minimum(
        width_for((dmx - dmn).astype(np.uint64)), 32)

    if total:
        # run boundaries reuse the dfor diff: within a row,
        # flat[i] != flat[i-1] <=> d[i] != 0, and the row-start
        # positions are forced True either way — one fewer full pass
        change = np.empty(total, bool)
        change[0] = True
        change[1:] = d[1:] != 0
        change[starts[lens > 0]] = True
        row_of = np.repeat(np.arange(len(lens)), lens)
        runs = np.bincount(row_of[change], minlength=len(lens)).astype(np.int64)
    else:
        runs = np.zeros(len(lens), np.int64)
    out["rle"] = 4 + 8 * runs

    card = _card_per_row(flat, lens, starts)
    dict_sz = 4 + 4 * card + nchunks * width_for(
        np.maximum(card - 1, 0).astype(np.uint64))
    dict_sz[card > 0xFFFF] = np.iinfo(np.int64).max  # u16 card limit
    out["dict"] = dict_sz

    out["ibp"] = predict_sizes_ibp(fb, params.mask, params.bitval)
    return out


def choose_codec(sizes: dict[str, np.ndarray],
                 allowed: tuple[str, ...] = CODEC_ORDER) -> np.ndarray:
    """Per-document argmin over candidate sizes; ties go to the earlier
    entry of CODEC_ORDER.  Returns an int array of CODEC_ORDER indices."""
    stack = np.stack([
        sizes[c] if c in allowed else np.full_like(sizes["raw"], np.iinfo(np.int64).max)
        for c in CODEC_ORDER
    ])
    return np.argmin(stack, axis=0)


def encode_docs_auto_flat(flat: np.ndarray, lens: np.ndarray,
                          params: IbpParams,
                          allowed: tuple[str, ...] = CODEC_ORDER):
    """Encode one batch of documents with per-document codec choice.
    Tokens arrive as one contiguous doc-major uint32 buffer + per-doc
    lengths (the Arrow values/offsets layout after null compaction)
    and every output is a flat buffer + per-doc extents.  Returns
    ``(pick, payload_buf, pbytes, block_sizes_flat, nblocks,
    flags_flat, flag_nbytes)``; ``pick`` indexes CODEC_ORDER.

    Assembly is fully vectorized: every codec group encodes into a flat
    blob and blobs land in ONE doc-major output buffer via offset-table
    scatters — no per-document numpy work (the condensed-offsets shape
    of the reference's scan, src/compress.cu:284-285, generalized to a
    mixed-codec row group)."""
    v = params.vec_size
    lens = np.asarray(lens, np.int64)
    ndocs = len(lens)
    starts = np.cumsum(lens) - lens
    if ndocs == 0:
        z = np.zeros(0, np.int64)
        return (np.zeros(0, np.int64), np.zeros(0, np.uint8), z,
                z.copy(), z.copy(), np.zeros(0, np.uint8), z.copy())
    fb = frame_batch_flat(flat, starts, lens, v)
    sizes = predict_sizes(flat, lens, fb, params)
    pick = choose_codec(sizes, allowed)

    pbytes = np.zeros(ndocs, np.int64)       # payload bytes per doc
    nblocks_out = np.ones(ndocs, np.int64)   # single-block except ibp
    fnbytes = np.ones(ndocs, np.int64)       # flag-bitmap bytes per doc
    flag_const = np.zeros(ndocs, np.uint8)   # 0x00 raw / 0x01 lw codecs
    pend: list[tuple] = []                   # (docs, blob, per-doc sizes)
    ibp_blocks = None                        # (docs, bsz_flat, nb, flags, fnb)

    for ci, codec in enumerate(CODEC_ORDER):
        docs = np.flatnonzero(pick == ci)
        if docs.size == 0:
            continue
        if codec == "ibp":
            sub_fb = frame_batch_flat(flat, starts[docs], lens[docs], v)
            buf, doc_bytes, bsz_flat, flags_packed, flag_nb = (
                encode_batch_flat(sub_fb, params.mask, params.bitval))
            pbytes[docs] = doc_bytes
            nblocks_out[docs] = sub_fb.nblocks
            fnbytes[docs] = flag_nb
            pend.append((docs, buf, doc_bytes))
            ibp_blocks = (docs, bsz_flat, sub_fb.nblocks,
                          flags_packed, flag_nb)
        elif codec == "raw":
            sub = gather_ranges(flat, starts[docs], lens[docs])
            blob = np.ascontiguousarray(sub.astype("<u4")).view(np.uint8)
            pbytes[docs] = 4 * lens[docs]
            pend.append((docs, blob, 4 * lens[docs]))
        else:
            sub_flat = gather_ranges(flat, starts[docs], lens[docs])
            blob, bsz = getattr(lw, f"encode_{codec}")(sub_flat, lens[docs])
            pbytes[docs] = bsz
            flag_const[docs] = 1
            pend.append((docs, np.asarray(blob, np.uint8), bsz))

    # one doc-major payload buffer; each group scatters once
    doc_off = np.cumsum(pbytes) - pbytes
    out = np.zeros(int(pbytes.sum()), np.uint8)
    for docs, blob, dsz in pend:
        lw._scatter_rows(out, doc_off[docs], blob, dsz)

    # flat block-size table: single-block docs carry their payload
    # bytes; ibp docs scatter their per-block sizes
    # zero-extent docs (0 blocks / 0 flag bytes, possible when an empty
    # doc lands on a zero-block codec) must be masked out of the fancy
    # writes: their start equals the NEXT doc's start (duplicate index,
    # order-dependent) and for the LAST doc it equals len(buf) (OOB).
    blk_start = np.cumsum(nblocks_out) - nblocks_out
    bsz_all = np.zeros(int(nblocks_out.sum()), np.int64)
    mb = nblocks_out > 0
    bsz_all[blk_start[mb]] = pbytes[mb]  # single-block default (ibp overwritten below)
    # flat per-doc flag bitmaps: constants for single-block codecs
    flag_off = np.cumsum(fnbytes) - fnbytes
    flags_all = np.zeros(int(fnbytes.sum()), np.uint8)
    mf = fnbytes > 0
    flags_all[flag_off[mf]] = flag_const[mf]
    if ibp_blocks is not None:
        docs, bsz_flat, nb, flags_packed, flag_nb = ibp_blocks
        lw._scatter_rows(bsz_all, blk_start[docs], bsz_flat, nb)
        lw._scatter_rows(flags_all, flag_off[docs], flags_packed, flag_nb)

    return pick, out, pbytes, bsz_all, nblocks_out, flags_all, fnbytes


def _compact_tokens(rb, tokens_col: str):
    """The sub-batch's tokens as one contiguous doc-major uint32 buffer
    plus per-doc lengths (handles slices and null-doc gaps in the Arrow
    values buffer)."""
    values, starts, lens = list_array_flat(rb.column(tokens_col), 4)
    return gather_ranges(values, starts, lens).view(np.uint32), lens


def encode_auto_stage(params: IbpParams, tokens_col: str = "tokens",
                      allowed: tuple[str, ...] = CODEC_ORDER,
                      passthrough: tuple[str, ...] = ()) -> stages.Stage:
    """The auto-selected encode as a composable stage (see
    :func:`encode_auto`)."""
    codec_pool = np.array(CODEC_ORDER, object)

    def encode(rb):
        flat, lens = _compact_tokens(rb, tokens_col)
        (pick, out, pbytes, bsz_all, nblocks, flags_all,
         fnbytes) = encode_docs_auto_flat(flat, lens, params, allowed)
        return encoded_batch(rb, lens, nblocks, bsz_all, flags_all, fnbytes,
                             out, pbytes, codec_pool[pick],
                             extra=passthrough)

    def schema(in_schema: StructType) -> StructType:
        _require_int32(in_schema, tokens_col, "encode_auto")
        out = StructType.fromDDL(ENCODED_SCHEMA)
        for c in passthrough:
            out.add(c, in_schema[c].dataType)
        return out

    return token_stage(encode, schema, tokens_col,
                        ("doc_id", tokens_col, "source", *passthrough))


def encode_auto(df: DataFrame, params: IbpParams,
                tokens_col: str = "tokens",
                allowed: tuple[str, ...] = CODEC_ORDER,
                passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Auto-selected encode: same output schema as encode_ibp, with the
    ``codec`` column recording the per-document choice.  ``passthrough``
    columns (e.g. a salt bucket) are carried to the output unchanged —
    cheaper than re-joining them afterwards.

    Runs as one Arrow stage on flat buffers end to end (see
    :func:`encode_docs_auto_flat`)."""
    return stages.apply(df, encode_auto_stage(params, tokens_col, allowed,
                                              passthrough))


def predicted_sizes_by_source(df: DataFrame, params: IbpParams,
                              tokens_col: str = "tokens") -> DataFrame:
    """Per-(source, codec) predicted total bytes for EVERY candidate
    codec over the same data — the analog of the reference's Table-4
    invariance-vs-bitpack comparison (tests/invariance_perc.py:27-76),
    with the whole codec family instead of two baselines.  One Arrow
    stage, no encoding; each sub-batch pre-aggregates at (source,
    codec) grain.  Rows with a null ``source`` are left out of the
    totals."""
    v = params.vec_size
    too_big = np.iinfo(np.int64).max

    def sizer(rb):
        flat, lens = _compact_tokens(rb, tokens_col)
        fb = frame_batch_flat(flat, np.cumsum(lens) - lens, lens, v)
        sizes = predict_sizes(flat, lens, fb, params)
        src = rb.column("source")
        has_src = src.is_valid().to_numpy(zero_copy_only=False)
        parts = []
        for codec, sz in sizes.items():
            keep = pa.array(has_src & (sz < too_big))
            n = int(keep.true_count)
            parts.append(pa.table({
                "source": src.filter(keep),
                "codec": pa.array([codec] * n, pa.string()),
                "bytes": pa.array(sz, pa.int64()).filter(keep)}))
        agg = (pa.concat_tables(parts).group_by(["source", "codec"])
               .aggregate([("bytes", "sum"), ("bytes", "count")]))
        return agg.select(
            ["source", "codec", "bytes_sum", "bytes_count"]
        ).rename_columns(["source", "codec", "total_bytes", "docs"])

    def schema(in_schema: StructType) -> StructType:
        _require_int32(in_schema, tokens_col, "predicted_sizes_by_source")
        return StructType.fromDDL(
            "source string, codec string, total_bytes long, docs long")

    part = stages.apply(df, token_stage(sizer, schema, tokens_col,
                                         (tokens_col, "source")))
    return (part.groupBy("source", "codec")
            .agg(F.sum("total_bytes").alias("total_bytes"),
                 F.sum("docs").alias("docs")))


def decode_auto_stage(params: IbpParams) -> stages.Stage:
    """The mixed-codec decode as a composable stage (see
    :func:`decode_auto`)."""
    mask, bitval, v = params.mask, params.bitval, params.vec_size
    elem = _elem_type(params)[1]

    def decode(rb):
        e = read_encoded_rows(rb)
        codecs = rb.column("codec").to_numpy(zero_copy_only=False)
        tok_flat = np.zeros(int(e.lens.sum()), np.int32)
        tok_starts = np.cumsum(e.lens) - e.lens
        for codec in np.unique(codecs):
            docs = np.flatnonzero(codecs == codec)
            lens = e.lens[docs]
            if codec == "ibp":
                sub_flat, _ = decode_docs_flat(
                    lens, e.sizes(docs), e.flags, e.flag_starts[docs],
                    e.payload, e.pay_starts[docs], mask, bitval, v)
                vals = sub_flat.view(np.int32)
            elif codec == "raw":
                vals = np.ascontiguousarray(gather_ranges(
                    e.payload, e.pay_starts[docs], 4 * lens)
                ).view("<i4").astype(np.int32)
            else:
                blob = gather_ranges(
                    e.payload, e.pay_starts[docs], e.pay_lens[docs])
                vals = getattr(lw, f"decode_{codec}")(
                    blob, e.pay_lens[docs], lens).view(np.int32)
            lw._scatter_rows(tok_flat, tok_starts[docs], vals, lens)
        return decoded_batch(rb, tok_flat, e.lens, elem)

    return decoding_stage(decode, decoded_schema(params), "codec")


def decode_auto(df: DataFrame, params: IbpParams) -> DataFrame:
    """Decode a mixed-codec encoded table (inverse of encode_auto).

    Runs as one Arrow stage: each codec group decodes from shared Arrow
    buffers into one flat tokens buffer via offset-table scatters —
    zero per-document Python."""
    return stages.apply(df, decode_auto_stage(params))
