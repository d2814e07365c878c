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

from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, functions as F

from ..codecs import lightweight as lw
from ..codecs.bitutil import width_for
from .framing import frame_batch_flat, gather_ranges, list_array_flat
from .ibp import (ENCODED_SCHEMA, IbpParams, _elem_bytes, _mass_ranges,
                  binary_array_flat, decode_docs_flat, encode_batch_flat,
                  predict_sizes_ibp)


def _require_int32(df: DataFrame, tokens_col: str, op: str) -> None:
    """The lightweight codec family packs 32-bit words; silently
    truncating array<bigint> input would corrupt data, so refuse it
    here — 64-bit elements go through the pure-IBP path (encode_ibp /
    decode_ibp), mirroring the reference's compress dtype dispatch
    (src/compress.cu:192: 4- or 8-byte, IBP only).  ``array<float>``
    passes: its IEEE bit patterns are 32-bit words, and every codec in
    the family is a bijection on patterns (dict/RLE match patterns;
    FOR/DFOR arithmetic on the signed int32 view inverts exactly), so
    float round trips are bit-identical."""
    if _elem_bytes(df, tokens_col) != 4:
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
            sub_flat = gather_ranges(flat, starts[docs], lens[docs])
            sub_lens = lens[docs]
            sub_fb = frame_batch_flat(
                sub_flat, np.cumsum(sub_lens) - sub_lens, sub_lens, v)
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


def encode_auto(df: DataFrame, params: IbpParams,
                tokens_col: str = "tokens",
                allowed: tuple[str, ...] = CODEC_ORDER,
                passthrough: tuple[str, ...] = (),
                max_batch_tokens: int | None = None) -> DataFrame:
    """Auto-selected encode: same output schema as encode_ibp, with the
    ``codec`` column recording the per-document choice.  ``passthrough``
    columns (e.g. a salt bucket) are carried to the output unchanged —
    cheaper than re-joining them afterwards.

    Runs as ``mapInArrow`` on flat buffers end to end (see
    :func:`encode_docs_auto_flat`)."""
    import pyarrow as pa

    _require_int32(df, tokens_col, "encode_auto")

    def encoder(batches) -> "Iterator[pa.RecordBatch]":
        codec_pool = np.array(CODEC_ORDER, object)
        for rb in batches:
            names = rb.schema.names
            values, starts, lens_all = list_array_flat(
                rb.column(names.index(tokens_col)), 4)
            for i0, i1 in _mass_ranges(lens_all, max_batch_tokens):
                n = i1 - i0
                lens = lens_all[i0:i1]
                # compact to one contiguous doc-major buffer (handles
                # slices and null-doc gaps in the Arrow values buffer)
                cflat = gather_ranges(values, starts[i0:i1], lens
                                      ).view(np.uint32)
                (pick, out, pbytes, bsz_all, nblocks, flags_all,
                 fnbytes) = encode_docs_auto_flat(cflat, lens, params,
                                                  allowed)
                pay_off = np.zeros(n + 1, np.int32)
                np.cumsum(pbytes, out=pay_off[1:])
                payload = pa.BinaryArray.from_buffers(
                    pa.binary(), n,
                    [None, pa.py_buffer(pay_off), pa.py_buffer(out)])
                blk_off = np.zeros(n + 1, np.int32)
                np.cumsum(nblocks, out=blk_off[1:])
                block_sizes = pa.ListArray.from_arrays(
                    pa.array(blk_off, pa.int32()),
                    pa.array(bsz_all.astype(np.int32), pa.int32()))
                flg_off = np.zeros(n + 1, np.int32)
                np.cumsum(fnbytes, out=flg_off[1:])
                block_flags = pa.BinaryArray.from_buffers(
                    pa.binary(), n,
                    [None, pa.py_buffer(flg_off), pa.py_buffer(flags_all)])
                arrays = [
                    rb.column(names.index("doc_id")).slice(i0, n),
                    rb.column(names.index("source")).slice(i0, n),
                    pa.array(lens.astype(np.int32), pa.int32()),
                    pa.array(nblocks.astype(np.int32), pa.int32()),
                    block_sizes, block_flags, payload,
                    pa.array(pbytes, pa.int64()),
                    pa.array(lens * 4, pa.int64()),
                    pa.array(codec_pool[pick]),
                ]
                out_names = ["doc_id", "source", "n_tok", "n_blocks",
                             "block_sizes", "block_flags", "payload",
                             "comp_bytes", "raw_bytes", "codec"]
                for c in passthrough:
                    arrays.append(rb.column(names.index(c)).slice(i0, n))
                    out_names.append(c)
                yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    cols = ["doc_id", tokens_col, "source", *passthrough]
    schema = ENCODED_SCHEMA
    if passthrough:
        extra = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.select(*passthrough).schema.fields)
        schema = f"{ENCODED_SCHEMA}, {extra}"
    return df.select(*cols).mapInArrow(encoder, schema=schema)


def predicted_sizes_by_source(df: DataFrame, params: IbpParams,
                              tokens_col: str = "tokens") -> DataFrame:
    """Per-(source, codec) predicted total bytes for EVERY candidate
    codec over the same data — the analog of the reference's Table-4
    invariance-vs-bitpack comparison (tests/invariance_perc.py:27-76),
    with the whole codec family instead of two baselines.  One
    ``mapInArrow`` scan, no encoding; each sub-batch pre-aggregates at
    (source, codec) grain.  Rows with a null ``source`` are left out of
    the totals."""
    import pyarrow as pa

    _require_int32(df, tokens_col, "predicted_sizes_by_source")
    v = params.vec_size
    too_big = np.iinfo(np.int64).max

    def sizer(batches) -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            values, starts, lens_all = list_array_flat(rb.column(0), 4)
            for i0, i1 in _mass_ranges(lens_all, None):
                lens = lens_all[i0:i1]
                flat = gather_ranges(values, starts[i0:i1], lens
                                     ).view(np.uint32)
                fb = frame_batch_flat(flat, np.cumsum(lens) - lens, lens, v)
                sizes = predict_sizes(flat, lens, fb, params)
                src = rb.column(1).slice(i0, i1 - i0)
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
                yield from agg.select(
                    ["source", "codec", "bytes_sum", "bytes_count"]
                ).rename_columns(
                    ["source", "codec", "total_bytes", "docs"]).to_batches()

    part = df.select(tokens_col, "source").mapInArrow(
        sizer, schema="source string, codec string, total_bytes long, docs long")
    return (part.groupBy("source", "codec")
            .agg(F.sum("total_bytes").alias("total_bytes"),
                 F.sum("docs").alias("docs")))


def decoded_schema(params: IbpParams) -> str:
    """DDL schema of :func:`decode_auto`'s output for these params —
    the single source of truth, shared with the pipeline's empty-fetch
    short-circuit so a zero-row frame unions cleanly with a decoded
    one (float corpora decode to ``array<float>``, not the int
    default)."""
    elem = "float" if params.value_kind == "float32" else "int"
    return (f"doc_id string, tokens array<{elem}>, n_tok int, "
            "source string")


def decode_auto(df: DataFrame, params: IbpParams,
                max_batch_tokens: int | None = None) -> DataFrame:
    """Decode a mixed-codec encoded table (inverse of encode_auto).

    Runs as ``mapInArrow``: each codec group decodes from shared Arrow
    buffers into one flat tokens buffer via offset-table scatters —
    zero per-document Python."""
    import pyarrow as pa

    mask, bitval, v = params.mask, params.bitval, params.vec_size
    as_float = params.value_kind == "float32"

    def decoder(batches) -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            names = rb.schema.names
            n_tok_all = rb.column(names.index("n_tok")).to_numpy(
                zero_copy_only=False).astype(np.int64)
            codec_all = rb.column(names.index("codec")).to_numpy(
                zero_copy_only=False)
            for i0, i1 in _mass_ranges(n_tok_all, max_batch_tokens):
                n = i1 - i0
                sl = rb.slice(i0, n)
                lens = n_tok_all[i0:i1]
                codecs = codec_all[i0:i1]
                pay_flat, pay_starts, pay_lens = binary_array_flat(
                    sl.column(names.index("payload")))
                tok_flat = np.zeros(int(lens.sum()), np.int32)
                tok_starts = np.cumsum(lens) - lens
                for codec in np.unique(codecs):
                    docs = np.flatnonzero(codecs == codec)
                    if codec == "ibp":
                        bs_vals, bs_starts, bs_lens = list_array_flat(
                            sl.column(names.index("block_sizes")), 4)
                        sizes = gather_ranges(
                            bs_vals, bs_starts[docs], bs_lens[docs])
                        flags_flat, flags_starts, _ = binary_array_flat(
                            sl.column(names.index("block_flags")))
                        sub_flat, _ = decode_docs_flat(
                            lens[docs], sizes, flags_flat,
                            flags_starts[docs], pay_flat, pay_starts[docs],
                            mask, bitval, v)
                        vals = sub_flat.view(np.int32)
                    elif codec == "raw":
                        vals = np.ascontiguousarray(gather_ranges(
                            pay_flat, pay_starts[docs], 4 * lens[docs])
                        ).view("<i4").astype(np.int32)
                    else:
                        blob = gather_ranges(
                            pay_flat, pay_starts[docs], pay_lens[docs])
                        vals = getattr(lw, f"decode_{codec}")(
                            blob, pay_lens[docs], lens[docs]).view(np.int32)
                    lw._scatter_rows(tok_flat, tok_starts[docs], vals,
                                     lens[docs])
                tok_off = np.zeros(n + 1, np.int32)
                np.cumsum(lens, out=tok_off[1:])
                if as_float:  # IEEE bit view back to float32
                    tokens_vals = pa.array(tok_flat.view(np.float32),
                                           pa.float32())
                else:
                    tokens_vals = pa.array(tok_flat, pa.int32())
                tokens = pa.ListArray.from_arrays(
                    pa.array(tok_off, pa.int32()), tokens_vals)
                yield pa.RecordBatch.from_arrays(
                    [sl.column(names.index("doc_id")),
                     tokens,
                     pa.array(lens.astype(np.int32), pa.int32()),
                     sl.column(names.index("source"))],
                    names=["doc_id", "tokens", "n_tok", "source"])

    schema = decoded_schema(params)
    return df.select("doc_id", "codec", "n_blocks", "block_sizes",
                     "block_flags", "payload", "n_tok", "source"
                     ).mapInArrow(decoder, schema=schema)
