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
to the reference while short documents pay no padding tax.  A batch is
framed as ONE zero-padded ``[blocks, vec_size]`` matrix with per-block
widths, so each kernel (bit counts, the threshold evaluator, sizes,
encode, decode) is one ``numpy_ref`` call per batch, whatever its mix
of tail widths; the padding never reaches the stored bytes.

Codec parameters ride to executors inside the UDF closure (they are
``vec_size`` words — broadcast-variable semantics without the
ceremony).  All hot loops are whole-batch numpy over Arrow data.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..codecs import numpy_ref as nr
from . import framing, stages
from .framing import (UNSIGNED_DT, VEC_SIZE, FramedBatch,
                      binary_array_flat, block_layout, frame_batch_flat,
                      gather_ranges, list_array_flat, unframe_flat)


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


def _elem_bytes(schema: StructType, tokens_col: str) -> int:
    """Element width from the Spark schema: 1 for array<tinyint>, 2 for
    array<smallint>, 4 for array<int> OR array<float>, 8 for
    array<bigint> OR array<double> — the full reference element-size
    dispatch (src/preprocess.cu:25-26, 56-72 instantiates
    int8/int16/int32/ull; the float widths cover its practice of
    viewing float tensors as integer words,
    tests/nvcomp_comparison.py:39 / tests/invariance_perc.py:112)."""
    from pyspark.sql.types import (ArrayType, ByteType, DoubleType,
                                   LongType, ShortType)

    dt = schema[tokens_col].dataType
    if isinstance(dt, ArrayType):
        if isinstance(dt.elementType, ByteType):
            return 1
        if isinstance(dt.elementType, ShortType):
            return 2
        if isinstance(dt.elementType, (LongType, DoubleType)):
            return 8
    return 4


def _value_kind(schema: StructType, tokens_col: str) -> str:
    """'float32' / 'float64' for float element types (encoded via IEEE
    bit view, decoded back to the same float type), 'int' otherwise."""
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    dt = schema[tokens_col].dataType
    if isinstance(dt, ArrayType):
        if isinstance(dt.elementType, FloatType):
            return "float32"
        if isinstance(dt.elementType, DoubleType):
            return "float64"
    return "int"


def token_stage(kernel, schema, tokens_col: str,
                reads: tuple[str, ...]) -> stages.Stage:
    """A stage over rows of a token list column, sub-batched by token
    mass up to ``framing.MAX_BATCH_TOKENS``."""
    return stages.Stage(kernel, schema, stages.list_mass(tokens_col),
                        framing.MAX_BATCH_TOKENS, reads)


def framed_stage(fn, schema: str, tokens_col: str, item_bytes: int,
                 vec_size: int, reads: tuple[str, ...] | None = None
                 ) -> stages.Stage:
    """A token stage whose kernel frames each sub-batch's
    ``tokens_col`` into codec blocks and returns ``fn(rb,
    framed_batch)``."""
    def kernel(rb):
        flat, starts, lens = list_array_flat(rb.column(tokens_col),
                                             item_bytes)
        return fn(rb, frame_batch_flat(flat, starts, lens, vec_size))

    return token_stage(kernel, stages.fixed(schema), tokens_col,
                       reads or (tokens_col,))


# ---------------------------------------------------------------------------
# learn_params (preprocess)
# ---------------------------------------------------------------------------

def _batch_counts(fb: FramedBatch, vec_size: int, word_bits: int = 32):
    """Set-bit counts [v, W] + per-column block coverage [v].  Zero
    padding sets no bit, and a column's coverage is the number of
    blocks wider than it."""
    if not fb.widths.size:
        return (np.zeros((vec_size, word_bits), np.int64),
                np.zeros(vec_size, np.int64))
    narrower = np.cumsum(np.bincount(fb.widths, minlength=vec_size + 1))
    return nr.count_bits(fb.blocks), fb.widths.size - narrower[:vec_size]


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
    ib = _elem_bytes(df.schema, tokens_col)
    w = ib * 8
    pos = np.concatenate(
        [[-1], np.arange(vec_size * w + vec_size)]).astype(np.int32)

    def counter(rb, fb):
        counts, cov = _batch_counts(fb, vec_size, w)
        return pa.RecordBatch.from_arrays(
            [pa.array(pos, pa.int32()),
             pa.array(np.concatenate(
                 [[int(fb.nblocks.sum())], counts.reshape(-1), cov]
             ).astype(np.int64), pa.int64())],
            names=["pos", "cnt"])

    partial = stages.apply(df, framed_stage(
        counter, "pos int, cnt long", tokens_col, ib, vec_size))
    return partial.groupBy("pos").agg(F.sum("cnt").alias("cnt"))


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
    ib = _elem_bytes(df.schema, tokens_col)
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

    # Single evaluation pass for ALL thresholds: per batch, per-block
    # gated savings (ibp_preproc_kernels.cuh:69-72) summed per candidate,
    # each block gated at its own width.
    def evaluator(rb, fb):
        saveds = [nr.check_feats(fb.blocks, m, b, fb.widths)
                  for m, b in cands]
        return pa.RecordBatch.from_arrays(
            [pa.array(np.arange(len(grid), dtype=np.int32)),
             pa.array(saveds, pa.int64())],
            names=["ti", "saved"])

    ev = (
        stages.apply(eval_df, framed_stage(
            evaluator, "ti int, saved long", tokens_col, ib, vec_size))
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
    vk = _value_kind(df.schema, tokens_col)
    if best_g is None:
        z = np.zeros(vec_size, udt)
        return IbpParams(z, z.copy(), vec_size, None, 0, num_vecs,
                         value_kind=vk)
    if eval_sample_fraction is not None and eval_sample_fraction < 1.0:
        # saved_bits is lineage provenance; scale the sampled sum back
        # to a corpus-level estimate
        best_saved = int(best_saved / eval_sample_fraction)
    mask, bitval = cands[best_g]
    return IbpParams(mask, bitval, vec_size, float(grid[best_g]), best_saved,
                     num_vecs, value_kind=vk)


# ---------------------------------------------------------------------------
# encode / decode
# ---------------------------------------------------------------------------

ENCODED_SCHEMA = (
    "doc_id string, source string, n_tok int, n_blocks int, "
    "block_sizes array<int>, block_flags binary, payload binary, "
    "comp_bytes long, raw_bytes long, codec string"
)


def _doc_sums(x: np.ndarray, nblocks: np.ndarray) -> np.ndarray:
    """Per-doc sums of the doc-major per-block values ``x``."""
    if not len(nblocks):
        return np.zeros(0, np.int64)
    blk_start = np.cumsum(nblocks) - nblocks
    # zero-block docs sit at blk_start == len(x): pad, then zero them
    return (np.add.reduceat(np.append(x, 0), np.minimum(blk_start, x.size))
            * (nblocks > 0)).astype(np.int64)


def _flag_bitmaps(nblocks: np.ndarray, is_comp: np.ndarray):
    """Every doc's byte-padded LSB-first compressed-flag bitmap, packed
    back-to-back in ONE packbits call: ``(flags_packed, flag_nbytes)``."""
    flag_bits = ((nblocks + 7) // 8) * 8
    shift = np.cumsum(flag_bits) - flag_bits - (np.cumsum(nblocks) - nblocks)
    bigbits = np.zeros(int(flag_bits.sum()), np.uint8)
    bigbits[np.repeat(shift, nblocks) + np.arange(is_comp.size)] = is_comp
    return np.packbits(bigbits, bitorder="little"), flag_bits // 8


def encode_batch_flat(fb: FramedBatch, mask: np.ndarray, bitval: np.ndarray):
    """Encode one framed batch into ONE doc-major buffer: one
    ``encode_concat`` call over the block matrix, whose blobs already
    sit doc-major, so no per-doc Python and no byte scatter.

    Returns ``(buf, doc_bytes, sizes, flags_packed, flag_nbytes)``:
    ``buf`` uint8 holds every doc's blocks back-to-back doc-major,
    ``doc_bytes`` int64[ndocs] each doc's payload span in ``buf``,
    ``sizes`` int64[sum(nblocks)] the flat doc-major per-block byte
    sizes, ``flags_packed`` uint8 the per-doc byte-padded LSB-first
    compressed bitmaps back-to-back, ``flag_nbytes`` int64[ndocs] each
    doc's bitmap width in ``flags_packed``."""
    buf, sizes, is_comp = nr.encode_concat(fb.blocks, mask, bitval,
                                           fb.widths)
    return (buf, _doc_sums(sizes, fb.nblocks), sizes,
            *_flag_bitmaps(fb.nblocks, is_comp))


def encoded_batch(rb, lens, nblocks, sizes, flags, flag_nbytes, payload,
                  pbytes, codec, item_bytes: int = 4, clusters=None,
                  extra=()):
    """One encoded-row RecordBatch (:data:`ENCODED_SCHEMA` column order)
    from flat per-batch buffers: ``sizes`` the doc-major block sizes,
    ``flags``/``payload`` the doc-major flag bitmaps and payloads with
    per-doc extents ``flag_nbytes``/``pbytes``.  ``codec`` is one name
    or a per-doc array; ``clusters`` (one u8 per block) adds the
    ``block_clusters`` column; ``extra`` columns ride through from
    ``rb``."""
    n = len(lens)
    cols = {
        "doc_id": rb.column("doc_id"), "source": rb.column("source"),
        "n_tok": pa.array(lens.astype(np.int32), pa.int32()),
        "n_blocks": pa.array(nblocks.astype(np.int32), pa.int32()),
        "block_sizes": stages.list_col(
            pa.array(sizes.astype(np.int32), pa.int32()), nblocks),
        "block_flags": stages.binary_col(flags, flag_nbytes),
    }
    if clusters is not None:
        cols["block_clusters"] = stages.binary_col(clusters, nblocks)
    cols.update({
        "payload": stages.binary_col(payload, pbytes),
        "comp_bytes": pa.array(pbytes, pa.int64()),
        "raw_bytes": pa.array(lens * item_bytes, pa.int64()),
        "codec": pa.array(np.full(n, codec, object) if isinstance(codec, str)
                          else codec),
    })
    for c in extra:
        cols[c] = rb.column(c)
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


def encode_ibp(df: DataFrame, params: IbpParams,
               tokens_col: str = "tokens") -> DataFrame:
    """Encode the tokens table into per-document condensed blobs.

    Output row = one document: ``payload`` holds its blocks'
    back-to-back blobs (full blocks then the ragged tail),
    ``block_sizes`` their byte sizes, ``block_flags`` the per-block
    compressed bitmap (LSB-first — the reference's ``bitmask`` int32
    array, src/compress.cu:214-215).  A pure narrow projection.
    Element width follows ``params.mask.dtype`` (4- or 8-byte words,
    src/compress.cu:192).

    Runs as one Arrow stage: tokens arrive as one Arrow values buffer +
    offsets (no pandas conversion, no per-doc array objects), and every
    output column is built from one flat numpy buffer + offsets — the
    whole encode is zero per-document Python."""
    mask, bitval, ib = params.mask, params.bitval, params.item_bytes

    def encode(rb, fb):
        buf, doc_bytes, sizes, flags, flag_nb = encode_batch_flat(
            fb, mask, bitval)
        return encoded_batch(rb, fb.lens, fb.nblocks, sizes, flags, flag_nb,
                             buf, doc_bytes, "ibp", ib)

    return stages.apply(df, framed_stage(
        encode, ENCODED_SCHEMA, tokens_col, ib, params.vec_size,
        reads=("doc_id", tokens_col, "source")))


def sizes_ibp(df: DataFrame, params: IbpParams,
              tokens_col: str = "tokens") -> DataFrame:
    """Per-document IBP compressed size WITHOUT encoding — the
    DataFrame face of :func:`predict_sizes_ibp` (the reference's
    get_compress_size operator, src/compress.cu:25-174).  One predicate
    pass over the framed tokens: no payload assembly, no flag packing,
    no output buffers — for size-only consumers (offset scans, planning)
    this costs a fraction of a full :func:`encode_ibp` evaluation."""
    mask, bitval = params.mask, params.bitval

    def sizer(rb, fb):
        return pa.RecordBatch.from_arrays(
            [rb.column("doc_id"),
             pa.array(fb.lens.astype(np.int32), pa.int32()),
             pa.array(predict_sizes_ibp(fb, mask, bitval), pa.int64())],
            names=["doc_id", "n_tok", "comp_bytes"])

    return stages.apply(df, framed_stage(
        sizer, "doc_id string, n_tok int, comp_bytes long", tokens_col,
        params.item_bytes, params.vec_size, reads=("doc_id", tokens_col)))


class _BlockTable(NamedTuple):
    """Doc-major block layout of a batch of encoded documents: every
    block's payload offset, byte size, compressed flag and width."""

    lens: np.ndarray
    nblocks: np.ndarray
    within: np.ndarray        # block ordinal inside its doc
    offsets: np.ndarray       # payload byte offset
    sizes: np.ndarray
    is_comp: np.ndarray
    widths: np.ndarray
    vec_size: int

    def decode(self, pay_flat, mask, bitval, sel=slice(None)):
        """Decode blocks ``sel`` (default: all) with one (mask, bitval)
        into rows of the framed ``[blocks, vec_size]`` layout."""
        return nr.decode_concat(
            gather_ranges(pay_flat, self.offsets[sel], self.sizes[sel]),
            self.sizes[sel], self.is_comp[sel], self.vec_size, mask, bitval,
            self.widths[sel])


def _block_table(lens, sizes, flags_flat, flags_starts, pay_starts,
                 v: int) -> _BlockTable:
    """The block layout of encoded docs.  Per-doc payload/flag spans are
    addressed through explicit start offsets into shared buffers."""
    lens = np.asarray(lens, np.int64)
    nblocks, blk_start, widths = block_layout(lens, v)
    nb_tot = widths.size
    sizes = np.asarray(sizes, np.int64)
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
    return _BlockTable(lens, nblocks, within, offsets, sizes, is_comp,
                       widths, v)


def decode_docs_flat(lens: np.ndarray, sizes: np.ndarray,
                     flags_flat: np.ndarray, flags_starts: np.ndarray,
                     pay_flat: np.ndarray, pay_starts: np.ndarray,
                     mask: np.ndarray, bitval: np.ndarray, v: int):
    """Decode a batch of encoded documents — the vectorized inverse of
    :func:`encode_batch_flat`, one ``decode_concat`` call over every
    block.  Per-doc payload/flag spans are addressed through explicit
    start offsets into shared buffers — no joins, no per-doc bytes
    objects.  Returns ``(tok_flat, tok_starts)`` in the ListArray
    layout."""
    bt = _block_table(lens, sizes, flags_flat, flags_starts, pay_starts, v)
    return unframe_flat(bt.lens, bt.decode(pay_flat, mask, bitval))


def predict_sizes_ibp(fb: FramedBatch, mask: np.ndarray,
                      bitval: np.ndarray) -> np.ndarray:
    """Per-document IBP compressed size WITHOUT encoding (the
    get_compress_size operator, src/compress.cu:25-174) — one predicate
    pass over the framed batch."""
    return _doc_sums(nr.comp_sizes_matrix(fb.blocks, mask, bitval,
                                          fb.widths), fb.nblocks)


class EncodedRows(NamedTuple):
    """The flat buffers of one batch of encoded rows."""

    lens: np.ndarray          # int64 n_tok per doc
    block_sizes: tuple        # (values, starts, lens) of block_sizes
    flags: np.ndarray
    flag_starts: np.ndarray
    payload: np.ndarray
    pay_starts: np.ndarray
    pay_lens: np.ndarray

    def sizes(self, docs=slice(None)) -> np.ndarray:
        """Doc-major block sizes of ``docs`` (default: every doc)."""
        vals, starts, lens = self.block_sizes
        return gather_ranges(vals, starts[docs], lens[docs])


def read_encoded_rows(rb) -> EncodedRows:
    """Flat views of an encoded-row batch's n_tok, block_sizes,
    block_flags and payload columns."""
    flags, flag_starts, _ = binary_array_flat(rb.column("block_flags"))
    return EncodedRows(
        rb.column("n_tok").to_numpy(zero_copy_only=False).astype(np.int64),
        list_array_flat(rb.column("block_sizes"), 4), flags, flag_starts,
        *binary_array_flat(rb.column("payload")))


# decoded token element: (Spark type, numpy dtype) by item width, or
# by value kind for float corpora
_ELEM_TYPES = {1: ("tinyint", np.int8), 2: ("smallint", np.int16),
               4: ("int", np.int32), 8: ("bigint", np.int64),
               "float32": ("float", np.float32),
               "float64": ("double", np.float64)}


def _elem_type(params) -> tuple[str, type]:
    return _ELEM_TYPES[params.value_kind if params.value_kind != "int"
                       else params.item_bytes]


def decoded_schema(params: IbpParams) -> str:
    """DDL schema of a decoder's output for these params (float
    corpora decode to ``array<float>``, not the int default)."""
    return (f"doc_id string, tokens array<{_elem_type(params)[0]}>, "
            "n_tok int, source string")


def decoded_batch(rb, tok_flat: np.ndarray, lens: np.ndarray, dtype):
    """Decoded-row RecordBatch ``(doc_id, tokens, n_tok, source)``; the
    token words are viewed as ``dtype`` (float corpora round-trip
    through their IEEE bit patterns)."""
    return pa.RecordBatch.from_arrays(
        [rb.column("doc_id"),
         stages.list_col(pa.array(tok_flat.view(dtype)), lens),
         pa.array(lens.astype(np.int32), pa.int32()),
         rb.column("source")],
        names=["doc_id", "tokens", "n_tok", "source"])


def decoding_stage(kernel, schema: str, *extra_reads: str) -> stages.Stage:
    """A stage over encoded rows, sub-batched by decoded token mass
    (``n_tok``) up to ``framing.MAX_BATCH_TOKENS``."""
    return stages.Stage(
        kernel, stages.fixed(schema), stages.value_mass("n_tok"),
        framing.MAX_BATCH_TOKENS,
        ("doc_id", "source", "n_tok", "block_sizes", "block_flags",
         "payload", *extra_reads))


def decode_ibp(df: DataFrame, params: IbpParams) -> DataFrame:
    """Decode an encoded table back to ``(doc_id, tokens, n_tok,
    source)`` — per-row inverse, bit-identical token arrays.  The
    tokens element type follows ``params.item_bytes`` (tinyint /
    smallint / int / bigint).

    Runs as one Arrow stage: payload/flag/size columns are consumed as
    shared Arrow buffers with per-doc offsets, and the decoded tokens
    column is emitted as ONE values buffer + offsets — zero
    per-document Python end to end."""
    mask, bitval, v = params.mask, params.bitval, params.vec_size
    elem = _elem_type(params)[1]

    def decode(rb):
        e = read_encoded_rows(rb)
        tok_flat, _ = decode_docs_flat(
            e.lens, e.sizes(), e.flags, e.flag_starts, e.payload,
            e.pay_starts, mask, bitval, v)
        return decoded_batch(rb, tok_flat, e.lens, elem)

    return stages.apply(df, decoding_stage(decode, decoded_schema(params)))
