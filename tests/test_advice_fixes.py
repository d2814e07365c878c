"""Regression tests for the round-3 ADVICE findings.

1. framing.list_array_flat: null ELEMENTS inside array<int> used to be
   reinterpreted via a float64 NaN buffer (silent corruption) — must
   raise; nulls outside every document window (slice artifacts) must
   zero-fill and succeed.
2. selector.encode_docs_auto_flat: a zero-token doc assigned a
   zero-block codec, LAST in the batch, used to write out of bounds in
   the bsz/flag fancy-index scatters.
3. stages.offsets32: >2 GiB of string bytes in one Arrow batch used
   to silently wrap the int32 offset buffer.
"""

import numpy as np
import pyarrow as pa
import pytest

from invariantbitpacking_spark.operators import ibp, selector
from invariantbitpacking_spark.operators.framing import (gather_ranges,
                                                         list_array_flat)
from invariantbitpacking_spark.operators.stages import offsets32
from invariantbitpacking_spark.codecs import numpy_ref as nr


def _tiny_params():
    rng = np.random.default_rng(0)
    mat = rng.integers(0, 32000, (16, 128)).astype(np.int32)
    mask, bitval, _, _ = nr.preprocess(mat.view(np.uint32))
    return ibp.IbpParams(mask, bitval)


def test_list_array_flat_rejects_null_elements():
    col = pa.array([[1, 2, None], [4]], type=pa.list_(pa.int32()))
    with pytest.raises(ValueError, match="null elements"):
        list_array_flat(col, 4)


def test_list_array_flat_rejects_null_elements_chunked():
    col = pa.chunked_array(
        [pa.array([[7]], type=pa.list_(pa.int32())),
         pa.array([[1, None]], type=pa.list_(pa.int32()))])
    with pytest.raises(ValueError, match="null elements"):
        list_array_flat(col, 4)


def test_list_array_flat_allows_out_of_window_nulls():
    # slice keeps the null in the child values buffer but outside every
    # live document window -> must decode cleanly
    full = pa.array([[None, 1], [2, 3], [4]], type=pa.list_(pa.int32()))
    col = full.slice(1, 2)
    flat, starts, lens = list_array_flat(col, 4)
    docs = [flat[s:s + l].tolist() for s, l in zip(starts, lens)]
    assert docs == [[2, 3], [4]]


def test_list_array_flat_null_docs_ok():
    col = pa.array([[5, 6], None, [7]], type=pa.list_(pa.int32()))
    flat, starts, lens = list_array_flat(col, 4)
    assert lens.tolist() == [2, 0, 1]
    assert flat[starts[0]:starts[0] + 2].tolist() == [5, 6]
    assert flat[starts[2]:starts[2] + 1].tolist() == [7]


def _encode_all_ibp(docs, params):
    """Encode docs (int32 arrays or None) with encode_docs_auto_flat
    forced onto ibp; returns (lens, its output tuple)."""
    vals, starts, lens = list_array_flat(
        pa.array(docs, pa.list_(pa.int32())), 4)
    flat = gather_ranges(vals, starts, lens).view(np.uint32)
    return lens, selector.encode_docs_auto_flat(flat, lens, params,
                                                allowed=("ibp",))


def _decode_all_ibp(enc, lens, params):
    from invariantbitpacking_spark.operators.ibp import decode_docs_flat

    _, pay_flat, pbytes, sizes, _, flags_flat, fnbytes = enc
    flat, _ = decode_docs_flat(lens, sizes, flags_flat,
                               np.cumsum(fnbytes) - fnbytes, pay_flat,
                               np.cumsum(pbytes) - pbytes, params.mask,
                               params.bitval, params.vec_size)
    flat = flat.view(np.int32)
    starts = np.cumsum(lens) - lens
    return [flat[s:s + l] for s, l in zip(starts.tolist(), lens.tolist())]


def test_empty_doc_last_in_batch_zero_block_codec():
    params = _tiny_params()
    rng = np.random.default_rng(1)
    tokens = rng.integers(0, 32000, 300).astype(np.int32)
    # empty doc LAST and forced onto ibp (a zero-block codec):
    # blk_start[last] == len(bsz_all) without the fancy-index mask
    lens, enc = _encode_all_ibp([tokens, None], params)
    _, _, comp_bytes, _, nblocks, _, _ = enc
    assert lens.tolist() == [300, 0]
    assert comp_bytes[1] == 0 and nblocks[1] == 0
    dec = _decode_all_ibp(enc, lens, params)
    assert np.array_equal(dec[0], tokens)
    assert dec[1].size == 0


def test_empty_doc_mid_batch_zero_block_codec():
    params = _tiny_params()
    rng = np.random.default_rng(2)
    a = rng.integers(0, 32000, 300).astype(np.int32)
    b = rng.integers(0, 32000, 130).astype(np.int32)
    lens, enc = _encode_all_ibp([a, None, b], params)
    dec = _decode_all_ibp(enc, lens, params)
    assert np.array_equal(dec[0], a)
    assert dec[1].size == 0
    assert np.array_equal(dec[2], b)


def test_offsets32_guard():
    off = offsets32(np.array([10, 20], np.int64), 2)
    assert off.dtype == np.int32 and off.tolist() == [0, 10, 30]
    with pytest.raises(ValueError, match="int32-offset"):
        offsets32(np.array([2**31], np.int64), 1)


def test_fsst_decode_raises_on_out_of_table_code():
    """Round-4 ADVICE: a non-escape code >= table.size (corrupt stream
    or table mismatch) must raise, not silently shorten the output."""
    from invariantbitpacking_spark.codecs import fsst

    corpus = [b"the quick brown fox the quick", b"the the the fox"] * 8
    flat, lens = fsst.strings_to_flat([c.decode() for c in corpus])
    table = fsst.build_table(flat)
    assert 0 < table.size < 250  # room for an out-of-table code
    enc, enc_lens = fsst.encode_strings(flat, lens, table)
    # round-trips cleanly before corruption
    dec, dec_lens = fsst.decode_strings(enc, enc_lens, table)
    assert np.array_equal(dec, flat) and np.array_equal(dec_lens, lens)
    # corrupt: overwrite the first code with one past the table
    bad = enc.copy()
    bad[0] = table.size  # < ESCAPE, not preceded by a marker
    with pytest.raises(ValueError, match="corrupt stream"):
        fsst.decode_strings(bad, enc_lens, table)
