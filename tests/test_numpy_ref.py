"""Golden + property tests for the pure-numpy IBP reference codec.

Micro-vectors are fully hand-computed expected byte strings (FIXTURES.md
§4); property tests mirror the reference's generated-tensor coverage
(reference tests/compress_test.py:29-46)."""

import numpy as np
import pytest

from invariantbitpacking_spark.codecs import numpy_ref as nr


def u32(*vals):
    return np.array(vals, np.uint32)


class TestCompSizeFormula:
    def test_basic(self):
        # v=8 int32, all elements save 16 bits: meta=align(1,4)=4,
        # data=align(32-16,4)=16 -> 20
        assert nr.comp_size(8, 128, 4) == 20

    def test_never_expands(self):
        assert nr.comp_size(8, 0, 4) == 32  # clamped to vec_bytes

    def test_header_alignment_v33(self):
        # meta=align(ceil(33/8)=5,4)=8; data=align(132-99,4)=36 -> 44
        assert nr.comp_size(33, 33 * 24, 4) == 44

    def test_floor_division_of_saved_bits(self):
        # saved=9 bits -> only 1 byte reclaimed pre-align; clamped to raw
        assert nr.comp_size(8, 9, 4) == 32
        # saved=65 bits -> 8 bytes reclaimed: 4 + align(24,4) = 28
        assert nr.comp_size(8, 65, 4) == 28


class TestEncodeMicroVectors:
    def test_contiguous_high_mask(self):
        vals = u32(0x0000ABCD, 0xFFFF0123, 0xFFFF4567, 0x000089AB,
                   0x0000CDEF, 0x00000011, 0xFFFF2233, 0x00004455)
        mask = np.full(8, 0xFFFF0000, np.uint32)
        bitval = (vals & mask)  # every element passes the predicate
        flat, sizes, is_comp = nr.encode_concat(vals[None, :], mask, bitval)
        assert sizes[0] == 20 and bool(is_comp[0])
        expect = bytes([0xFF, 0, 0, 0,
                        0x23, 0x01, 0xCD, 0xAB,
                        0xAB, 0x89, 0x67, 0x45,
                        0x11, 0x00, 0xEF, 0xCD,
                        0x55, 0x44, 0x33, 0x22])
        assert flat.tobytes() == expect

    def test_noncontiguous_mask_with_verbatim_element(self):
        # mask 0xF0F0F0F0: CLZ run-extraction interleaves 4-bit free runs
        vals = u32(*([0x1A3B5C7D] + [0xDEADBEEF] + [0x1A3B5C7D] * 6))
        mask = np.full(8, 0xF0F0F0F0, np.uint32)
        bitval = np.full(8, 0x10305070, np.uint32)
        flat, sizes, is_comp = nr.encode_concat(vals[None, :], mask, bitval)
        assert sizes[0] == 24 and bool(is_comp[0])
        expect = bytes([0xFD, 0, 0, 0,
                        0xAD, 0xDE, 0xCD, 0xAB,
                        0xCD, 0xAB, 0xEF, 0xBE,
                        0xCD, 0xAB, 0xCD, 0xAB,
                        0xCD, 0xAB, 0xCD, 0xAB,
                        0x00, 0x00, 0xCD, 0xAB])
        assert flat.tobytes() == expect

    def test_v33_header_spans_words(self):
        vals = np.arange(33, dtype=np.uint32)
        mask = np.full(33, 0xFFFFFF00, np.uint32)
        bitval = np.zeros(33, np.uint32)
        flat, sizes, is_comp = nr.encode_concat(vals[None, :], mask, bitval)
        assert sizes[0] == 44 and bool(is_comp[0])
        hdr = bytes([0xFF, 0xFF, 0xFF, 0xFF, 0x01, 0, 0, 0])
        stream = bytes(range(33)) + bytes(3)  # zero-padded to 36
        payload = b"".join(stream[i:i + 4][::-1] for i in range(0, 36, 4))
        assert flat.tobytes() == hdr + payload

    def test_not_smaller_stays_verbatim(self):
        # comp_size == vec_bytes exactly -> strict rule keeps verbatim
        vals = u32(0x0000ABCD, 0xFFFF0123)
        mask = np.full(2, 0xFFFF0000, np.uint32)
        bitval = vals & mask
        flat, sizes, is_comp = nr.encode_concat(vals[None, :], mask, bitval)
        assert sizes[0] == 8 and not bool(is_comp[0])
        assert flat.tobytes() == vals.astype("<u4").tobytes()

    def test_incompressible_verbatim(self):
        rng = np.random.default_rng(1)
        vals = rng.integers(0, 2**32, (4, 16), dtype=np.uint32)
        mask = np.zeros(16, np.uint32)
        bitval = np.zeros(16, np.uint32)
        flat, sizes, is_comp = nr.encode_concat(vals, mask, bitval)
        assert not is_comp.any()
        assert (sizes == 64).all()
        # four verbatim rows back-to-back
        assert flat.tobytes() == vals.astype("<u4").tobytes()


class TestRoundTrip:
    @pytest.mark.parametrize("dtype", [np.uint8, np.uint16, np.uint32, np.uint64])
    @pytest.mark.parametrize("v", [5, 32, 33, 64, 128])
    def test_random_masks(self, dtype, v):
        rng = np.random.default_rng(42)
        w = np.dtype(dtype).itemsize * 8
        info_max = np.iinfo(dtype).max
        def randu(shape):
            return rng.integers(0, info_max, shape, dtype=dtype, endpoint=True)

        for trial in range(6):
            mask = randu(v)
            bitval = randu(v) & mask
            data = randu((40, v))
            # force ~half the rows to match the predicate on most elements
            half = data[:20]
            hit = rng.random((20, v)) < 0.9
            half[hit] = (half & ~mask[None, :].astype(dtype))[hit] | np.broadcast_to(bitval, (20, v))[hit]
            flat, sizes, is_comp = nr.encode_concat(data, mask, bitval)
            assert sizes.tolist() == nr.comp_sizes_matrix(data, mask, bitval).tolist()
            assert len(flat) == sizes.sum()
            out = nr.decode_concat(flat, sizes, is_comp, v, mask, bitval)
            np.testing.assert_array_equal(out, data)

    def test_semidense_canonical_win(self):
        # shared high-zero prefix (reference tests/compress_test.py:43-46)
        rng = np.random.default_rng(7)
        data = rng.integers(0, 2**31 // 100, (64, 128), dtype=np.int64).astype(np.uint32)
        mask, bitval, theta, saved = nr.preprocess(data)
        assert saved > 0
        flat, sizes, is_comp = nr.encode_concat(data, mask, bitval)
        assert is_comp.all()
        assert sizes.sum() < data.nbytes
        out = nr.decode_concat(flat, sizes, is_comp, 128, mask, bitval)
        np.testing.assert_array_equal(out, data)

    def test_constant_rows(self):
        data = np.full((16, 64), 0x1234ABCD, np.uint32)
        mask, bitval, _, _ = nr.preprocess(data)
        assert (mask == 0xFFFFFFFF).all()
        flat, sizes, is_comp = nr.encode_concat(data, mask, bitval)
        # header-only payload: meta=align(8,4)=8, data=align(256-256,4)=0
        assert (sizes == 8).all() and is_comp.all()
        out = nr.decode_concat(flat, sizes, is_comp, 64, mask, bitval)
        np.testing.assert_array_equal(out, data)

    def test_adversarial_dense_uniform(self):
        rng = np.random.default_rng(3)
        data = rng.integers(0, 2**31, (100, 100), dtype=np.int64).astype(np.uint32)
        mask, bitval, _, _ = nr.preprocess(data)
        flat, sizes, is_comp = nr.encode_concat(data, mask, bitval)
        out = nr.decode_concat(flat, sizes, is_comp, 100, mask, bitval)
        np.testing.assert_array_equal(out, data)

    @pytest.mark.parametrize("rate", [0.125, 0.25, 0.5, 0.75, 0.9])
    def test_constructed_rate_masks_over_zeros(self, rate):
        # mirrors make_mask_and_bitval (tests/decompression_thput.py:15-26):
        # constructed mask hitting a target compression rate over zeros
        rng = np.random.default_rng(int(rate * 1000))
        v = 256
        nbits = int(v * 32 * rate)
        flat = np.zeros(v * 32, np.uint8)
        flat[rng.choice(v * 32, nbits, replace=False)] = 1
        mask = np.packbits(flat.reshape(v, 32)[:, ::-1], axis=1, bitorder="little")
        mask = mask.copy().view("<u4").reshape(v)
        bitval = np.zeros(v, np.uint32)
        data = np.zeros((32, v), np.uint32)
        flat, sizes, is_comp = nr.encode_concat(data, mask, bitval)
        expect = nr.comp_size(v, nbits * 1, 4)  # per row: all elements pass
        saved_per_row = int(nr._popcount(mask).sum())
        assert (sizes == nr.comp_size(v, saved_per_row, 4)).all()
        assert expect == sizes[0]
        out = nr.decode_concat(flat, sizes, is_comp, v, mask, bitval)
        np.testing.assert_array_equal(out, data)


class TestPreprocess:
    def test_counts(self):
        data = u32(0b1010, 0b0110).reshape(2, 1)
        c = nr.count_bits(data)
        assert c.shape == (1, 32)
        assert c[0, 0] == 0 and c[0, 1] == 2 and c[0, 2] == 1 and c[0, 3] == 1

    def test_create_mask_strict_thresholds(self):
        # 10 vectors; bit set in exactly 9 -> 9 > 0.9*10 is False (strict)
        counts = np.zeros((1, 32), np.int64)
        counts[0, 5] = 9
        mask, bitval = nr.create_mask(counts, 10, 0.9)
        assert mask[0] == (1 << 5) or (mask[0] & (1 << 5)) == 0  # sanity
        # 9 > 9.0 false and 9 < 1.0 false -> bit 5 not invariant
        assert (mask[0] >> 5) & 1 == 0
        counts[0, 5] = 10
        mask, bitval = nr.create_mask(counts, 10, 0.9)
        assert (mask[0] >> 5) & 1 == 1 and (bitval[0] >> 5) & 1 == 1
        # all-zero bit: count 0 < (1-0.9)*10=1.0 -> invariant-0
        assert (mask[0] >> 6) & 1 == 1 and (bitval[0] >> 6) & 1 == 0

    def test_check_feats_header_gate(self):
        # savings <= vec_size bits are discarded per vector
        v = 64
        data = np.zeros((4, v), np.uint32)
        mask = np.zeros(v, np.uint32)
        mask[0] = 0xFFFFFFFF  # 32 saved bits < v=64 -> gated to 0
        bitval = np.zeros(v, np.uint32)
        assert nr.check_feats(data, mask, bitval) == 0
        mask[1] = 0xFFFFFFFF  # 64 saved, not > 64 -> still 0
        assert nr.check_feats(data, mask, bitval) == 0
        mask[2] = 0xFFFFFFFF  # 96 saved > 64 -> 96-64 per vector
        assert nr.check_feats(data, mask, bitval) == 4 * (96 - 64)

    def test_sweep_grid(self):
        grid = nr.sweep_thresholds()
        assert abs(grid[0] - 0.7) < 1e-6
        assert len(grid) in (6, 7)
        assert all(b > a for a, b in zip(grid, grid[1:]))

    def test_engineered_best_threshold(self):
        # 95% of rows share invariant high bits in cols 0..63; 5% differ.
        rng = np.random.default_rng(11)
        n, v = 400, 128
        data = rng.integers(0, 2**32, (n, v), dtype=np.uint64).astype(np.uint32)
        pattern = np.uint32(0xABCD0000)
        nshare = int(n * 0.95)
        data[:nshare, :64] = (data[:nshare, :64] & np.uint32(0xFFFF)) | pattern
        mask, bitval, theta, saved = nr.preprocess(data)
        assert saved > 0
        # selected mask must cover the 16 engineered bits in cols 0..63
        assert ((mask[:64] & np.uint32(0xFFFF0000)) == np.uint32(0xFFFF0000)).all()
        assert ((bitval[:64] & np.uint32(0xFFFF0000)) == pattern).all()
        assert theta is not None and theta <= 0.95 + 1e-6


class TestReferenceGeneratedTensors:
    """The reference's own generated-tensor cases
    (tests/compress_test.py:29-46), including float bit patterns
    reinterpreted as integer words."""

    def _roundtrip(self, mat):
        mask, bitval, _, _ = nr.preprocess(mat)
        flat, sizes, is_comp = nr.encode_concat(mat, mask, bitval)
        out = nr.decode_concat(flat, sizes, is_comp, mat.shape[1], mask, bitval)
        np.testing.assert_array_equal(out, nr._as_unsigned(mat))
        assert (sizes <= mat.shape[1] * mat.dtype.itemsize).all()

    def test_rand_float32_view(self):
        rng = np.random.default_rng(0)
        f = rng.random((1200, 128), dtype=np.float32)
        self._roundtrip(f.view(np.uint32))

    def test_rand_float64_view(self):
        rng = np.random.default_rng(1)
        f = rng.random((600, 128)).astype(np.float64)
        self._roundtrip(f.view(np.uint64))

    def test_randint_int32_and_int64_views(self):
        rng = np.random.default_rng(2)
        d = rng.integers(0, 2**31, (100, 100), dtype=np.int64).astype(np.int32)
        self._roundtrip(d.view(np.uint32))
        d64 = np.ascontiguousarray(d).view(np.int64)  # pairs of int32 words
        self._roundtrip(d64.view(np.uint64))

    def test_semidense_int32(self):
        rng = np.random.default_rng(3)
        d = rng.integers(0, 2**31 // 100, (6, 100), dtype=np.int64).astype(np.int32)
        self._roundtrip(d.view(np.uint32))
        # the canonical IBP win: shared high-zero prefix compresses
        mask, bitval, _, _ = nr.preprocess(d.view(np.uint32))
        _, sizes, _ = nr.encode_concat(d.view(np.uint32), mask, bitval)
        assert sizes.sum() < d.nbytes
