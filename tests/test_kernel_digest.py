"""Byte pin of the IBP kernel layer on ragged batches.

Seeded ragged batches at every element width (1/2/4/8 bytes) and two
vector sizes (128 and 33), with document lengths 0, 1, v-1, v, v+1 and
multiples of v among random ones, go through each kernel the operators
build on:

- ``ibp.encode_batch_flat`` (all five outputs)
- ``ibp.predict_sizes_ibp``
- ``ibp._batch_counts`` (set-bit counts and per-column coverage)
- the learn evaluator's savings for each swept threshold, through
  ``ibp.learn_params(threshold=t)``
- ``kmeans._encode_kmeans_flat`` (all six outputs, 4-byte words)

and the sha256 of their outputs must equal the digests recorded before
the batch layout became one zero-padded block matrix: the layout is a
compute choice, and the stored bytes, sizes, counts and savings do not
depend on it.  The encoded batches must also decode back bit for bit.
"""

import hashlib

import numpy as np
import pytest

from invariantbitpacking_spark.codecs import numpy_ref as nr
from invariantbitpacking_spark.operators import ibp, kmeans
from invariantbitpacking_spark.operators.framing import (SIGNED_DT,
                                                         UNSIGNED_DT,
                                                         frame_batch_flat)

CASES = [(ib, v) for ib in (1, 2, 4, 8) for v in (128, 33)]


def _batch(itemsize: int, v: int):
    """``(flat, starts, lens, mask, bitval)`` of one seeded ragged batch:
    each column keeps its low bits free and its high bits invariant,
    and each document breaks the invariant at its own noise rate."""
    rng = np.random.default_rng(1000 * itemsize + v)
    w = 8 * itemsize
    full = (1 << w) - 1
    lens = np.array([0, 1, v - 1, v, v + 1, 2 * v, 3 * v, 0, 2 * v - 1, 5]
                    + rng.integers(0, 4 * v, 30).tolist(), np.int64)
    free = np.array([w - max(2, w // 4) - j % 3 for j in range(v)])
    mask = np.array([full & ~((1 << int(f)) - 1) for f in free], np.uint64)
    bitval = np.array([int(x) for x in rng.integers(0, 1 << 62, v)],
                      np.uint64) & mask
    rates = np.array([0.0, 0.0, 0.01, 0.3, 1.0])[rng.integers(0, 5,
                                                              lens.size)]
    col = np.concatenate([np.arange(n) % v for n in lens]).astype(np.int64)
    rate = np.repeat(rates, lens)
    rand = np.frombuffer(rng.bytes(8 * col.size), np.uint64) & np.uint64(full)
    vals = (rand & ~mask[col]) | bitval[col]
    noise = np.frombuffer(rng.bytes(8 * col.size), np.uint64)
    noisy = rng.random(col.size) < rate
    vals[noisy] = noise[noisy] & np.uint64(full)
    udt = UNSIGNED_DT[itemsize]
    flat = vals.astype(udt).view(SIGNED_DT[itemsize])
    return (flat, np.cumsum(lens) - lens, lens, mask.astype(udt),
            bitval.astype(udt))


def _digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.asarray(a).astype(np.int64).tobytes())
        h.update(b"|")
    return h.hexdigest()[:16]


def _kernels(itemsize: int, v: int) -> dict:
    flat, starts, lens, mask, bitval = _batch(itemsize, v)
    fb = frame_batch_flat(flat, starts, lens, v)
    out = ibp.encode_batch_flat(fb, mask, bitval)
    buf, doc_bytes, sizes, flags, flag_nb = out
    dec, _ = ibp.decode_docs_flat(
        lens, sizes, flags, np.cumsum(flag_nb) - flag_nb, buf,
        np.cumsum(doc_bytes) - doc_bytes, mask, bitval, v)
    np.testing.assert_array_equal(dec.view(flat.dtype), flat)
    counts, cov = ibp._batch_counts(fb, v, 8 * itemsize)
    return {"encode": _digest(*out),
            "sizes": _digest(ibp.predict_sizes_ibp(fb, mask, bitval)),
            "counts": _digest(counts, cov)}


def _kmeans_digest(v: int) -> str:
    flat, starts, lens, mask, bitval = _batch(4, v)
    rng = np.random.default_rng(v)
    cents = rng.integers(0, 2 ** 32, (3, v), dtype=np.uint64).astype(
        np.uint32)
    cents[0] = bitval
    masks = np.stack([mask, mask & np.uint32(0xF0000000), mask])
    bitvals = np.stack([bitval, bitval & masks[1], np.zeros(v, np.uint32)])
    fb = frame_batch_flat(flat, starts, lens, v)
    out = kmeans._encode_kmeans_flat(fb, cents, masks, bitvals)
    buf, doc_bytes, sizes, clusters, flags, flag_nb = out
    dec, _ = kmeans._decode_kmeans_flat(
        lens, sizes, flags, np.cumsum(flag_nb) - flag_nb, clusters,
        np.cumsum(fb.nblocks) - fb.nblocks, buf,
        np.cumsum(doc_bytes) - doc_bytes, masks, bitvals, v)
    np.testing.assert_array_equal(dec.view(flat.dtype), flat)
    return _digest(*out)


KERNEL_DIGESTS = {
    (1, 128): {"encode": "b3045a8be04ffaa3", "sizes": "ec07e604f0d6ff9b",
             "counts": "b64c0f8a537f598e"},
    (1, 33): {"encode": "ec1c691cdce857fe", "sizes": "fedca2e1fe7ec5ba",
             "counts": "bb4ce8feceef304b"},
    (2, 128): {"encode": "58b934db7f377daa", "sizes": "d006162b618f7fe5",
             "counts": "f160013cef1f98ee"},
    (2, 33): {"encode": "c68786a6e7bfbb74", "sizes": "bc5acedddf34baeb",
             "counts": "c2cdebe8acc6c9d6"},
    (4, 128): {"encode": "0d0328d0624f162f", "sizes": "8f700f52acdb2343",
             "counts": "0f3fe54f92e41b32"},
    (4, 33): {"encode": "4a28a7caa494e24f", "sizes": "0c7e8a8fc72d0fa4",
             "counts": "df914ec296aac81b"},
    (8, 128): {"encode": "a61e6c7760e3f6dc", "sizes": "84fcad945d44d460",
             "counts": "976e848ed70dd50b"},
    (8, 33): {"encode": "1071811b36847eab", "sizes": "0e9bf591a933045b",
             "counts": "9b78b149145ca26d"},
}

KMEANS_DIGESTS = {
    128: "0cddbb5015b4bc82",
    33: "7d81b5825742fac5",
}

EVAL_DIGESTS = {
    (1, 128): "cdcd7dd53b72637a",
    (1, 33): "9797504c435c455e",
    (2, 128): "1d9687ca43ce5141",
    (2, 33): "e45b0d7e5878acca",
    (4, 128): "81186a123e60f7ab",
    (4, 33): "d6e8c2f2e0ad34df",
    (8, 128): "9ac755bffb36ff30",
    (8, 33): "7baf9d976dddb610",
}


@pytest.mark.parametrize("itemsize,v", CASES)
def test_kernel_outputs_match_recorded_digests(itemsize, v):
    assert _kernels(itemsize, v) == KERNEL_DIGESTS[(itemsize, v)]


@pytest.mark.parametrize("v", [128, 33])
def test_kmeans_encode_matches_recorded_digest(v):
    assert _kmeans_digest(v) == KMEANS_DIGESTS[v]


def test_learn_evaluator_savings_match_recorded_digests(spark):
    """The learn passes' savings for each threshold of the sweep (the
    whole distributed learn, one threshold at a time)."""
    elem = {1: "tinyint", 2: "smallint", 4: "int", 8: "bigint"}
    got = {}
    for itemsize, v in CASES:
        flat, starts, lens, _, _ = _batch(itemsize, v)
        rows = [(f"d{i:03d}", flat[s:s + n].tolist(), int(n), "src")
                for i, (s, n) in enumerate(zip(starts, lens))]
        df = spark.createDataFrame(
            rows, f"doc_id string, tokens array<{elem[itemsize]}>, "
                  "n_tok int, source string").cache()
        per_t = []
        for t in nr.sweep_thresholds():
            p = ibp.learn_params(df, vec_size=v, threshold=t)
            per_t += [p.saved_bits, p.num_vecs, *p.mask.tolist(),
                      *p.bitval.tolist()]
        df.unpersist()
        got[(itemsize, v)] = _digest(np.array(per_t, np.uint64).view(
            np.int64))
    assert got == EVAL_DIGESTS
