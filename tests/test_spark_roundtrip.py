"""End-to-end Spark pipeline: learn -> encode -> decode -> identity.

Mirrors the reference's core round-trip invariant
(tests/compress_test.py:20-24) at the DataFrame level, plus agreement
between the distributed path and the single-process numpy reference.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from invariantbitpacking_spark.codecs import numpy_ref as nr
from invariantbitpacking_spark.operators.framing import (frame_batch_flat,
                                                         list_array_flat)
from invariantbitpacking_spark.operators import ibp


def _frame_arrow(col):
    """Frame an Arrow tokens column through the flat kernel API."""
    return frame_batch_flat(*list_array_flat(col))


@pytest.fixture(scope="module")
def params(tokens_df):
    return ibp.learn_params(tokens_df)


def test_learn_params_matches_local_ragged(spark, tokens_df, params):
    """Distributed learn == single-process learn over ragged frames."""
    from invariantbitpacking_spark.operators.ibp import _batch_counts

    local = tokens_df.orderBy("doc_id").select("tokens").toArrow()
    fb = _frame_arrow(local["tokens"])
    counts, cov = _batch_counts(fb, 128)
    best, best_saved = None, 0
    for t in nr.sweep_thresholds():
        m, b = nr.create_mask(counts, cov, t)
        saved = nr.check_feats(fb.blocks, m, b, fb.widths)
        if saved > best_saved:
            best, best_saved = (m, b, t), saved
    mask, bitval, theta = best
    np.testing.assert_array_equal(params.mask, mask)
    np.testing.assert_array_equal(params.bitval, bitval)
    assert params.saved_bits == best_saved
    assert params.threshold == pytest.approx(theta)
    assert params.num_vecs == int(fb.nblocks.sum())


def test_learn_params_rectangular_matches_reference(spark):
    """On rectangular input (every doc a multiple of vec_size) the
    distributed learner reproduces the numpy reference preprocess
    (= the CUDA preproc_data semantics) exactly."""
    rng = np.random.default_rng(5)
    rows = []
    for i in range(50):
        n = int(rng.integers(1, 5)) * 128
        toks = rng.integers(0, 2**31 // 100, n, dtype=np.int64).astype(np.int32)
        rows.append((f"r{i:04d}", toks.tolist(), n, "semidense"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    p = ibp.learn_params(df)
    lens = np.array([r[2] for r in rows], np.int64)
    fb = frame_batch_flat(
        np.concatenate([np.array(r[1], np.int32) for r in rows]),
        np.cumsum(lens) - lens, lens)
    assert (fb.widths == 128).all()  # rectangular: full blocks only
    mask, bitval, theta, saved = nr.preprocess(fb.blocks)
    np.testing.assert_array_equal(p.mask, mask)
    np.testing.assert_array_equal(p.bitval, bitval)
    assert p.saved_bits == saved and p.threshold == pytest.approx(theta)


def test_roundtrip_identity(spark, tokens_df, params):
    enc = ibp.encode_ibp(tokens_df, params)
    dec = ibp.decode_ibp(enc, params)
    joined = (
        tokens_df.alias("a")
        .join(dec.alias("b"), "doc_id")
        .select(
            F.col("a.doc_id"),
            (F.col("a.tokens") == F.col("b.tokens")).alias("ok"),
            (F.col("a.n_tok") == F.col("b.n_tok")).alias("nok"),
        )
    )
    total = tokens_df.count()
    assert joined.count() == total
    assert joined.filter(~F.col("ok") | ~F.col("nok")).count() == 0


def test_sizes_match_formula_and_never_expand(spark, tokens_df, params):
    enc = ibp.encode_ibp(tokens_df, params).cache()
    # per-doc payload length == sum(block_sizes) == comp_bytes
    bad = enc.filter(
        (F.length("payload") != F.col("comp_bytes"))
        | (F.aggregate("block_sizes", F.lit(0).cast("long"), lambda a, x: a + x)
           != F.col("comp_bytes"))
    ).count()
    assert bad == 0
    # ragged framing never expands beyond the exact raw token bytes
    bad2 = enc.filter(F.col("comp_bytes") > F.col("raw_bytes")).count()
    assert bad2 == 0
    # distributed sizes equal the local single-process encode, doc by doc
    from invariantbitpacking_spark.operators.ibp import encode_batch_flat

    local = tokens_df.orderBy("doc_id").select("doc_id", "tokens").toArrow()
    fb = _frame_arrow(local["tokens"])
    _, comp_bytes, _, _, _ = encode_batch_flat(fb, params.mask, params.bitval)
    expect = dict(zip(local["doc_id"].to_pylist(), comp_bytes.tolist()))
    got = {r["doc_id"]: r["comp_bytes"] for r in enc.select("doc_id", "comp_bytes").collect()}
    assert got == expect
    enc.unpersist()


def test_payload_bit_identical_to_reference(spark):
    """For rectangular documents the distributed encoder's payload bytes
    equal the numpy reference codec's condensed stream exactly."""
    rng = np.random.default_rng(9)
    rows = []
    for i in range(40):
        n = int(rng.integers(1, 4)) * 128
        toks = rng.integers(0, 2**31 // 100, n, dtype=np.int64).astype(np.int32)
        rows.append((f"r{i:04d}", toks.tolist(), n, "semidense"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    params = ibp.learn_params(df)
    enc = ibp.encode_ibp(df, params)
    got = {r["doc_id"]: bytes(r["payload"])
           for r in enc.select("doc_id", "payload").collect()}
    for i, (doc_id, toks, n, _) in enumerate(rows):
        mat = np.array(toks, np.int32).reshape(-1, 128)
        flat, sizes, _ = nr.encode_concat(mat, params.mask, params.bitval)
        assert got[doc_id] == flat.tobytes(), doc_id


def test_empty_and_single_token_docs(spark):
    rows = [("d0", [], 0, "edge"), ("d1", [5], 1, "edge"),
            ("d2", list(range(128)), 128, "edge"),
            ("d3", list(range(129)), 129, "edge")]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    p = ibp.learn_params(df)
    dec = ibp.decode_ibp(ibp.encode_ibp(df, p), p).orderBy("doc_id").collect()
    assert [r["tokens"] for r in dec] == [r[1] for r in rows]


def test_roundtrip_with_forced_sub_batching(spark, tokens_df, params,
                                            monkeypatch):
    """Token-mass sub-batching (memory guard for long-doc batches) must
    not change results: force tiny sub-batches through the executor
    closures and round-trip.  The cap is read when a DataFrame is
    built, so patching it on the driver reaches the executors."""
    from invariantbitpacking_spark.operators import framing

    sub = tokens_df.limit(120)
    unsplit = ibp.encode_ibp(sub, params)
    monkeypatch.setattr(framing, "MAX_BATCH_TOKENS", 5_000)
    enc = ibp.encode_ibp(sub, params)
    dec = ibp.decode_ibp(enc, params)
    bad = (sub.alias("a").join(dec.alias("b"), "doc_id")
           .filter(F.col("a.tokens") != F.col("b.tokens")).count())
    assert bad == 0
    # byte-identity with the unsplit path
    a = {r["doc_id"]: bytes(r["payload"]) for r in enc.collect()}
    b = {r["doc_id"]: bytes(r["payload"]) for r in unsplit.collect()}
    assert a == b


def test_null_token_arrays_treated_as_empty(spark, params):
    rows = [("n0", None, 0, "edge"), ("n1", [1, 2, 3], 3, "edge")]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    from invariantbitpacking_spark.operators import selector

    for enc_fn, dec_fn in [(ibp.encode_ibp, ibp.decode_ibp),
                           (selector.encode_auto, selector.decode_auto)]:
        dec = {r["doc_id"]: r["tokens"]
               for r in dec_fn(enc_fn(df, params), params).collect()}
        assert dec["n0"] == [] and dec["n1"] == [1, 2, 3]


def test_int64_distributed_roundtrip_and_compression(spark):
    """array<bigint> end-to-end (reference 8-byte dtype dispatch,
    src/preprocess.cu:56-72, src/compress.cu:192): learned params carry
    uint64 masks, payloads round-trip bit-identical, and the invariant
    high word actually compresses (values < 2^35 over 64-bit words)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(80):
        n = int(rng.integers(20, 300))
        vals = (rng.integers(0, 32000, n, dtype=np.int64) * 1048577).tolist()
        rows.append((f"d{i:03d}", vals, n, "s64"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<bigint>, n_tok int, source string")
    params = ibp.learn_params(df)
    assert params.item_bytes == 8 and params.mask.dtype == np.uint64
    enc = ibp.encode_ibp(df, params)
    agg = enc.agg(F.sum("comp_bytes"), F.sum("raw_bytes")).collect()[0]
    assert agg[1] == sum(r[2] for r in rows) * 8  # raw = 8 bytes/elem
    assert agg[0] < agg[1] * 0.7  # >=29 invariant high bits must bite
    dec = ibp.decode_ibp(enc, params)
    bad = (df.alias("a").join(dec.alias("b"), "doc_id")
           .filter(F.col("a.tokens") != F.col("b.tokens")).count())
    assert bad == 0
    # lineage round-trip of 64-bit params
    p2 = ibp.IbpParams.from_dict(params.to_dict())
    assert (p2.mask == params.mask).all() and p2.item_bytes == 8


def test_int16_and_int8_distributed_roundtrip(spark):
    """1- and 2-byte element widths end-to-end (reference preprocess
    dtype dispatch int8/int16, src/preprocess.cu:25-26, 56-72): learned
    params carry uint16/uint8 masks, the decode schema mirrors the
    input element type, and payloads round-trip bit-identical."""
    import numpy as np

    rng = np.random.default_rng(13)
    for elem, np_dt, hi, want_ib in [("smallint", np.int16, 4096, 2),
                                     ("tinyint", np.int8, 64, 1)]:
        rows = []
        for i in range(60):
            n = int(rng.integers(5, 200))
            rows.append((f"d{i:03d}",
                         rng.integers(0, hi, n).astype(np_dt).tolist(),
                         n, "sN"))
        rows.append(("empty", [], 0, "sN"))
        df = spark.createDataFrame(
            rows, f"doc_id string, tokens array<{elem}>, n_tok int, "
                  "source string")
        params = ibp.learn_params(df)
        assert params.item_bytes == want_ib
        assert params.mask.dtype.itemsize == want_ib
        enc = ibp.encode_ibp(df, params)
        agg = enc.agg(F.sum("comp_bytes"), F.sum("raw_bytes")).collect()[0]
        assert agg[1] == sum(r[2] for r in rows) * want_ib
        assert agg[0] <= agg[1]  # never expands
        dec = ibp.decode_ibp(enc, params)
        assert dict(dec.dtypes)["tokens"] == f"array<{elem}>"
        bad = (df.alias("a").join(dec.alias("b"), "doc_id")
               .filter(~(F.col("a.tokens").eqNullSafe(F.col("b.tokens"))) &
                       ~(F.size("a.tokens") == 0)).count())
        assert bad == 0
        # params survive lineage serialization at narrow widths too
        p2 = ibp.IbpParams.from_dict(params.to_dict())
        assert (p2.mask == params.mask).all()
        assert p2.item_bytes == want_ib


def test_sizes_ibp_matches_actual_encode(spark, tokens_df):
    """sizes_ibp (get_compress_size, sizes-only pass) must predict the
    EXACT comp_bytes that encode_ibp materializes, per document."""
    from invariantbitpacking_spark.operators import ibp
    from pyspark.sql import functions as F

    params = ibp.learn_params(tokens_df, sample_fraction=None)
    actual = ibp.encode_ibp(tokens_df, params).select(
        "doc_id", F.col("comp_bytes").alias("actual"))
    predicted = ibp.sizes_ibp(tokens_df, params).select(
        "doc_id", F.col("comp_bytes").alias("pred"))
    joined = actual.join(predicted, "doc_id")
    assert joined.count() == tokens_df.count()
    assert joined.filter(F.col("actual") != F.col("pred")).count() == 0
