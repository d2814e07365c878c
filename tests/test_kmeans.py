"""Hamming k-means clustered masks: learning + clustered round-trip.

Mirrors the reference's kmeans coverage: repeated-template multi-modal
data where clustering materially beats the single global mask
(reference tests/kmeans_test.py:43-74)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from invariantbitpacking_spark.operators import ibp, kmeans


@pytest.fixture(scope="module")
def clustered_df(spark):
    """Multi-modal corpus: K=4 templates, rows = template | 4-bit noise."""
    rng = np.random.default_rng(21)
    templates = (rng.integers(0, 2**31, (4, 128), dtype=np.int64)
                 .astype(np.int32) & ~np.int32(15))
    rows = []
    for i in range(240):
        t = templates[i % 4]
        n = int(rng.integers(2, 5)) * 128 + int(rng.integers(0, 100))
        reps = -(-n // 128)
        toks = (np.tile(t, reps)[:n]
                | rng.integers(0, 16, n).astype(np.int32))
        rows.append((f"c{i:04d}", toks.tolist(), n, "clustered"))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).cache()


def test_kmeans_roundtrip_and_beats_global(spark, clustered_df):
    kp = kmeans.learn_kmeans(clustered_df, k=4, iters=5)
    assert kp.k == 4
    enc = kmeans.encode_ibp_kmeans(clustered_df, kp).cache()
    dec = kmeans.decode_ibp_kmeans(enc, kp)
    bad = (clustered_df.alias("a").join(dec.alias("b"), "doc_id")
           .filter(F.col("a.tokens") != F.col("b.tokens")).count())
    assert bad == 0

    km_bytes = enc.agg(F.sum("comp_bytes")).collect()[0][0]
    gp = ibp.learn_params(clustered_df)
    g_bytes = (ibp.encode_ibp(clustered_df, gp)
               .agg(F.sum("comp_bytes")).collect()[0][0])
    # 4 disjoint templates: per-cluster masks must crush the global mask
    assert km_bytes < g_bytes * 0.7, (km_bytes, g_bytes)


def test_kmeans_on_unimodal_is_safe(spark, tokens_df):
    """On non-clustered data k-means must still round-trip."""
    kp = kmeans.learn_kmeans(tokens_df, k=3, iters=2, sample_fraction=0.5)
    sub = tokens_df.limit(100)
    dec = kmeans.decode_ibp_kmeans(kmeans.encode_ibp_kmeans(sub, kp), kp)
    bad = (sub.alias("a").join(dec.alias("b"), "doc_id")
           .filter(F.col("a.tokens") != F.col("b.tokens")).count())
    assert bad == 0


def test_kmeans_encode_handles_empty_and_null_docs(spark):
    """Empty and NULL token arrays must survive the clustered
    encode/decode path (block_clusters bookkeeping with 0 blocks)."""
    import numpy as np

    from invariantbitpacking_spark.operators import kmeans as km

    rng = np.random.default_rng(11)
    rows = [(f"d{i:03d}", rng.integers(0, 1000, 80).tolist(), 80, "s")
            for i in range(40)]
    rows += [("empty", [], 0, "s"), ("null", None, 0, "s")]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    kp = km.learn_kmeans(df, k=2, iters=2, vec_size=16)
    dec = {r["doc_id"]: list(r["tokens"])
           for r in km.decode_ibp_kmeans(km.encode_ibp_kmeans(df, kp), kp)
           .collect()}
    assert dec["empty"] == [] and dec["null"] == []
    assert dec["d000"] == rows[0][1]


def test_kmeans_refuses_non_int32_tokens(spark):
    """The clustered codec is 32-bit (uint32 centroids); array<bigint>
    input must be rejected, not silently truncated (2**40+5 would
    otherwise encode as 5)."""
    import pytest

    from invariantbitpacking_spark.operators import kmeans as km

    rows = [(f"d{i}", [(1 << 40) + 5] * 64, 64, "s") for i in range(20)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<bigint>, n_tok int, source string")
    with pytest.raises(ValueError, match="array<int>"):
        km.learn_kmeans(df, k=2, iters=1, vec_size=16)
    kp = km.KmeansParams(
        centroids=__import__("numpy").zeros((2, 16), "uint32"),
        masks=__import__("numpy").zeros((2, 16), "uint32"),
        bitvals=__import__("numpy").zeros((2, 16), "uint32"), vec_size=16)
    with pytest.raises(ValueError, match="array<int>"):
        km.encode_ibp_kmeans(df, kp)


def test_kmeans_refuses_float_tokens(spark):
    """array<float> has 4-byte elements but is not an int column: the
    clustered codec would seed centroids from value-truncated floats
    (0.5 -> 0, not its bit pattern) and decode back to array<int>.
    Both entry points must refuse it."""
    from invariantbitpacking_spark.operators import kmeans as km

    rows = [(f"d{i:02d}", [float(i % 8) + 5.5] * 64, 64, "s")
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<float>, n_tok int, source string")
    with pytest.raises(ValueError, match="array<int>"):
        km.learn_kmeans(df, k=2, iters=0, vec_size=16)
    z = np.zeros((2, 16), np.uint32)
    kp = km.KmeansParams(centroids=z, masks=z.copy(), bitvals=z.copy(),
                         vec_size=16)
    with pytest.raises(ValueError, match="array<int>"):
        km.encode_ibp_kmeans(df, kp)
