"""Regression tests pinning the round-7 ADVICE fixes #2/#3 (the
round-7 VERDICT notes the code is fixed but found no test driving it).

#3 (pipeline.verify_roundtrip bit-view compare): a float snapshot must
be audited on the IEEE integer bit view — Spark value equality treats
NaN = NaN as true for EVERY NaN payload and conflates -0.0 with 0.0,
so the pre-fix value comparison waves through a corpus whose NaN
payload bits or zero signs changed.  The test runs a NaN/-0.0-bearing
float32 corpus through the durable pipeline (the auto codec family is
32-bit by design; float64 flows through encode_ibp only), asserts the
audit is green against the true source, and then asserts it CATCHES a
source whose NaN payload / zero sign differ — exactly the case the
pre-fix code passed.  The corpus is written as parquet with exact
float32 bit patterns so no Python-double round trip can canonicalize
the NaN payloads.

#2 (pipeline.fetch empty-bucket schema): a fetch whose ids salt only
into bucket directories that do not exist must return an empty frame
with the SAME schema as a non-empty fetch for this snapshot's params —
array<float> for a float32 snapshot (decode=True) and the encoded row
shape (decode=False) — so unions with non-empty fetches stay
well-typed.  The pre-fix code built the empty frame from a fixed
int-tokens schema.
"""
from __future__ import annotations

import numpy as np


# The STORED corpus uses the canonical quiet NaN: Spark's own parquet
# writer canonicalizes NaN payloads (JVM floatToIntBits) on any float
# rewrite — measured here: 0x7FC00001 written through
# spark.write.parquet reads back 0x7FC00000 — so a multi-wave run's
# staging write canonicalizes BEFORE the codec sees the bytes.  A
# single-wave run stages nothing, and the codec itself round-trips
# arbitrary payload bits exactly (verified via direct
# encode_auto/decode_auto).  The tampered source then
# carries a non-canonical payload: value equality calls the two NaNs
# equal, the bit view must not.
NAN_CANON32 = 0x7FC00000
NAN_PAYLOAD32 = 0x7FC00001
NEG_ZERO32 = 0x80000000
POS_ZERO32 = 0x00000000


def _write_f32_corpus(path: str, nan_bits: int, zero_bits: int) -> None:
    """(doc_id, tokens array<float>, n_tok, source) parquet whose float
    values carry EXACT bit patterns (pyarrow write, zero-copy views)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def f32(bits):
        return np.array(bits, np.uint32).view(np.float32)

    docs = [("d-nan", f32([0x3F800000, nan_bits, 0x40000000])),
            ("d-zero", f32([zero_bits, 0x40400000]))]
    docs += [(f"d-{i}", f32([0x3F000000 + i, 0x40800000 + i, 0x41000000]))
             for i in range(6)]
    table = pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.string()),
        "tokens": pa.array([t.tolist() for _, t in docs],
                           pa.list_(pa.float32())),
        "n_tok": pa.array([len(t) for _, t in docs], pa.int32()),
        "source": pa.array(["s0"] * len(docs), pa.string()),
    })
    # list-of-python-floats goes through float64 -> check the bits
    # survived the pa.array construction before trusting the fixture
    got = np.asarray(table["tokens"].combine_chunks().values,
                     np.float32).view(np.uint32)
    assert got[1] == nan_bits and got[3] == zero_bits, "fixture lost bits"
    pq.write_table(table, path)


def test_verify_roundtrip_float32_nan_negzero_bit_view(spark, tmp_path):
    from invariantbitpacking_spark.plans.pipeline import CompressionPipeline

    src_path = str(tmp_path / "src.parquet")
    _write_f32_corpus(src_path, NAN_CANON32, NEG_ZERO32)
    src = spark.read.parquet(src_path)
    pipe = CompressionPipeline(spark, str(tmp_path / "f32pipe"),
                               num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    pipe.run(src, "f32snap")
    params = pipe._load_params("f32snap")
    assert params.value_kind == "float32"
    # green against the true source: NaN payload and -0.0 round-trip
    # bit-identically
    assert pipe.verify_roundtrip(src, params, "f32snap") == 0
    # a source whose NaN payload bits and zero sign differ MUST be
    # caught: Spark value equality calls both pairs equal (NaN = NaN,
    # -0.0 = 0.0), so the pre-fix value comparison returned 0 here
    tam_path = str(tmp_path / "tampered.parquet")
    _write_f32_corpus(tam_path, NAN_PAYLOAD32, POS_ZERO32)
    tampered = spark.read.parquet(tam_path)
    assert pipe.verify_roundtrip(tampered, params, "f32snap") == 2


def test_single_wave_run_keeps_nan_payload_bits(spark, tmp_path):
    """A single-wave run encodes straight from the input, so no staging
    parquet write canonicalizes a NaN payload: the store round-trips
    the source's exact bits."""
    from invariantbitpacking_spark.plans.pipeline import CompressionPipeline

    src_path = str(tmp_path / "src.parquet")
    _write_f32_corpus(src_path, NAN_PAYLOAD32, NEG_ZERO32)
    src = spark.read.parquet(src_path)
    pipe = CompressionPipeline(spark, str(tmp_path / "f32pipe"),
                               num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    pipe.run(src, "f32snap")
    params = pipe._load_params("f32snap")
    assert pipe.verify_roundtrip(src, params, "f32snap") == 0


def test_fetch_empty_bucket_schema_unions_with_nonempty(spark, tmp_path):
    from invariantbitpacking_spark.functions.hashing import bucket_of
    from invariantbitpacking_spark.plans.pipeline import CompressionPipeline

    n_buckets = 64
    rows = [(f"f-{i}", [float(i) + 0.5, float(i)], 2, "s0")
            for i in range(4)]
    src = spark.createDataFrame(
        rows, "doc_id string, tokens array<float>, n_tok int, "
              "source string")
    pipe = CompressionPipeline(spark, str(tmp_path / "f32pipe"),
                               num_buckets=n_buckets, wave_buckets=64,
                               sample_fraction=None)
    pipe.run(src, "f32snap")
    live_buckets = {bucket_of(f"f-{i}", n_buckets) for i in range(4)}
    # a ghost id salting into a bucket with NO directory on disk
    ghost = next(f"ghost-{k}" for k in range(10_000)
                 if bucket_of(f"ghost-{k}", n_buckets) not in live_buckets)

    empty = pipe.fetch([ghost], "f32snap")
    nonempty = pipe.fetch(["f-0"], "f32snap")
    # decoded schema must be the float shape, not the int default
    assert empty.schema["tokens"].dataType.simpleString() == "array<float>"
    assert empty.schema == nonempty.schema
    u = nonempty.unionByName(empty)
    assert u.count() == 1
    got = u.first()
    assert np.array_equal(
        np.array(got["tokens"], np.float32).view(np.int32),
        np.array([0.5, 0.0], np.float32).view(np.int32))

    # encoded shape (decode=False) must union cleanly too
    empty_e = pipe.fetch([ghost], "f32snap", decode=False)
    nonempty_e = pipe.fetch(["f-0"], "f32snap", decode=False)
    assert set(empty_e.columns) >= set(nonempty_e.columns) or \
        set(nonempty_e.columns) >= set(empty_e.columns)
    ue = nonempty_e.unionByName(empty_e, allowMissingColumns=True)
    assert ue.count() == 1
