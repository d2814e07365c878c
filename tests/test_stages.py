"""Arrow stage layer: plan shape of composed chains and per-stage
sub-batching."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from invariantbitpacking_spark.functions import strings as fstr
from invariantbitpacking_spark.operators import framing, selector, stages
from invariantbitpacking_spark.plans.pipeline import CompressionPipeline


def _python_nodes(df) -> int:
    """MapInArrow nodes in the DataFrame's plan (the formatted explain
    names each node twice: tree line and detail block)."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    return plan.count("MapInArrow") // 2


@pytest.fixture(scope="module")
def store(spark, tokens_df, tmp_path_factory):
    pipe = CompressionPipeline(
        spark, str(tmp_path_factory.mktemp("stages") / "out"),
        num_buckets=2, wave_buckets=2, sample_fraction=None)
    sub = tokens_df.limit(120)
    pipe.run(sub, "snapST")
    return pipe, sub


def test_mass_ranges_bound_each_sub_batch():
    mass = np.array([3, 4, 5, 9, 1, 1, 2], np.int64)
    assert stages.mass_ranges(mass, 100) == [(0, 7)]
    ranges = stages.mass_ranges(mass, 6)
    assert ranges[0][0] == 0 and ranges[-1][1] == len(mass)
    assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
    assert len(ranges) > 1
    assert stages.mass_ranges(np.zeros(0, np.int64), 6) == [(0, 0)]


def test_run_writes_with_one_python_eval(spark, tokens_df, tmp_path,
                                         monkeypatch):
    """The DataFrame run() hands to the writer crosses into Python once:
    the token encode and the FSST encode are one stage chain."""
    pipe = CompressionPipeline(spark, str(tmp_path / "out"), num_buckets=2,
                               wave_buckets=2, sample_fraction=None)
    written = []
    base_writer = pipe._base_writer

    def spy(df):
        written.append(df)
        return base_writer(df)

    monkeypatch.setattr(pipe, "_base_writer", spy)
    pipe.run(tokens_df.limit(40), "snapRW")
    assert len(written) == 1
    assert _python_nodes(written[0]) == 1


def test_stored_rows_is_one_python_eval(spark, store):
    """run() and append() write the same stored-row builder."""
    pipe, sub = store
    params = pipe._load_params("snapST")
    salted = (sub.withColumn("bucket", F.lit(0))
              .withColumn("snapshot_id", F.lit("snapST")))
    rows = pipe._stored_rows(salted, params, pipe._fsst_table("snapST"))
    assert _python_nodes(rows) == 1
    assert "row_xxh" in rows.columns


def test_fetch_is_one_python_eval(store):
    pipe, sub = store
    ids = [r["doc_id"] for r in sub.orderBy("doc_id").limit(5).collect()]
    got = pipe.fetch(ids, "snapST")
    assert _python_nodes(got) == 1
    want = {r["doc_id"]: list(r["tokens"])
            for r in sub.filter(F.col("doc_id").isin(ids)).collect()}
    assert {r["doc_id"]: list(r["tokens"]) for r in got.collect()} == want


def test_composed_chain_with_tiny_caps_is_byte_identical(store, monkeypatch):
    """Every stage of a chain sub-batches by its own mass and cap; tiny
    caps (patched on the driver, read when the DataFrame is built)
    must give the bytes of the default caps, on the encode chain AND
    on the decode chain (FSST decode, then the codec decode)."""
    pipe, sub = store
    params = pipe._load_params("snapST")
    table = pipe._fsst_table("snapST")
    salted = (sub.coalesce(1).withColumn("bucket", F.lit(0))
              .withColumn("snapshot_id", F.lit("snapST")))

    def encoded(df):
        return {bytes(r["doc_id"]): (bytes(r["source"]), bytes(r["payload"]),
                                     r["codec"], r["row_xxh"])
                for r in df.collect()}

    def decoded(df):
        return {r["doc_id"]: (r["source"], list(r["tokens"]))
                for r in df.collect()}

    def decode_chain(df):
        return stages.apply(df, fstr.decode_stage(table),
                            selector.decode_auto_stage(params))

    enc_default = pipe._stored_rows(salted, params, table)
    dec_default = decode_chain(enc_default.coalesce(1))
    monkeypatch.setattr(framing, "MAX_BATCH_TOKENS", 700)
    monkeypatch.setattr(fstr, "_ENC_MASS_CAP", 64)
    monkeypatch.setattr(fstr, "_DEC_MASS_CAP", 48)
    enc_tiny = pipe._stored_rows(salted, params, table)
    dec_tiny = decode_chain(enc_tiny.coalesce(1))

    assert encoded(enc_tiny) == encoded(enc_default)
    assert decoded(dec_tiny) == decoded(dec_default)
    assert decoded(dec_tiny) == {
        r["doc_id"]: (r["source"], list(r["tokens"])) for r in sub.collect()}


def test_each_stage_sub_batches_by_its_own_mass(spark):
    """Two probe stages in one chain report the row count of every
    sub-batch they see: each stays within its own cap."""
    rows = [(f"d{i:02d}", list(range(i % 7 + 1))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>"
                               ).coalesce(1)

    def probe(name):
        def kernel(rb):
            return rb.append_column(
                name, pa.array(np.full(rb.num_rows, rb.num_rows, np.int32)))

        def schema(in_schema):
            return StructType(in_schema.fields
                              + [StructField(name, IntegerType())])

        return kernel, schema

    k1, s1 = probe("tok_rows")
    k2, s2 = probe("id_rows")
    out = stages.apply(
        df,
        stages.Stage(k1, s1, stages.list_mass("tokens"), 12,
                     ("doc_id", "tokens")),
        stages.Stage(k2, s2, stages.byte_mass(("doc_id",)), 9))
    got = out.collect()
    assert sorted(r["doc_id"] for r in got) == [r[0] for r in rows]
    # 3-byte ids, cap 9: at most 3 rows per id sub-batch
    assert max(r["id_rows"] for r in got) == 3
    # 1..7 tokens per row, cap 12: never more than 12 rows' worth
    assert 1 < max(r["tok_rows"] for r in got) <= 12
