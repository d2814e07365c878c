"""Auto-selector: per-document codec choice, round-trip, never-expand."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from invariantbitpacking_spark.operators import framing, ibp, selector
from invariantbitpacking_spark.operators.framing import (frame_batch_flat,
                                                         gather_ranges,
                                                         list_array_flat)


def _compact(col):
    """Arrow tokens column -> contiguous doc-major uint32 buffer + lens,
    the input layout of selector.encode_docs_auto_flat."""
    vals, starts, lens = list_array_flat(col)
    return gather_ranges(vals, starts, lens).view(np.uint32), lens


def _codec_names(pick):
    return [selector.CODEC_ORDER[i] for i in pick]


@pytest.fixture(scope="module")
def params(tokens_df):
    return ibp.learn_params(tokens_df)


def test_local_choices_match_expectations():
    rng = np.random.default_rng(3)
    n = 2048
    docs = {
        "runs": np.repeat(rng.integers(0, 1000, n // 16), 16).astype(np.int32),
        "sorted": np.sort(rng.integers(0, 2**31, n)).astype(np.int32),
        "lowcard": rng.choice(rng.integers(0, 2**31, 40).astype(np.int32), n),
        "vocab": rng.integers(0, 32000, n).astype(np.int32),
        "uniform": rng.integers(0, 2**32, n, dtype=np.uint64).astype(np.int32),
        "empty": np.zeros(0, np.int32),
    }
    import pyarrow as pa

    flat, lens = _compact(pa.array(list(docs.values()), pa.list_(pa.int32())))
    # learn IBP params on the vocab doc only (typical token corpus)
    from invariantbitpacking_spark.codecs import numpy_ref as nr
    mat = docs["vocab"][: (n // 128) * 128].reshape(-1, 128)
    mask, bitval, _, _ = nr.preprocess(mat.view(np.uint32))
    p = ibp.IbpParams(mask, bitval)
    pick, _, comp_bytes, *_ = selector.encode_docs_auto_flat(flat, lens, p)
    by_name = dict(zip(docs.keys(), _codec_names(pick)))
    assert by_name["runs"] == "rle"
    assert by_name["sorted"] == "dfor"
    assert by_name["lowcard"] == "dict"
    assert by_name["uniform"] == "raw"
    assert by_name["vocab"] in ("ibp", "for")  # both ~2x; stats decide
    # never expands
    assert (comp_bytes <= 4 * lens).all()


def test_spark_auto_roundtrip(spark, tokens_df, params):
    enc = selector.encode_auto(tokens_df, params).cache()
    # every profile present, sensible codec mix
    mix = {r["codec"]: r["cnt"] for r in
           enc.groupBy("codec").agg(F.count("*").alias("cnt")).collect()}
    assert len(mix) >= 3, mix
    bad = enc.filter(F.col("comp_bytes") > F.col("raw_bytes")).count()
    assert bad == 0
    dec = selector.decode_auto(enc, params)
    joined = (tokens_df.alias("a").join(dec.alias("b"), "doc_id")
              .filter(F.col("a.tokens") != F.col("b.tokens")).count())
    assert joined == 0
    total = tokens_df.count()
    assert dec.count() == total
    enc.unpersist()


def test_auto_beats_ibp_alone(spark, tokens_df, params):
    auto = selector.encode_auto(tokens_df, params).agg(
        F.sum("comp_bytes")).collect()[0][0]
    only_ibp = ibp.encode_ibp(tokens_df, params).agg(
        F.sum("comp_bytes")).collect()[0][0]
    assert auto < only_ibp


def test_selected_sizes_are_exact(spark, tokens_df, params):
    """predict_sizes must equal the actual encoded size for the chosen
    codec (selection is closed-form, not heuristic)."""
    local = tokens_df.orderBy("doc_id").select("tokens").toArrow()
    flat, lens = _compact(local["tokens"])
    fb = frame_batch_flat(flat, np.cumsum(lens) - lens, lens)
    sizes = selector.predict_sizes(flat, lens, fb, params)
    pick, _, comp_bytes, *_ = selector.encode_docs_auto_flat(flat, lens,
                                                             params)
    for i, c in enumerate(_codec_names(pick)):
        assert sizes[c][i] == comp_bytes[i], (i, c)


def test_encode_auto_refuses_int64(spark):
    """array<bigint> through the 32-bit codec family would silently
    truncate; the selector must refuse and point at the IBP path."""
    import numpy as np
    import pytest as _pytest

    from invariantbitpacking_spark.operators import ibp, selector

    rows = [("d0", [2**40 + 5, 7], 2, "s")]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<bigint>, n_tok int, source string")
    params = ibp.learn_params(df)
    with _pytest.raises(ValueError, match="array<int>"):
        selector.encode_auto(df, params)
    # the sanctioned 64-bit path round-trips the same rows
    dec = ibp.decode_ibp(ibp.encode_ibp(df, params), params).collect()
    assert list(dec[0]["tokens"]) == [2**40 + 5, 7]


def test_auto_roundtrip_with_forced_sub_batching_and_nulls(spark, params,
                                                          monkeypatch):
    """Tiny token-mass sub-batches force the arrow UDFs to slice every
    RecordBatch (non-zero array offsets on ListArray/BinaryArray) with
    null and empty docs interleaved; results must byte-match the
    unsplit path and round-trip exactly."""
    import numpy as np

    from invariantbitpacking_spark.operators import selector

    rng = np.random.default_rng(3)
    rows = []
    for i in range(150):
        if i % 29 == 0:
            rows.append((f"d{i:03d}", None, 0, "edge"))
        elif i % 13 == 0:
            rows.append((f"d{i:03d}", [], 0, "edge"))
        else:
            n = int(rng.integers(1, 400))
            kind = i % 4
            if kind == 0:      # constant -> rle
                vals = [7] * n
            elif kind == 1:    # sorted -> dfor
                vals = np.cumsum(rng.integers(0, 9, n)).tolist()
            elif kind == 2:    # small range -> for/dict
                vals = rng.integers(100, 140, n).tolist()
            else:              # wide random -> raw/ibp
                vals = rng.integers(0, 2**30, n).tolist()
            rows.append((f"d{i:03d}", vals, n, "edge"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    unsplit = selector.encode_auto(df, params)
    # the cap is read when a DataFrame is built
    monkeypatch.setattr(framing, "MAX_BATCH_TOKENS", 900)
    enc = selector.encode_auto(df, params)
    a = {r["doc_id"]: (bytes(r["payload"]), r["codec"])
         for r in enc.collect()}
    b = {r["doc_id"]: (bytes(r["payload"]), r["codec"])
         for r in unsplit.collect()}
    assert a == b  # sub-batching never changes bytes or codec choice
    dec = {r["doc_id"]: list(r["tokens"]) for r in selector.decode_auto(
        selector.encode_auto(df, params), params).collect()}
    for doc_id, vals, n, _ in rows:
        assert dec[doc_id] == (vals if vals else []), doc_id


def test_predicted_sizes_by_source_runs_as_arrow_udf(spark, tokens_df, params):
    """The per-(source, codec) size scan runs over flat Arrow buffers:
    its executed plan holds a MapInArrow node and no MapInPandas."""
    out = selector.predicted_sizes_by_source(tokens_df, params)
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    # the raw candidate is exactly 4 bytes per token for every doc
    want = {r["source"]: (r["raw"], r["docs"]) for r in tokens_df.groupBy(
        "source").agg((4 * F.sum("n_tok")).alias("raw"),
                      F.count(F.lit(1)).alias("docs")).collect()}
    got = {r["source"]: (r["total_bytes"], r["docs"])
           for r in rows if r["codec"] == "raw"}
    assert got == want
