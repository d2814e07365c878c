"""Canonical FSST string codec: lossless round-trip, 1-8-byte symbols,
compression sanity."""

import numpy as np
import pytest

from invariantbitpacking_spark.codecs import fsst


def roundtrip(strings, table=None):
    flat, lens = fsst.strings_to_flat(strings)
    if table is None:
        table = fsst.build_table(flat, sample_lens=lens)
    enc, enc_lens = fsst.encode_strings(flat, lens, table)
    dec, dec_lens = fsst.decode_strings(enc, enc_lens, table)
    out = fsst.flat_to_strings(dec, dec_lens)
    return out, int(enc.size), int(flat.size), table


def test_ascii_corpus_compresses():
    words = ["the", "quick", "brown", "fox", "jumps", "scan", "join"]
    rng = np.random.default_rng(1)
    docs = [" ".join(rng.choice(words, 40)) for _ in range(200)]
    out, enc_size, raw_size, table = roundtrip(docs)
    assert out == docs
    # canonical multi-byte symbols must beat the old bigram bound
    assert enc_size < raw_size * 0.45, (enc_size, raw_size)


def test_multibyte_symbols_learned():
    docs = ["prefix/common/path/suffix"] * 300
    out, enc_size, raw_size, table = roundtrip(docs)
    assert out == docs
    assert int(table.lens.max()) >= 4  # long symbols actually built
    # 25 bytes/row must collapse to a handful of codes
    assert enc_size <= raw_size * 0.25


def test_repeated_ids():
    ids = [f"src{i % 20}-{i:08d}" for i in range(500)]
    out, enc_size, raw_size, _ = roundtrip(ids)
    assert out == ids
    assert enc_size < raw_size


def test_utf8_and_high_bytes():
    docs = ["héllo wörld ÿ", "日本語テキスト", "\xff\xff\xff", "",
            "mixed ÿascii日", "\x7f\x80\x81"]
    out, enc_size, raw_size, _ = roundtrip(docs)
    assert out == docs


def test_empty_table_passthrough():
    docs = ["abc", "ÿ", ""]
    empty = fsst.SymbolTable(np.zeros((0, 8), np.uint8),
                             np.zeros(0, np.int64))
    out, enc_size, raw_size, _ = roundtrip(docs, table=empty)
    assert out == docs


def test_adversarial_escape_chains():
    docs = ["\xff" * 50, "a\xffb\xff\xffc", "\xfe\xff\xfe\xff"]
    out, *_ = roundtrip(docs)
    assert out == docs


def test_code_byte_collision_with_escape():
    # strings whose RAW bytes include 0xFF and values that also appear
    # as symbol codes; decode must not confuse them
    docs = ["\x00\x01\x02" * 10, "\xff\x00\xff\x01", "zz\xffzz"] * 20
    out, *_ = roundtrip(docs)
    assert out == docs


def test_symbols_never_span_rows():
    # 'ab' frequent only across row boundary; rows are 'xa' / 'bx'
    docs = ["xa", "bx"] * 200
    out, enc_size, raw_size, table = roundtrip(docs)
    assert out == docs


def test_deterministic_table():
    flat, lens = fsst.strings_to_flat(["abcabcabc"] * 50)
    t1 = fsst.build_table(flat, sample_lens=lens)
    t2 = fsst.build_table(flat.copy(), sample_lens=lens.copy())
    np.testing.assert_array_equal(t1.syms, t2.syms)
    np.testing.assert_array_equal(t1.lens, t2.lens)


def test_table_serialization_roundtrip():
    flat, lens = fsst.strings_to_flat([f"user-{i%7}/file{i%13}.parquet"
                                       for i in range(400)])
    t = fsst.build_table(flat, sample_lens=lens)
    t2 = fsst.SymbolTable.from_bytes(t.to_bytes())
    np.testing.assert_array_equal(t.syms, t2.syms)
    np.testing.assert_array_equal(t.lens, t2.lens)
    enc1, l1 = fsst.encode_strings(flat, lens, t)
    enc2, l2 = fsst.encode_strings(flat, lens, t2)
    np.testing.assert_array_equal(enc1, enc2)


def test_canonical_beats_lite_on_path_like_ids():
    """Multi-byte symbols must capture the long shared prefixes of
    object-store ids.  The retired bigram-only table reached 0.51 of
    raw on this corpus; canonical FSST must stay under 0.5 (it gets
    ~0.16)."""
    ids = [f"s3://bucket/prefix/part-{i:05d}.parquet" for i in range(500)]
    flat, lens = fsst.strings_to_flat(ids)
    canon = fsst.build_table(flat, sample_lens=lens)
    enc_c, _ = fsst.encode_strings(flat, lens, canon)
    assert enc_c.size < 0.5 * flat.size, (enc_c.size, flat.size)


def test_random_bytes_roundtrip_property():
    rng = np.random.default_rng(9)
    docs = [bytes(rng.integers(0, 256, rng.integers(0, 60)).astype(np.uint8))
            for _ in range(300)]
    lens = np.array([len(d) for d in docs], np.int64)
    flat = np.frombuffer(b"".join(docs), np.uint8)
    table = fsst.build_table(flat, sample_lens=lens)
    enc, enc_lens = fsst.encode_strings(flat, lens, table)
    dec, dec_lens = fsst.decode_strings(enc, enc_lens, table)
    np.testing.assert_array_equal(dec, flat)
    np.testing.assert_array_equal(dec_lens, lens)


def test_string_cols_forced_byte_mass_split(spark, tokens_df, monkeypatch):
    """Round-4 verdict item 6: a batch over the byte-mass cap must
    degrade to multiple sub-batches with byte-identical output, not
    trip the int32-offset guard (mirror of the token-path split test).
    The caps are read when a DataFrame is built."""
    from pyspark.sql import functions as F

    from invariantbitpacking_spark.functions import strings as fstr

    sub = tokens_df.limit(200).coalesce(1)  # one fat Arrow batch
    table = fstr.learn_table_df(sub, ("doc_id", "source"))
    plain = {(r["doc_id"], r["source"]) for r in sub.collect()}

    enc_norm = fstr.encode_string_cols(sub, table)
    monkeypatch.setattr(fstr, "_ENC_MASS_CAP", 64)
    monkeypatch.setattr(fstr, "_DEC_MASS_CAP", 64)
    enc_split = fstr.encode_string_cols(sub, table)
    a = {r["doc_id"]: bytes(r["source"]) for r in
         enc_norm.select(F.hex("doc_id").alias("doc_id"), "source")
         .collect()}
    b = {r["doc_id"]: bytes(r["source"]) for r in
         enc_split.select(F.hex("doc_id").alias("doc_id"), "source")
         .collect()}
    assert a == b  # byte-identical under forced splitting

    dec = fstr.decode_string_cols(enc_split, table)
    assert {(r["doc_id"], r["source"]) for r in dec.collect()} == plain


def test_roundtrip_fusion_identical_and_scoped(spark, tokens_df):
    """An FSST encode->decode chain composed explicitly with
    ``stages.apply`` runs as ONE mapInArrow and gives the same values
    as the two-call form, which composes into one as well."""
    from invariantbitpacking_spark.functions import strings as fstr
    from invariantbitpacking_spark.operators import stages

    sub = tokens_df.limit(150).coalesce(1)
    table = fstr.learn_table_df(sub, ("doc_id", "source"))
    plain = {(r["doc_id"], r["source"]) for r in sub.collect()}

    def nodes(df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        return plan.count("MapInArrow") // 2  # tree line + detail block

    chained = stages.apply(sub, fstr.encode_stage(table),
                           fstr.decode_stage(table))
    assert nodes(chained) == 1
    assert {(r["doc_id"], r["source"]) for r in chained.collect()} == plain

    two = fstr.decode_string_cols(fstr.encode_string_cols(sub, table), table)
    assert nodes(two) == 1
    assert {(r["doc_id"], r["source"]) for r in two.collect()} == plain
