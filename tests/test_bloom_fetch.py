"""Parquet bloom filters on the encoded doc_id column (round-5
verdict item 5): base data files carry a bloom filter sized by
``bloom_ndv`` so fetch()'s pushed IN predicate prunes row groups even
for ids that interleave across the doc_id-clustered sort order
(min/max stats alone cannot skip those).

Neither pyarrow 16 nor duckdb 1.0 exposes bloom offsets in metadata,
so presence is pinned behaviorally: the same snapshot written with
bloom_ndv=None is smaller by approximately the filter bytes (a
power-of-two block-split filter, ~128 KiB per file at ndv=100k), and
scattered-id fetches stay exact on the bloom-enabled store.  After a
rewrite, the footers are read through parquet-mr on the JVM, which
gives each column chunk's bloom filter offset."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from invariantbitpacking_spark.plans.pipeline import CompressionPipeline


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path)


def _base_bytes(out):
    return sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(out, "encoded", "**", "*.parquet"), recursive=True))


def _files_without_bloom(spark, out):
    """Base files whose doc_id column chunks carry no bloom filter."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    missing = []
    for p in glob.glob(os.path.join(out, "encoded", "**", "*.parquet"),
                       recursive=True):
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(p), conf))
        try:
            offsets = [c.getBloomFilterOffset()
                       for b in reader.getFooter().getBlocks()
                       for c in b.getColumns()
                       if c.getPath().toDotString() == "doc_id"]
        finally:
            reader.close()
        if not offsets or min(offsets) < 0:
            missing.append(p)
    return missing


def test_bloom_filter_written_and_fetch_exact(spark, tokens_df, outdir):
    sub = tokens_df.limit(300)
    with_bloom = os.path.join(outdir, "wb")
    without = os.path.join(outdir, "wo")
    CompressionPipeline(spark, with_bloom, num_buckets=4, wave_buckets=4,
                        sample_fraction=None, bloom_ndv=100_000
                        ).run(sub, "s1")
    CompressionPipeline(spark, without, num_buckets=4, wave_buckets=4,
                        sample_fraction=None, bloom_ndv=None
                        ).run(sub, "s1")
    b1, b0 = _base_bytes(with_bloom), _base_bytes(without)
    # 4 bucket files x ~128 KiB filter each; data itself is identical
    assert b1 - b0 > 4 * 64 * 1024, (b1, b0)
    # scattered ids (every ~37th doc interleaves across the clustered
    # sort order) fetch exactly on the bloom-enabled store
    pipe = CompressionPipeline(spark, with_bloom, num_buckets=4,
                               wave_buckets=4, sample_fraction=None)
    ids = [r["doc_id"] for r in
           sub.select("doc_id").orderBy("doc_id").collect()][::37]
    got = pipe.fetch(ids, "s1")
    assert {r["doc_id"] for r in got.collect()} == set(ids)
    # the IN literal still reaches the scan as a pushed filter
    plan = pipe.fetch(ids, "s1", decode=False)._jdf \
        .queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(doc_id" in plan


def test_bloom_survives_append_and_compact(spark, tokens_df, outdir):
    """Rewrite paths (append rewrite, compact) keep writing the
    filter; fetch after an upsert+compact cycle stays exact."""
    out = os.path.join(outdir, "ac")
    pipe = CompressionPipeline(spark, out, num_buckets=4, wave_buckets=4,
                               sample_fraction=None, bloom_ndv=50_000)
    sub = tokens_df.limit(120)
    pipe.run(sub, "s1")
    delta = spark.createDataFrame(
        [("bloom-new", [3, 1, 4, 1, 5], 5, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    pipe.append(delta, "s1")          # delta file, base untouched
    pipe.compact("s1")                # folds back through _base_writer
    assert glob.glob(os.path.join(out, "encoded", "**", "*.parquet"),
                     recursive=True)
    assert _files_without_bloom(spark, out) == []
    got = pipe.fetch(["bloom-new"], "s1").first()
    assert list(got["tokens"]) == [3, 1, 4, 1, 5]
    assert pipe.verify_checksums("s1") == 0
