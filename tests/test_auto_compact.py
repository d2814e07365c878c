"""Delta-pressure auto-compaction for batch mutation callers.

Round-6 verdict gap 3: N small ``append()``/``delete()`` calls used to
accumulate delta files until someone called ``compact()`` by hand.  The
pipeline now folds a bucket back into its base as soon as it carries
``delta_compact_threshold`` delta_seq directories, so the read path
resolves a BOUNDED number of delta files per bucket regardless of how
many mutations a long-lived snapshot receives.
"""

import os

import pytest
from pyspark.sql import functions as F

from invariantbitpacking_spark.plans.pipeline import CompressionPipeline

DELTA_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "out")


def _delta_seq_count(pipe, snapshot_id, bucket):
    bdir = os.path.join(pipe.delta_dir, f"snapshot_id={snapshot_id}",
                        f"bucket={bucket}")
    if not os.path.isdir(bdir):
        return 0
    return sum(1 for c in os.listdir(bdir) if c.startswith("delta_seq="))


def _upsert_one(spark, pipe, snap, doc_id, tokens):
    delta = spark.createDataFrame(
        [(doc_id, tokens, len(tokens), "mut")], DELTA_DDL)
    return pipe.append(delta, snap)


def test_append_pressure_triggers_fold(spark, tokens_df, outdir):
    """Three upserts of the same document at threshold 3: the first two
    stay O(delta) (delta files accumulate), the third folds the bucket
    — delta dirs gone, latest value wins, audits green."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=2, wave_buckets=2,
                               sample_fraction=None,
                               delta_compact_threshold=3)
    sub = tokens_df.limit(60)
    pipe.run(sub, "snapP")
    n0 = sub.count()
    victim = sub.select("doc_id").orderBy("doc_id").first()["doc_id"]
    for i in (1, 2):
        _upsert_one(spark, pipe, "snapP", victim, [i, i, i])
    buckets = pipe._delta_buckets("snapP")
    assert len(buckets) == 1
    assert _delta_seq_count(pipe, "snapP", buckets[0]) == 2
    _upsert_one(spark, pipe, "snapP", victim, [7, 8, 9])  # crosses 3
    assert pipe._delta_buckets("snapP") == []
    assert _delta_seq_count(pipe, "snapP", buckets[0]) == 0
    got = (pipe.fetch([victim], "snapP")
           .select("tokens").first()["tokens"])
    assert list(got) == [7, 8, 9]
    assert pipe.read_encoded("snapP").count() == n0
    assert pipe.verify_checksums("snapP") == 0


def test_delete_pressure_triggers_fold(spark, tokens_df, outdir):
    """A tombstone delete that crosses the threshold folds the bucket:
    the marker and any earlier deltas leave the delta tree, the victim
    is physically gone from the base, checksums stay 0."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=2, wave_buckets=2,
                               sample_fraction=None,
                               delta_compact_threshold=2)
    sub = tokens_df.limit(60)
    pipe.run(sub, "snapD")
    n0 = sub.count()
    victim = sub.select("doc_id").orderBy("doc_id").first()["doc_id"]
    _upsert_one(spark, pipe, "snapD", victim, [5, 5])
    ids = spark.createDataFrame([(victim,)], "doc_id string")
    pipe.delete(ids, "snapD")  # second delta_seq in the bucket -> fold
    assert pipe._delta_buckets("snapD") == []
    assert sum(_delta_seq_count(pipe, "snapD", b) for b in (0, 1)) == 0
    assert pipe.read_encoded("snapD").count() == n0 - 1
    assert pipe.fetch([victim], "snapD").count() == 0
    assert pipe.verify_checksums("snapD") == 0


def test_threshold_none_preserves_history(spark, tokens_df, outdir):
    """delta_compact_threshold=None disables the backstop (the
    time-travel configuration): deltas accumulate and as_of_seq still
    reaches every version."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=2, wave_buckets=2,
                               sample_fraction=None,
                               delta_compact_threshold=None)
    sub = tokens_df.limit(60)
    pipe.run(sub, "snapH")
    victim = sub.select("doc_id").orderBy("doc_id").first()["doc_id"]
    seq0 = pipe._snapshot_max_seq("snapH")
    for i in (1, 2, 3, 4):
        _upsert_one(spark, pipe, "snapH", victim, [i])
    buckets = pipe._delta_buckets("snapH")
    assert len(buckets) == 1
    assert _delta_seq_count(pipe, "snapH", buckets[0]) == 4
    asof = (pipe.fetch([victim], "snapH", as_of_seq=seq0)
            .select("n_tok").first()["n_tok"])
    orig = (sub.filter(F.col("doc_id") == victim)
            .select("n_tok").first()["n_tok"])
    assert asof == orig
    now = pipe.fetch([victim], "snapH").select("tokens").first()["tokens"]
    assert list(now) == [4]
