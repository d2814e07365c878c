"""Tombstone (O(delta)) deletes and snapshot time travel.

Round-5 verdict items 2 and 6: delete() defaults to writing delta-tree
tombstone markers (base bucket files stay byte-identical; physical
erasure deferred to compact()), and read_encoded/fetch accept
``as_of_seq`` to read the table as of a past lineage commit — upserts
AND deletes after that sequence are invisible.
"""

import os

import pytest
from pyspark.sql import functions as F

from invariantbitpacking_spark.operators import selector
from invariantbitpacking_spark.plans.pipeline import CompressionPipeline


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "out")


DELTA_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def _base_file_state(outdir, snapshot_id):
    """(path, size, mtime) of every base parquet file of a snapshot."""
    root = os.path.join(outdir, "encoded", f"snapshot_id={snapshot_id}")
    out = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
    return sorted(out)


def test_tombstone_delete_base_untouched_then_compact_erases(
        spark, tokens_df, outdir):
    """The verdict's acceptance test: base files byte-identical after a
    logical delete; compaction physically erases; checksums 0
    throughout."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(120)
    pipe.run(sub, "snapT")
    n0 = sub.count()
    victims = [r["doc_id"] for r in
               sub.select("doc_id").orderBy("doc_id").limit(4).collect()]
    before = _base_file_state(outdir, "snapT")
    ids = spark.createDataFrame([(v,) for v in victims], "doc_id string")
    res = pipe.delete(ids, "snapT")
    assert res.docs == 4
    # logical delete: every read path sees them gone
    enc = pipe.read_encoded("snapT")
    assert enc.count() == n0 - 4
    assert enc.filter(F.col("doc_id").isin(victims)).count() == 0
    assert pipe.fetch(victims, "snapT").count() == 0
    assert pipe.verify_checksums("snapT") == 0
    # ...while the base bucket files are BYTE-IDENTICAL (same paths,
    # sizes, mtimes — nothing was rewritten)
    assert _base_file_state(outdir, "snapT") == before
    # idempotent: deleting the same ids again is a no-op
    res2 = pipe.delete(ids, "snapT")
    assert res2.docs == 0
    assert pipe.read_encoded("snapT").count() == n0 - 4
    assert pipe.verify_checksums("snapT") == 0
    # ghost ids are a no-op and write no marker
    ghosts = spark.createDataFrame([("gh-1",), ("gh-2",)], "doc_id string")
    assert pipe.delete(ghosts, "snapT").docs == 0
    # compact(): physical erasure — victims' bytes leave the base,
    # delta dirs drop, audits stay green
    pipe.compact("snapT")
    assert not pipe._delta_buckets("snapT")
    assert pipe.read_encoded("snapT").count() == n0 - 4
    assert pipe.verify_checksums("snapT") == 0
    params = pipe.load_or_learn_params(sub, "snapT")
    remaining = sub.filter(~F.col("doc_id").isin(victims))
    assert pipe.verify_roundtrip(remaining, params, "snapT") == 0
    # deleted ids appear in no base file (deep check via decode of the
    # full table)
    assert (pipe.read_encoded("snapT")
            .filter(F.col("doc_id").isin(victims)).count() == 0)


def test_tombstone_delete_of_delta_only_doc(spark, tokens_df, outdir):
    """A document living only in a DELTA file dies to a higher-seq
    tombstone without compacting first."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(60)
    pipe.run(sub, "snapD")
    delta = spark.createDataFrame([("only-delta", [5, 6], 2, "web")],
                                  DELTA_DDL)
    pipe.append(delta, "snapD")
    ids = spark.createDataFrame([("only-delta",)], "doc_id string")
    pipe.delete(ids, "snapD")
    enc = pipe.read_encoded("snapD")
    assert enc.filter(F.col("doc_id") == "only-delta").count() == 0
    assert enc.count() == sub.count()
    assert pipe.verify_checksums("snapD") == 0


def test_tombstone_full_bucket_then_compact_drops_dir(
        spark, tokens_df, outdir):
    """Tombstoning EVERY document of a bucket and compacting must drop
    the bucket's base dir: the compacted file set names no base for
    it, and the superseded dir goes with the whole bucket dir."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=8, wave_buckets=8,
                               sample_fraction=None)
    pipe.run(tokens_df, "snapFB")
    bucketed = tokens_df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"))
    b0 = bucketed.groupBy("bucket").count().orderBy("count").first()["bucket"]
    victims = [r["doc_id"] for r in
               bucketed.filter(F.col("bucket") == b0)
               .select("doc_id").collect()]
    ids = spark.createDataFrame([(v,) for v in victims], "doc_id string")
    pipe.delete(ids, "snapFB")
    assert (pipe.read_encoded("snapFB")
            .filter(F.col("doc_id").isin(victims)).count() == 0)
    pipe.compact("snapFB")
    ddir = os.path.join(outdir, "encoded", "snapshot_id=snapFB",
                        f"bucket={b0}")
    assert not os.path.exists(ddir)
    assert pipe.read_encoded("snapFB").count() == \
        tokens_df.count() - len(victims)
    assert pipe.verify_checksums("snapFB") == 0


def test_time_travel_upsert_and_delete(spark, tokens_df, outdir):
    """as_of_seq reads: pre-upsert tokens come back bit-identical and
    a deleted document resurrects at a pre-delete sequence."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(80)
    pipe.run(sub, "snapTT")
    params = pipe.load_or_learn_params(sub, "snapTT")
    target = sub.select("doc_id").orderBy("doc_id").first()["doc_id"]
    orig = list(sub.filter(F.col("doc_id") == target).first()["tokens"])
    seq0 = pipe._snapshot_max_seq("snapTT")
    # upsert the target
    delta = spark.createDataFrame([(target, [1, 2, 3], 3, "web")], DELTA_DDL)
    pipe.append(delta, "snapTT")
    seq1 = pipe._snapshot_max_seq("snapTT")
    assert seq1 > seq0
    # then delete it
    ids = spark.createDataFrame([(target,)], "doc_id string")
    pipe.delete(ids, "snapTT")
    # current view: gone
    assert pipe.fetch([target], "snapTT").count() == 0
    # as of seq1: the upserted tokens
    got1 = pipe.fetch([target], "snapTT", as_of_seq=seq1).first()
    assert list(got1["tokens"]) == [1, 2, 3]
    # as of seq0: the ORIGINAL tokens, bit-identical
    dec0 = selector.decode_auto(
        pipe.read_encoded("snapTT", as_of_seq=seq0), params)
    assert list(dec0.filter(F.col("doc_id") == target)
                .first()["tokens"]) == orig
    assert dec0.count() == sub.count()
    # as_of without a snapshot refuses
    with pytest.raises(ValueError, match="as_of_seq"):
        pipe.read_encoded(as_of_seq=seq0)
    # GC interaction: after compact() the history is folded — an as-of
    # read returns the CURRENT (compacted) state for those buckets
    pipe.compact("snapTT")
    assert pipe.fetch([target], "snapTT", as_of_seq=seq0).count() == 0


def test_delete_everything_then_compact_empty_snapshot(
        spark, tokens_df, outdir):
    """Tombstoning EVERY document and compacting leaves a committed,
    EMPTY snapshot: reads return zero rows (not a schema-inference
    error over missing files) and the checksum audit reports intact."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(30)
    pipe.run(sub, "snapE")
    pipe.delete(sub.select("doc_id"), "snapE")
    assert pipe.read_encoded("snapE").count() == 0
    assert pipe.verify_checksums("snapE") == 0
    pipe.compact("snapE")
    assert pipe.read_encoded("snapE").count() == 0
    assert pipe.verify_checksums("snapE") == 0
    assert pipe.fetch(["anything"], "snapE").count() == 0
    # resurrect the snapshot with an append: committed buckets exist,
    # so the guard allows it, and the table works again
    delta = spark.createDataFrame([("re-1", [1, 2, 3], 3, "web")],
                                  DELTA_DDL)
    pipe.append(delta, "snapE")
    assert pipe.read_encoded("snapE").count() == 1
    assert pipe.verify_checksums("snapE") == 0


def test_tombstone_delete_crash_retry_converges(spark, tokens_df, outdir):
    """A tombstone delete that dies AFTER the marker write but BEFORE
    the lineage commit leaves orphan markers that no file set names:
    the crash window reads the pre-delete state with a clean audit,
    and replaying the same delete drops them (the garbage step) and
    converges to exact stats — the exactly-once claim behind the
    streaming erasure queue's at-least-once batches."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(80)
    pipe.run(sub, "snapDC")
    n0 = sub.count()
    victims = [r["doc_id"] for r in
               sub.select("doc_id").orderBy("doc_id").limit(3).collect()]
    ids = spark.createDataFrame([(v,) for v in victims], "doc_id string")
    real_commit = pipe._commit_delta_wave
    state = {"fail": True}

    def failing_commit(*a, **k):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("simulated crash before lineage commit")
        return real_commit(*a, **k)

    pipe._commit_delta_wave = failing_commit
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.delete(ids, "snapDC")
    # orphan markers exist on disk; no file set names them, so every
    # read still holds the victims and lineage still counts them
    snap_delta = os.path.join(pipe.delta_dir, "snapshot_id=snapDC")
    assert any(d.startswith("delta_seq=")
               for b in os.listdir(snap_delta)
               for d in os.listdir(os.path.join(snap_delta, b)))
    assert pipe._delta_buckets("snapDC") == []
    assert pipe.read_encoded("snapDC").count() == n0
    assert pipe.verify_checksums("snapDC") == 0
    # a FOREIGN commit takes the orphan's seq (the ADVICE crash shape)
    pipe.run(tokens_df.limit(10), "other")
    # replay the SAME delete: purge + re-apply, exact convergence
    res = pipe.delete(ids, "snapDC")
    assert res.docs == 3
    enc = pipe.read_encoded("snapDC")
    assert enc.count() == n0 - 3
    assert enc.filter(F.col("doc_id").isin(victims)).count() == 0
    assert pipe.verify_checksums("snapDC") == 0
    lin = pipe.latest_lineage("snapDC")
    assert lin.agg(F.sum("docs")).collect()[0][0] == n0 - 3


def test_time_travel_multi_version_history(spark, tokens_df, outdir):
    """Five successive upserts of one document: as_of at each recorded
    pre-upsert sequence returns exactly that version's tokens —
    multi-version history is linear and exact until compaction GCs
    it."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=2, wave_buckets=2,
                               sample_fraction=None)
    sub = tokens_df.limit(40)
    pipe.run(sub, "snapMV")
    target = sub.select("doc_id").orderBy("doc_id").first()["doc_id"]
    orig = list(sub.filter(F.col("doc_id") == target).first()["tokens"])
    seqs = {}
    for v in range(1, 6):
        seqs[v] = pipe._snapshot_max_seq("snapMV")
        d = spark.createDataFrame(
            [(target, list(range(v, v + 3)), 3, "w")], DELTA_DDL)
        pipe.append(d, "snapMV")
    assert list(pipe.fetch([target], "snapMV").first()["tokens"]) \
        == [5, 6, 7]
    for v in range(1, 6):
        got = list(pipe.fetch([target], "snapMV",
                              as_of_seq=seqs[v]).first()["tokens"])
        assert got == (orig if v == 1 else [v - 1, v, v + 1]), (v, got)
    assert pipe.verify_checksums("snapMV") == 0


def test_large_id_fetch_with_tombstones_and_as_of(spark, tokens_df, outdir):
    """>1024 requested ids forces the broadcast semi-join fetch path;
    it must honor tombstones (current view) and as_of (historical
    view) exactly like the literal-IN path."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    pipe.run(tokens_df, "snapBF")  # 600 docs
    all_ids = [r["doc_id"] for r in
               tokens_df.select("doc_id").orderBy("doc_id").collect()]
    seq0 = pipe._snapshot_max_seq("snapBF")
    victims = all_ids[:5]
    pipe.delete(spark.createDataFrame([(v,) for v in victims],
                                      "doc_id string"), "snapBF")
    # pad the request past the literal-path bound with ghosts
    want = all_ids + [f"ghost-{i}" for i in range(600)]  # 1200 > 1024
    got = {r["doc_id"] for r in pipe.fetch(want, "snapBF").collect()}
    assert got == set(all_ids) - set(victims)
    plan = pipe.fetch(want, "snapBF", decode=False)._jdf \
        .queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # the broadcast path, not the IN literal
    # historical view through the same path
    got0 = {r["doc_id"] for r in
            pipe.fetch(want, "snapBF", as_of_seq=seq0).collect()}
    assert got0 == set(all_ids)
