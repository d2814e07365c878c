"""Regression tests for the round-5 ADVICE findings.

1. An orphan delta (crashed append) must never count as committed
   data, even when OTHER snapshots advanced the global commit_seq in
   between: no file set names it, so no read sees it, and the retry's
   garbage step (pipeline._gc) deletes it.
2. compact_lineage's two-rename swap: a crash between the renames
   leaves no lineage dir; the next lineage read must heal from the
   fully-written .compact dir (or .old) instead of forgetting every
   committed bucket.
3. The store's one mutation protocol survives a crash at every step
   boundary: delta data write, tombstone marker write, lineage append,
   the garbage step's delete before a write, compact's base write and
   its post-commit drop of superseded base and delta dirs, and each
   compact_lineage rename.  Retrying the verb converges to the
   expected rows.  A crash INSIDE compact's base write, modelled on
   Spark's commit, loses no document either.
4. The float32 matvec in _pred_saved is exact only
   while sum(popcount(mask)) < 2^24; above that the int64 path must
   be taken (and agree with a direct int64 computation).
5. make_bmp24 accepts RGB and writes the file's BGR order, so a color
   make -> decode round trip is identity (the gray-only tests used to
   mask a channel swap).
"""

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from invariantbitpacking_spark.codecs import numpy_ref as nr
from invariantbitpacking_spark.plans.pipeline import CompressionPipeline


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "out")


DELTA_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def test_orphan_delta_purged_after_foreign_commit(spark, tokens_df, outdir):
    """The exact ADVICE scenario: append on snapshot A crashes between
    delta write and lineage commit; snapshot B then commits (advancing
    the GLOBAL seq past the orphan's); the retried append on A must
    still purge the orphan — otherwise its rows read as committed data
    and the incremental stats drift permanently."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(60)
    pipe.run(sub, "snapA")
    n0 = sub.count()
    delta = spark.createDataFrame(
        [("orf-1", [11, 12], 2, "web"), ("orf-2", [13], 1, "web")],
        DELTA_DDL)
    real_commit = pipe._commit_delta_wave
    state = {"fail": True}

    def failing_commit(*a, **k):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("simulated crash before lineage commit")
        return real_commit(*a, **k)

    pipe._commit_delta_wave = failing_commit
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.append(delta, "snapA")
    # the orphan exists on disk, and no file set names it
    assert _delta_seq_dirs(pipe, "snapA")
    assert pipe._delta_buckets("snapA") == []
    assert pipe.read_encoded("snapA").count() == n0
    # a FOREIGN commit takes the orphan's seq in lineage
    pipe.run(tokens_df.limit(20), "snapB")
    assert pipe._snapshot_max_seq("snapB") > pipe._snapshot_max_seq("snapA")
    # retry: the garbage step drops the orphan, whatever its seq
    pipe.append(delta, "snapA")
    assert pipe.verify_checksums("snapA") == 0
    enc = pipe.read_encoded("snapA")
    assert enc.count() == n0 + 2
    lin = pipe.latest_lineage("snapA")
    assert lin.agg(F.sum("docs")).collect()[0][0] == n0 + 2
    assert len(_delta_seq_dirs(pipe, "snapA")) == len(
        pipe._delta_buckets("snapA"))


def _delta_seq_dirs(pipe, snapshot_id):
    """The ``delta_seq=N`` dirs of a snapshot on disk."""
    return glob.glob(os.path.join(pipe.delta_dir, f"snapshot_id={snapshot_id}",
                                  "bucket=*", "delta_seq=*"))


def test_compact_lineage_crash_window_heals(spark, tokens_df, outdir):
    """Simulate the crash between compact_lineage's two renames: the
    lineage dir is gone, .compact (complete) and .old both exist.  The
    next lineage read must recover the committed state."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(40)
    pipe.run(sub, "snapH")
    before = {(r["bucket"], r["payload_xxh"]) for r in
              pipe.latest_lineage("snapH").collect()}
    # reproduce compact_lineage's state at the crash point
    from pyspark.sql import Window
    lin = pipe.lineage()
    w = (Window.partitionBy("snapshot_id", "bucket")
         .orderBy(F.desc("commit_seq"), F.desc("committed_at")))
    latest = (lin.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    tmp = pipe.lineage_dir + ".compact"
    latest.coalesce(1).write.mode("overwrite").parquet(tmp)
    pipe.fs.rename(pipe.lineage_dir, pipe.lineage_dir + ".old")
    # crash here: no lineage dir.  Reads must heal from .compact.
    after = {(r["bucket"], r["payload_xxh"]) for r in
             pipe.latest_lineage("snapH").collect()}
    assert after == before
    assert pipe.fs.exists(pipe.lineage_dir)
    assert not pipe.fs.exists(pipe.lineage_dir + ".old")
    assert pipe.verify_checksums("snapH") == 0


def test_lineage_heals_from_old_when_compact_missing(
        spark, tokens_df, outdir):
    """Crash during the FIRST rename's window with no complete tmp dir:
    the .old dir is authoritative."""
    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    pipe.run(tokens_df.limit(30), "snapO")
    before = {(r["bucket"], r["payload_xxh"]) for r in
              pipe.latest_lineage("snapO").collect()}
    pipe.fs.rename(pipe.lineage_dir, pipe.lineage_dir + ".old")
    after = {(r["bucket"], r["payload_xxh"]) for r in
             pipe.latest_lineage("snapO").collect()}
    assert after == before
    assert pipe.verify_checksums("snapO") == 0


# fault point -> (verb it fires in, then one fault per failing attempt
# of that verb: (patched call, pipeline dir the call's path starts
# with, which matching call of the attempt raises))
FAULT_POINTS = {
    "run_write": ("run", ("writer", "data_dir", 1)),
    "run_lineage": ("run", ("write_bytes_atomic", "lineage_dir", 1)),
    # the retry of a run that crashed at its commit meets the crashed
    # attempt's base dirs, and its garbage step crashes deleting them
    "run_gc": ("run", ("write_bytes_atomic", "lineage_dir", 1),
               ("delete", "data_dir", 1)),
    "delta_write": ("append", ("writer", "delta_dir", 1)),
    "append_lineage": ("append", ("write_bytes_atomic", "lineage_dir", 1)),
    "append_gc": ("append", ("write_bytes_atomic", "lineage_dir", 1),
                  ("delete", "delta_dir", 1)),
    "marker_write": ("delete", ("write_bytes_atomic", "delta_dir", 2)),
    "lineage_append": ("delete", ("write_bytes_atomic", "lineage_dir", 1)),
    # compact's base write (a write into a fresh base_seq dir)
    "compact_overwrite": ("compact", ("writer", "data_dir", 1)),
    # compact's drops of the superseded dirs, after its commit
    "compact_drop_base": ("compact", ("delete", "data_dir", 1)),
    "compact_drop_delta": ("compact", ("delete", "delta_dir", 1)),
    "lineage_rename_old": ("compact_lineage",
                           ("rename", "lineage_dir", 1)),
    "lineage_rename_swap": ("compact_lineage",
                            ("rename", "lineage_dir", 2)),
}


@pytest.mark.parametrize("point", sorted(FAULT_POINTS))
def test_fault_point_then_retry_converges(spark, tokens_df, outdir,
                                          monkeypatch, point):
    """Crash at one step boundary of run -> append -> delete -> compact
    -> compact_lineage (the step raises once instead of running), retry
    the verb, and finish the sequence: the resolved rows equal the
    expected rows and every checksum holds.  A point with two faults
    crashes two attempts in turn before the retry that succeeds.  The
    store is single-wave, so run() stages nothing and its retry
    re-encodes from the input."""
    from pyspark.sql.readwriter import DataFrameWriter

    from invariantbitpacking_spark.operators import selector

    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(60)
    base = {r["doc_id"]: list(r["tokens"]) for r in sub.collect()}
    ids = sorted(base)
    upd = ids[0]
    delta = spark.createDataFrame(
        [(upd, [5, 6, 7], 3, "web"), ("fault-new", [1, 2], 2, "web")],
        DELTA_DDL)
    appended = {**base, upd: [5, 6, 7], "fault-new": [1, 2]}
    victims = ids[1:7]
    deleted = {k: v for k, v in appended.items() if k not in victims}
    victim_df = spark.createDataFrame([(v,) for v in victims],
                                      "doc_id string")

    def check(want):
        params = pipe._load_params("snapF")
        got = {r["doc_id"]: list(r["tokens"]) for r in
               selector.decode_auto(pipe.read_encoded("snapF"), params)
               .collect()}
        assert got == want
        assert pipe.verify_checksums("snapF") == 0
        lin = pipe.latest_lineage("snapF").collect()
        assert len(lin) == 4
        assert sum(r["docs"] for r in lin) == len(want)
        # no dir on disk that the file sets do not name
        files = pipe._files("snapF")
        for root, col in ((pipe.data_dir, "base_seq"),
                          (pipe.delta_dir, "delta_seq")):
            on_disk = {(int(b.split("=")[-1]), int(s.split("=")[-1]))
                       for b, s in (os.path.split(p) for p in glob.glob(
                           os.path.join(root, "snapshot_id=snapF",
                                        "bucket=*", f"{col}=*")))}
            named = {(b, s) for b, seqs in pipe._named(files, root).items()
                     for s in seqs}
            assert on_disk == named, (root, on_disk - named)

    verb, *faults = FAULT_POINTS[point]
    state = {"fault": None, "seen": 0, "fired": 0}

    def hit(call, path) -> bool:
        fault = state["fault"]
        if fault is None or fault[0] != call:
            return False
        if not str(path).startswith(getattr(pipe, fault[1])):
            return False
        state["seen"] += 1
        if state["seen"] != fault[2]:
            return False
        state["fault"] = None
        state["fired"] += 1
        return True

    def patch(owner, attr, call, path_of):
        real = getattr(owner, attr)

        def step(*a, **k):
            if hit(call, path_of(a)):
                raise RuntimeError(f"injected fault: {point}")
            return real(*a, **k)

        monkeypatch.setattr(owner, attr, step)

    # DataFrameWriter.parquet is patched on the class (path is the
    # second argument), an fs call on the instance (path comes first)
    patch(DataFrameWriter, "parquet", "writer", lambda a: a[1])
    for call in {f[0] for f in faults} - {"writer"}:
        patch(pipe.fs, call, call, lambda a: a[0])

    verbs = [("run", lambda: pipe.run(sub, "snapF"), base),
             ("append", lambda: pipe.append(delta, "snapF"), appended),
             ("delete", lambda: pipe.delete(victim_df, "snapF"), deleted),
             ("compact", lambda: pipe.compact("snapF"), deleted),
             ("compact_lineage", pipe.compact_lineage, deleted)]
    for name, run, want in verbs:
        if name == verb:
            for fault in faults:
                state.update(fault=fault, seen=0)
                with pytest.raises(RuntimeError, match="injected fault"):
                    run()
            run()  # the retry
            check(want)
        else:
            run()
    assert state["fired"] == len(faults), f"fault {point} never fired"
    check(deleted)
    assert pipe._delta_buckets("snapF") == []


def test_compact_crash_inside_base_write_keeps_every_document(
        spark, tokens_df, outdir, monkeypatch):
    """A crash INSIDE compact()'s base write.  Spark's commit of an
    overwrite deletes each target partition's old files, then renames
    the new ones in (``HadoopMapReduceCommitProtocol.commitJob``); a
    driver death in between leaves a bucket with no base at all.  The
    patched writer models that for the write into ``encoded/``: in
    overwrite mode it deletes the first target bucket's existing files
    and raises, in any other mode it writes and raises.  The retried
    compact must keep every document, with a clean audit."""
    from pyspark.sql.readwriter import DataFrameWriter

    from invariantbitpacking_spark.functions.hashing import bucket_of
    from invariantbitpacking_spark.operators import selector

    pipe = CompressionPipeline(spark, outdir, num_buckets=4, wave_buckets=4,
                               sample_fraction=None)
    sub = tokens_df.limit(300)
    pipe.run(sub, "snapK")
    want = {r["doc_id"]: list(r["tokens"]) for r in sub.collect()}
    upd = sorted(want)[:20]
    pipe.append(spark.createDataFrame(
        [(i, [3, 1, 4], 3, "web") for i in upd], DELTA_DDL), "snapK")
    want.update({i: [3, 1, 4] for i in upd})
    first = min(bucket_of(i, 4) for i in upd)
    real_mode, real_parquet = DataFrameWriter.mode, DataFrameWriter.parquet
    state = {"armed": True}

    def mode(self, save_mode):
        self._test_mode = save_mode
        return real_mode(self, save_mode)

    def parquet(self, path, *a, **k):
        if not (state["armed"] and str(path).startswith(pipe.data_dir)):
            return real_parquet(self, path, *a, **k)
        state["armed"] = False
        if getattr(self, "_test_mode", None) == "overwrite":
            for f in glob.glob(os.path.join(
                    pipe.data_dir, "snapshot_id=snapK", f"bucket={first}",
                    "**", "*.parquet"), recursive=True):
                os.remove(f)
        else:
            real_parquet(self, path, *a, **k)
        raise RuntimeError("driver died inside the base write")

    monkeypatch.setattr(DataFrameWriter, "mode", mode)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(RuntimeError, match="driver died"):
        pipe.compact("snapK")
    pipe.compact("snapK")  # the retry
    assert not state["armed"]
    params = pipe._load_params("snapK")
    got = {r["doc_id"]: list(r["tokens"]) for r in
           selector.decode_auto(pipe.read_encoded("snapK"), params)
           .collect()}
    assert len(got) == len(want)
    assert got == want
    assert pipe.verify_checksums("snapK") == 0
    assert pipe._delta_buckets("snapK") == []


def test_pred_saved_wide_vec_int64_fallback():
    """sum(popcount(mask)) >= 2^24 forces the exact int64 path; the
    result must agree with a direct int64 computation."""
    v = 1 << 20  # all-ones uint32 masks -> popc sum = 2^25 >= 2^24
    rng = np.random.default_rng(7)
    block = rng.integers(0, 2 ** 32, (3, v), dtype=np.uint32)
    mask = np.full(v, 0xFFFFFFFF, np.uint32)
    bitval = block[0].copy()  # row 0 passes everywhere
    pred, saved = nr._pred_saved(block, mask, bitval)
    expect = pred @ nr._popcount(mask).astype(np.int64)
    np.testing.assert_array_equal(saved, expect)
    assert saved[0] == v * 32  # full row match saves every bit


def test_make_bmp24_color_roundtrip_asymmetric():
    """A pixel whose channels differ must round-trip verbatim — the
    gray-triple tests could never catch a channel swap."""
    from invariantbitpacking_spark.functions import multimodal as mm

    px = np.array([[[255, 0, 0], [0, 255, 0]],
                   [[0, 0, 255], [10, 20, 30]]], np.uint8)
    img, meta = mm.decode_image(mm.make_bmp24(2, 2, px))
    np.testing.assert_array_equal(img, px)
    # and the FILE bytes really are BGR (format conformance, not just
    # builder/parser symmetry): last padded row is written first
    raw = mm.make_bmp24(1, 1, np.array([[[1, 2, 3]]], np.uint8))
    assert raw[-4:-1] == bytes([3, 2, 1])
