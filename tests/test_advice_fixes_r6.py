"""Regression tests for the round-5 ADVICE findings.

1. pipeline._purge_orphan_deltas: an orphan delta (crashed append)
   must be purged on retry even when OTHER snapshots advanced the
   global commit_seq in between — the old scheme matched only the next
   seq and left the orphan behind as fake committed data.
2. compact_lineage's two-rename swap: a crash between the renames
   leaves no lineage dir; the next lineage read must heal from the
   fully-written .compact dir (or .old) instead of forgetting every
   committed bucket.
3. The store's one mutation protocol survives a crash at every step
   boundary: delta data write, tombstone marker write, lineage append,
   compact's data overwrite and delta drop, and each compact_lineage
   rename.  Retrying the verb converges to the expected rows.
4. The float32 matvec in _pred_saved/_gated_savings is exact only
   while sum(popcount(mask)) < 2^24; above that the int64 path must
   be taken (and agree with a direct int64 computation).
5. make_bmp24 accepts RGB and writes the file's BGR order, so a color
   make -> decode round trip is identity (the gray-only tests used to
   mask a channel swap).
"""

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
    orphan_buckets = pipe._delta_buckets("snapA")
    assert orphan_buckets  # the orphan exists
    # a FOREIGN commit takes the orphan's seq in lineage
    pipe.run(tokens_df.limit(20), "snapB")
    assert pipe._snapshot_max_seq("snapB") > pipe._snapshot_max_seq("snapA")
    # retry: purge must key on snapA's OWN lineage max, not the global
    pipe.append(delta, "snapA")
    assert pipe.verify_checksums("snapA") == 0
    enc = pipe.read_encoded("snapA")
    assert enc.count() == n0 + 2
    lin = pipe.latest_lineage("snapA")
    assert lin.agg(F.sum("docs")).collect()[0][0] == n0 + 2


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


# fault point -> (verb it fires in, patched call, pipeline dir the
# call's path starts with, which matching call raises)
FAULT_POINTS = {
    "run_write": ("run", "writer", "data_dir", 1),
    "run_lineage": ("run", "write_bytes_atomic", "lineage_dir", 1),
    "delta_write": ("append", "writer", "delta_dir", 1),
    "append_lineage": ("append", "write_bytes_atomic", "lineage_dir", 1),
    "marker_write": ("delete", "write_bytes_atomic", "delta_dir", 2),
    "lineage_append": ("delete", "write_bytes_atomic", "lineage_dir", 1),
    "compact_overwrite": ("compact", "writer", "data_dir", 1),
    "compact_drop_delta": ("compact", "delete", "delta_dir", 1),
    "lineage_rename_old": ("compact_lineage", "rename", "lineage_dir", 1),
    "lineage_rename_swap": ("compact_lineage", "rename", "lineage_dir", 2),
}


@pytest.mark.parametrize("point", sorted(FAULT_POINTS))
def test_fault_point_then_retry_converges(spark, tokens_df, outdir,
                                          monkeypatch, point):
    """Crash at one step boundary of run -> append -> delete -> compact
    -> compact_lineage (the step raises once instead of running), retry
    the verb, and finish the sequence: the resolved rows equal the
    expected rows and every checksum holds.  The store is single-wave,
    so run() stages nothing and its retry re-encodes from the input."""
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

    verb, call, target, nth = FAULT_POINTS[point]
    prefix = getattr(pipe, target)
    state = {"armed": False, "seen": 0, "fired": False}

    def hit(path) -> bool:
        if not state["armed"] or state["fired"]:
            return False
        path = str(path)
        if not (path == prefix if call == "writer"
                else path.startswith(prefix)):
            return False
        state["seen"] += 1
        state["fired"] = state["seen"] == nth
        return state["fired"]

    # DataFrameWriter.parquet is patched on the class (path is the
    # second argument), an fs call on the instance (path comes first)
    owner, attr = ((DataFrameWriter, "parquet") if call == "writer"
                   else (pipe.fs, call))
    real = getattr(owner, attr)

    def step(*a, **k):
        if hit(a[1] if call == "writer" else a[0]):
            raise RuntimeError(f"injected fault: {point}")
        return real(*a, **k)

    monkeypatch.setattr(owner, attr, step)

    verbs = [("run", lambda: pipe.run(sub, "snapF"), base),
             ("append", lambda: pipe.append(delta, "snapF"), appended),
             ("delete", lambda: pipe.delete(victim_df, "snapF"), deleted),
             ("compact", lambda: pipe.compact("snapF"), deleted),
             ("compact_lineage", pipe.compact_lineage, deleted)]
    for name, run, want in verbs:
        state["armed"] = name == verb
        try:
            run()
        except RuntimeError as e:
            assert "injected fault" in str(e)
            state["armed"] = False
            run()  # the retry
            check(want)
    assert state["fired"], f"fault {point} never fired"
    check(deleted)
    assert pipe._delta_buckets("snapF") == []


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
