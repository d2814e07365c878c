"""Arrow stage layer: plan shape of composed chains, per-stage
sub-batching, and the worker-side lazy zip-directory invalidation."""

import json
import os
import subprocess
import sys
import textwrap
import zipimport

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


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_composition_is_scoped_to_the_unmodified_output(store):
    """decode_auto over read_encoded's very output is one eval; a
    filter, a select or a cache() in between keeps two (a cache is
    never bypassed), and every form gives the same rows."""
    pipe, _ = store
    params = pipe._load_params("snapST")

    def decoded(enc):
        return selector.decode_auto(enc, params)

    one = decoded(pipe.read_encoded("snapST"))
    assert _python_nodes(one) == 1
    want = _rows(one)
    assert len(want) == 120
    cached = pipe.read_encoded("snapST").cache()
    try:
        for enc in (pipe.read_encoded("snapST").filter(F.lit(True)),
                    pipe.read_encoded("snapST").select("*"),
                    cached):
            two = decoded(enc)
            assert _python_nodes(two) == 2
            assert two.schema == one.schema
            assert _rows(two) == want
    finally:
        cached.unpersist()


def test_composed_projection_then_retyped_matches_two_calls(spark):
    """A second call whose projecting stage is followed by a retyped
    stage: the composed chain hands the projecting stage exactly its
    reads and gives the two-call schema and rows."""
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i) / 4) for i in range(30)],
        "k int, s string, x double").coalesce(2)
    one_row = stages.Stage(lambda rb: rb, lambda sch: sch,
                           lambda rb: np.ones(rb.num_rows, np.int64), 7)
    widen = stages.Stage(
        lambda rb: rb.append_column("k2", pa.array(
            rb.column("k").to_numpy() * 2, pa.int32())),
        lambda sch: StructType(sch.fields + [StructField("k2",
                                                         IntegerType())]),
        lambda rb: np.ones(rb.num_rows, np.int64), 5)

    def project(rb):
        seen = set(rb.schema.names)
        assert seen == {"k2", "s"}, seen
        return pa.record_batch([rb.column("s"), rb.column("k2")],
                               names=["s", "k2"])

    pick = stages.Stage(project, stages.fixed("s string, k2 int"),
                        lambda rb: np.ones(rb.num_rows, np.int64), 3,
                        ("k2", "s"))
    to_bin = stages.Stage(
        lambda rb: pa.record_batch(
            [rb.column("s").cast(pa.binary()), rb.column("k2")],
            names=["s", "k2"]),
        stages.retyped(("s",), "binary"),
        lambda rb: np.ones(rb.num_rows, np.int64), 4)

    first = stages.apply(df, one_row, widen)
    fused = stages.apply(first, pick, to_bin)
    unfused = stages.apply(first.select("*"), pick, to_bin)
    assert _python_nodes(fused) == 1 and _python_nodes(unfused) == 2
    assert fused.schema == unfused.schema
    assert fused.columns == ["s", "k2"]
    assert _rows(fused) == _rows(unfused)
    assert _rows(fused) == sorted((f"s{i}".encode(), 2 * i)
                                  for i in range(30))


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


def test_workers_install_lazy_zip_invalidation(spark):
    """An engine eval's kernel sees the lazy invalidation installed in
    its Python worker; the driver keeps the stdlib method."""
    def kernel(rb):
        lazy = zipimport.zipimporter.invalidate_caches is stages._drop_directory
        return pa.record_batch([pa.array([lazy] * rb.num_rows)], ["lazy"])

    probe = stages.Stage(kernel, stages.fixed("lazy boolean"),
                         lambda rb: np.ones(rb.num_rows, np.int64), 1 << 30)
    df = spark.range(0, 8, numPartitions=2)
    stages.apply(df, probe).collect()
    got = {r["lazy"] for r in stages.apply(df, probe).collect()}
    assert got == {sys.version_info < (3, 13)}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert "_files" not in vars(zipimport.zipimporter)


_LAZY_ZIP_SCRIPT = textwrap.dedent("""
    import importlib, importlib.util, json, pkgutil, sys, zipfile, zipimport
    zpath = sys.argv[1]

    def write(files):
        with zipfile.ZipFile(zpath, "w") as z:
            for name, src in files.items():
                z.writestr(name, src)

    files = {"zlazy/__init__.py": "", "top.py": ""}
    for sub in "abc":
        files[f"zlazy/{sub}/__init__.py"] = ""
        files[f"zlazy/{sub}/m.py"] = ""
    files["zlazy/a/later.py"] = ""
    files["zlazy/c/gone.py"] = ""
    write(files)
    sys.path.insert(0, zpath)
    import top, zlazy.a.m, zlazy.b.m, zlazy.c.m

    reads = 0
    read_directory = zipimport._read_directory

    def counting(archive):
        global reads
        reads += archive == zpath
        return read_directory(archive)

    zipimport._read_directory = counting

    def reads_of(step):
        global reads
        reads = 0
        step()
        return reads

    def invalidate_10():
        for _ in range(10):
            importlib.invalidate_caches()

    out = {"importers": sum(isinstance(i, zipimport.zipimporter)
                            and i.archive == zpath
                            for i in sys.path_importer_cache.values())}
    out["stdlib"] = reads_of(invalidate_10)

    from invariantbitpacking_spark.operators import stages

    class Frame:  # all apply() needs of a DataFrame
        schema = None

        def mapInArrow(self, chain, schema):
            self.chain = chain

    frame = Frame()
    stages.apply(frame)

    def run_task():  # what a Python worker does with each task
        list(frame.chain(iter([])))

    run_task()
    out["lazy"] = reads_of(invalidate_10)
    out["next_import"] = reads_of(lambda: importlib.import_module("zlazy.a.later"))
    assert importlib.util.find_spec("zlazy.c.gone") is not None

    # rewrite in place: one module gone, new ones at the root and in a
    # sub-package, every later entry at a new offset
    del files["zlazy/c/gone.py"]
    files["fresh_top.py"] = "X = 'root'"
    files["zlazy/b/fresh.py"] = "X = 'sub'"
    write(files)
    importlib.invalidate_caches()

    def import_new():
        import fresh_top, zlazy.b.fresh
        out["fresh"] = [fresh_top.X, zlazy.b.fresh.X]

    out["rewrite_import"] = reads_of(import_new)
    import zlazy.b
    out["listed"] = sorted(m.name for m in pkgutil.iter_modules(zlazy.b.__path__))
    try:
        import zlazy.c.gone
        out["gone"] = "imported"
    except ModuleNotFoundError:
        out["gone"] = "ModuleNotFoundError"

    def installed():
        cls = vars(zipimport.zipimporter)
        return (cls.get("invalidate_caches"), cls.get("_files"),
                zipimport._zip_directory_cache)

    first = installed()
    run_task()
    out["reinstall_same"] = all(a is b for a, b in zip(first, installed()))
    out["reinstall_lazy"] = reads_of(invalidate_10)
    print(json.dumps(out))
""")


def test_lazy_zip_invalidation_reads_each_archive_once(tmp_path):
    """In a fresh interpreter (this one is never patched): once
    apply()'s worker-side chain has run, invalidate_caches() reads no
    zip directory, the next import reads it once for every importer of
    the archive, and an archive rewritten in place is seen whole through
    the root and the sub-package importers alike."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(
               filter(None, [root, os.environ.get("PYTHONPATH")]))}
    proc = subprocess.run(
        [sys.executable, "-c", _LAZY_ZIP_SCRIPT, str(tmp_path / "lazy.zip")],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=120)
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["importers"] == 5  # the root, zlazy and its 3 sub-packages
    if sys.version_info < (3, 13):
        assert out["stdlib"] >= 10 * out["importers"]
    assert out["lazy"] == 0
    assert out["next_import"] == 1
    assert out["rewrite_import"] == 1
    assert out["fresh"] == ["root", "sub"]
    assert out["listed"] == ["fresh", "m"]
    assert out["gone"] == "ModuleNotFoundError"
    assert out["reinstall_same"] is True
    assert out["reinstall_lazy"] == 0
