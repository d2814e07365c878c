"""The store's one metadata transport (``plans.fsio.HadoopFS``).

1. The local-or-not decision comes from the RESOLVED FileSystem: a bare
   path under ``fs.defaultFS=hdfs://...`` must take the Hadoop route,
   or lineage and tombstone metadata would land on the driver's disk
   while the executors write data to HDFS.
2. ``rename`` refuses an existing destination on both routes.
3. A whole store lifecycle run through the Hadoop streams ends in the
   same lineage as the same lifecycle over the ``os`` route.
"""

import glob
import os

import pytest

from invariantbitpacking_spark.plans.fsio import HadoopFS
from invariantbitpacking_spark.plans.pipeline import CompressionPipeline

DELTA_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def test_bare_path_under_hdfs_default_fs_takes_hadoop_route(spark, tmp_path):
    conf = spark._jsc.hadoopConfiguration()
    old = conf.get("fs.defaultFS")
    try:
        # resolving the FileSystem opens no connection
        conf.set("fs.defaultFS", "hdfs://localhost:1")
        fs = HadoopFS(spark, str(tmp_path / "store"))
        assert not fs.local
        assert str(fs._fs.getClass().getName()).endswith(
            "DistributedFileSystem")

        calls = []

        class RecordingFS:
            def exists(self, p):
                calls.append(str(p))
                return True

        fs._fs = RecordingFS()
        # absent on local disk: only the Hadoop route can answer True
        probe = str(tmp_path / "store" / "lineage")
        assert fs.exists(probe)
        assert calls == [probe]
    finally:
        if old is None:
            conf.unset("fs.defaultFS")
        else:
            conf.set("fs.defaultFS", old)
    assert HadoopFS(spark, str(tmp_path)).local


@pytest.mark.parametrize("local", [True, False], ids=["os", "hadoop"])
def test_rename_refuses_existing_destination(spark, tmp_path, local):
    fs = HadoopFS(spark, str(tmp_path))
    fs.local = local
    for kind in ("dir", "file"):
        src, dst = tmp_path / f"{kind}-src", tmp_path / f"{kind}-dst"
        if kind == "dir":
            src.mkdir()
            dst.mkdir()
        else:
            src.write_bytes(b"new")
            dst.write_bytes(b"old")
        with pytest.raises(IOError, match="exists"):
            fs.rename(str(src), str(dst))
        assert src.exists()
        if kind == "file":
            assert dst.read_bytes() == b"old"
        # a fresh destination still renames
        fs.rename(str(src), str(tmp_path / f"{kind}-moved"))
        assert (tmp_path / f"{kind}-moved").exists() and not src.exists()


def _lifecycle(pipe, spark, tokens_df):
    """run -> append -> delete -> fetch -> compact -> compact_lineage;
    returns (fetched rows, latest lineage rows)."""
    sub = tokens_df.limit(80)
    pipe.run(sub, "snapS")
    ids = sorted(r["doc_id"] for r in sub.select("doc_id").collect())
    delta = spark.createDataFrame(
        [(ids[0], [4, 5, 6], 3, "web"), ("stream-new", [1, 2], 2, "web")],
        DELTA_DDL)
    pipe.append(delta, "snapS")
    pipe.delete(spark.createDataFrame([(i,) for i in ids[1:5]],
                                      "doc_id string"), "snapS")
    fetched = {r["doc_id"]: list(r["tokens"]) for r in
               pipe.fetch(ids[:3] + ["stream-new"], "snapS").collect()}
    pipe.compact("snapS")
    assert pipe.compact_lineage() > 0
    assert pipe.verify_checksums("snapS") == 0
    cols = ("bucket", "docs", "tokens", "raw_bytes", "comp_bytes",
            "codec_mix", "payload_xxh", "commit_seq")
    lineage = sorted(tuple(r[c] for c in cols)
                     for r in pipe.latest_lineage("snapS").collect())
    return fetched, lineage


def test_store_lifecycle_over_hadoop_streams(spark, tokens_df, tmp_path):
    hadoop = CompressionPipeline(spark, str(tmp_path / "hadoop"),
                                 num_buckets=4, wave_buckets=2,
                                 sample_fraction=None)
    hadoop.fs.local = False  # every metadata call through Hadoop streams
    local = CompressionPipeline(spark, str(tmp_path / "os"),
                                num_buckets=4, wave_buckets=2,
                                sample_fraction=None)
    assert local.fs.local

    got_h = _lifecycle(hadoop, spark, tokens_df)
    got_o = _lifecycle(local, spark, tokens_df)
    assert got_h == got_o
    fetched, lineage = got_h
    assert fetched["stream-new"] == [1, 2] and len(fetched) == 2
    assert len(lineage) == 4
    # Hadoop's local FileSystem leaves a checksum sidecar per file it
    # writes; the os route writes none
    assert any(n.endswith(".crc")
               for n in os.listdir(tmp_path / "hadoop" / "lineage"))
    assert not any(n.endswith(".crc")
                   for n in os.listdir(tmp_path / "os" / "lineage"))
    # the footer-only schema read agrees across routes
    f = sorted(glob.glob(str(tmp_path / "os" / "encoded" / "*" / "*" /
                             "*" / "*.parquet")))[0]
    assert hadoop.fs.parquet_schema(f) == local.fs.parquet_schema(f)
