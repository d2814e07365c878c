"""Resumable compression pipeline with per-partition lineage.

North-rule scale machinery:

- **Skew-neutralizing partitioning**: documents are salted with
  ``bucket = xxhash64(doc_id) % num_buckets`` and shuffled once so every
  bucket carries a statistically even token mass regardless of the
  long-document tail (``source`` alone would skew; a single mega-doc
  bounds residual skew to its own size since documents are atomic).
- **Wave commits + lineage**: buckets are processed in waves; each wave
  writes its encoded output into fresh ``base_seq`` dirs and then
  appends one lineage row per bucket to ``<out>/lineage`` with
  (snapshot_id, bucket, codec mix, doc/token/byte counts, payload
  checksum, wall seconds, live files).  The lineage append is the
  commit point.
- **One record of live files**: each bucket's latest lineage row names
  its base and delta dirs (``files``), and every read picks those dirs,
  so the lineage commit is the only switch from old files to new.  No
  dir is overwritten; one garbage step deletes the dirs no row names.
- **Resume**: a rerun skips the buckets with committed lineage rows
  for the same snapshot and processes only the remainder.
- **One mutation protocol**: every mutation lands as a delta.
  :meth:`CompressionPipeline.append` upserts O(delta) merge-on-read
  delta files, :meth:`delete` writes O(delta) tombstone markers, and
  superseding lineage rows keep the checksum audit exact (latest
  commit per bucket wins).  :meth:`compact` is the only code that
  rewrites a base bucket; physical erasure is ``delete`` followed by
  ``compact``.
- **One stored layout**: ``doc_id``/``source`` are always canonical
  FSST binary, encoded with the snapshot's own persisted table
  (``params/fsst_<snapshot>.json``), and every stored row carries its
  ``row_xxh`` payload hash, so commits never re-read payload.
- **Time travel** (``as_of_seq``): reads can rewind to any
  still-uncompacted lineage commit.
- **One metadata transport**: lineage, tombstone markers, params and
  FSST tables move as bytes through :class:`fsio.HadoopFS`, which picks
  its route once from the resolved FileSystem.  Lineage is parquet
  read and written by pyarrow on the driver; no Spark job touches it.

On a real cluster this is launched via ``spark-submit --py-files
invariantbitpacking_spark.zip run_pipeline.py`` (see scripts/); the
session factory builds the same zip in local mode.

The reference has no persistence/lineage (results live in process
memory, SURVEY.md §1.5); this layer is new work per BASELINE.json.
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructField, _parse_datatype_string

from ..functions import strings as fstr
from ..functions.hashing import bucket_of
from ..operators import selector, stages
from ..operators.framing import gather_ranges, list_array_flat
from ..operators.ibp import IbpParams, learn_params, token_stage
from .fsio import HadoopFS


def _join(*parts: str) -> str:
    """Scheme-safe path join (os.path.join is local-FS thinking; this
    works for file:/, hdfs://, s3a:// and bare paths alike)."""
    return "/".join([parts[0].rstrip("/")] +
                    [p.strip("/") for p in parts[1:]])


def _float_bits_view(df: DataFrame, itemsize: int) -> DataFrame:
    """``tokens array<float|double>`` reinterpreted as its IEEE-754
    integer bit view (``array<int|bigint>``), doc_id/n_tok preserved.

    The round-trip audit of a float snapshot compares on THIS view:
    Spark's value equality is NaN-safe (NaN = NaN holds) but it
    conflates -0.0 with 0.0 and all NaN payload bits — weaker than the
    bit-identical guarantee the codec makes, and the bit view is
    exactly what the encoder packed anyway.  One zero-copy Arrow stage,
    no per-row Python."""
    elem = "bigint" if itemsize == 8 else "int"

    def view(rb):
        vals, starts, lens = list_array_flat(rb.column("tokens"), itemsize)
        toks = stages.list_col(pa.array(gather_ranges(vals, starts, lens)),
                               lens)
        return pa.RecordBatch.from_arrays(
            [rb.column("doc_id"), toks, rb.column("n_tok")],
            names=["doc_id", "tokens", "n_tok"])

    return stages.apply(df, token_stage(
        view, stages.fixed(f"doc_id string, tokens array<{elem}>, n_tok int"),
        "tokens", ("doc_id", "tokens", "n_tok")))


# one row per (snapshot, bucket) commit; the arrow schema of every
# lineage parquet file and of the lineage() / latest_lineage() views.
# ``files`` names the bucket's live dirs: its base dir (``base_seq``,
# null when the bucket stores no base) and its delta dirs
# (``delta_seqs``, ascending) — see CompressionPipeline._files.
LINEAGE_SCHEMA = pa.schema([
    ("snapshot_id", pa.string()), ("bucket", pa.int32()),
    ("status", pa.string()), ("docs", pa.int64()),
    ("tokens", pa.int64()), ("raw_bytes", pa.int64()),
    ("comp_bytes", pa.int64()), ("codec_mix", pa.string()),
    ("payload_xxh", pa.int64()), ("wall_sec", pa.float64()),
    ("committed_at", pa.float64()), ("commit_seq", pa.int64()),
    ("files", pa.struct([("base_seq", pa.int64()),
                         ("delta_seqs", pa.list_(pa.int64()))])),
])

# Arrow schema of every stored row file (base, delta, tombstone
# marker): the encode stages' nullable columns, and row_xxh, which
# Spark writes as required because xxhash64 is never null.
STORED_SCHEMA = pa.schema([
    ("doc_id", pa.binary()), ("source", pa.binary()),
    ("n_tok", pa.int32()), ("n_blocks", pa.int32()),
    ("block_sizes", pa.list_(pa.int32())),
    ("block_flags", pa.binary()), ("payload", pa.binary()),
    ("comp_bytes", pa.int64()), ("raw_bytes", pa.int64()),
    ("codec", pa.string()), pa.field("row_xxh", pa.int64(), False),
])

# Sentinel codec of a DELETE marker row in the delta tree: it wins
# latest-wins resolution like any delta row but is filtered from every
# resolved view, so the document reads as gone while the base bucket
# stays byte-identical until compact() physically erases it.
TOMBSTONE_CODEC = "tombstone"

# The column values of every marker row after its doc_id, in
# STORED_SCHEMA order: no payload, zero counts, the sentinel codec.
_TOMBSTONE_MARKER = {
    "source": None, "n_tok": 0, "n_blocks": 0, "block_sizes": [],
    "block_flags": None, "payload": None, "comp_bytes": 0, "raw_bytes": 0,
    "codec": TOMBSTONE_CODEC, "row_xxh": 0,
}

# Partition columns (name, DDL type) of the base and delta trees,
#   encoded/snapshot_id=S/bucket=B/base_seq=N/part-*.parquet
#   delta/snapshot_id=S/bucket=B/delta_seq=N/part-*.parquet
# where N is the seq of the commit that wrote the dir: no dir is ever
# written twice.
BASE_PARTS = (("snapshot_id", "string"), ("bucket", "int"),
              ("base_seq", "long"))
DELTA_PARTS = BASE_PARTS[:2] + (("delta_seq", "long"),)

# Column order of every resolved view: the stored row, then snapshot_id
# and bucket.
_VIEW = tuple(STORED_SCHEMA.names) + ("snapshot_id", "bucket")

# Up to this many keys, a key-restricted read filters on a literal IN
# pushed into the parquet scan; above it, on an Arrow-built key frame.
# Build plus run of _thin(_candidates(...)) on a compacted 8000-doc,
# 4-bucket store (5-16 row groups per doc_id-sorted file, one pending
# delta), random live keys, local[4], median s:
#
#   keys        10     100    200    300    1024   10 000
#   literal IN  0.27   0.36   0.40   0.49   1.15   10.4
#   key frame   0.39   0.37   0.32   0.26   0.29    0.52
#
# Spark pushes an IN of more than 10 values into parquet as one
# min/max range, so past 10 keys it skips no more row groups than the
# frame, and its cost is the literals.  The crossover is 100-200 keys;
# the bound sits above the 200-key commit of a 200-doc upsert.
_IN_KEYS = 256

# (count, sum) columns of the thin stats a commit folds into lineage
_COUNTS = ("docs", "tokens", "raw_bytes", "comp_bytes")


@functools.lru_cache(maxsize=None)
def _row_schema(partition_fields: tuple):
    """``STORED_SCHEMA`` as a Spark schema, then each ``(name, DDL
    type)`` of ``partition_fields``.  Built once per field tuple: each
    DDL parse is a JVM round trip, and every read plan needs one."""
    sch = from_arrow_schema(STORED_SCHEMA)
    for name, t in partition_fields:
        sch = sch.add(StructField(name, _parse_datatype_string(t)))
    return sch


@dataclass
class PipelineResult:
    snapshot_id: str
    buckets_done: int
    buckets_skipped: int
    docs: int
    tokens: int
    raw_bytes: int
    comp_bytes: int

    @property
    def ratio(self) -> float:
        return self.raw_bytes / max(self.comp_bytes, 1)


class CompressionPipeline:
    def __init__(self, spark: SparkSession, output_dir: str,
                 num_buckets: int = 64, wave_buckets: int = 16,
                 sample_fraction: float | None = 0.1,
                 allowed=selector.CODEC_ORDER,
                 bloom_ndv: int | None = 100_000,
                 delta_compact_threshold: int | None = 12):
        self.spark = spark
        self.output_dir = output_dir
        self.data_dir = _join(output_dir, "encoded")
        self.delta_dir = _join(output_dir, "delta")
        self.lineage_dir = _join(output_dir, "lineage")
        self.params_dir = _join(output_dir, "params")
        # ALL driver-side metadata I/O goes through the Hadoop
        # FileSystem owning output_dir — file:, hdfs:, s3a:, ... alike
        self.fs = HadoopFS(spark, output_dir)
        self.num_buckets = num_buckets
        self.wave_buckets = wave_buckets
        self.sample_fraction = sample_fraction
        self.allowed = allowed
        # Parquet bloom filter on the (FSST-encoded) doc_id column of
        # every BASE data file: fetch()'s pushed IN literal prunes row
        # groups by doc_id min/max only where the clustered sort helps;
        # ids that interleave across the sort order still pass min/max
        # and the bloom filter skips those groups too.  expected_ndv
        # sizes the filter (~1.2 bytes/key at the parquet default fpp);
        # set it near the per-bucket document count in production,
        # None disables.  Delta files skip it (tiny by contract).
        self.bloom_ndv = bloom_ndv
        # Delta-pressure backstop for BATCH mutation callers (streaming
        # has its own compact_every cadence): once a bucket accumulates
        # this many delta_seq directories, the delta append/delete that
        # crossed the line folds that bucket back into its base before
        # returning — read-side resolution cost stays bounded no matter
        # how many small appends a long-lived snapshot receives.  None
        # disables (e.g. to preserve full time-travel history, which
        # compaction collapses).
        self.delta_compact_threshold = delta_compact_threshold

    def _base_writer(self, df: DataFrame):
        """Writer for BASE data files, with the doc_id bloom filter
        options applied (see ``bloom_ndv``)."""
        w = df.write
        if self.bloom_ndv:
            w = (w.option("parquet.bloom.filter.enabled#doc_id", "true")
                 .option("parquet.bloom.filter.expected.ndv#doc_id",
                         str(int(self.bloom_ndv))))
        return w

    def _write_base(self, rows: DataFrame, snapshot_id: str,
                    seq: int) -> None:
        """Write ``rows`` (stored columns and ``bucket``) through
        :meth:`_base_writer` into fresh ``base_seq=seq`` dirs, in append
        mode: no base dir is ever overwritten.  The sort is the write's
        partition columns plus doc_id, the order the write requires, so
        Spark adds no sort of its own and each file keeps doc_id-sorted
        row groups for fetch()'s pushed IN filter to skip by min/max."""
        (self._base_writer(rows.select(*STORED_SCHEMA.names, "bucket")
                           .withColumn("base_seq", F.lit(seq).cast("long"))
                           .sortWithinPartitions("bucket", "base_seq",
                                                 "doc_id"))
         .mode("append").partitionBy("bucket", "base_seq")
         .parquet(_join(self.data_dir, f"snapshot_id={snapshot_id}")))

    # -- lineage -----------------------------------------------------------

    def _heal_lineage(self) -> None:
        """Finish a compact_lineage swap that crashed between its two
        renames: in that window the lineage dir is MISSING while
        encoded/ + delta/ files remain, so without recovery every
        committed bucket would be forgotten — run() would re-encode
        buckets whose live delta files then supersede the fresh base
        rows at read time.  The fully-written ``.compact`` dir (counted
        back before the swap began) is the newest complete state; a
        lone ``.old`` dir means the crash hit before the first rename
        finished and the pre-compaction state is authoritative."""
        if self.fs.exists(self.lineage_dir):
            return
        tmp = self.lineage_dir + ".compact"
        old = self.lineage_dir + ".old"
        if self.fs.exists(tmp):
            self.fs.rename(tmp, self.lineage_dir)
            if self.fs.exists(old):
                self.fs.delete(old, recursive=True)
        elif self.fs.exists(old):
            self.fs.rename(old, self.lineage_dir)

    def _lineage_records(self) -> list[dict]:
        """THE lineage reader: every row of every lineage parquet file,
        read with pyarrow from bytes moved through ``self.fs``, oldest
        commit first (commit_seq, then committed_at) so a later row
        overwrites an earlier one when callers fold to latest-wins.
        The table is tiny metadata (<= one row per bucket per commit),
        and reading it driver-side costs milliseconds where a Spark job
        cost 0.2-0.9 s."""
        self._heal_lineage()
        parts = [
            pq.read_table(pa.BufferReader(self.fs.read_bytes(
                _join(self.lineage_dir, name))))
            .select(LINEAGE_SCHEMA.names).cast(LINEAGE_SCHEMA)
            for name in sorted(self.fs.listdir(self.lineage_dir))
            if name.endswith(".parquet") and not name.startswith((".", "_"))]
        if not parts:
            return []
        recs = pa.concat_tables(parts).to_pylist()
        recs.sort(key=lambda r: (r["commit_seq"], r["committed_at"]))
        return recs

    def _write_lineage(self, path: str, recs: list[dict]) -> None:
        """THE lineage writer: one parquet file of ``recs``."""
        self._write_parquet(path, pa.Table.from_pylist(
            recs, schema=LINEAGE_SCHEMA))

    def _write_parquet(self, path: str, table) -> None:
        """One pyarrow table as one parquet file at ``path``, written
        through ``self.fs`` (hidden tmp file, then rename)."""
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf, compression="snappy")
        self.fs.write_bytes_atomic(path, buf.getvalue().to_pybytes())

    def _committed(self, snapshot_id: str, recs=None) -> list[dict]:
        """The snapshot's committed rows of ``recs``, a verb's one
        :meth:`_lineage_records` read (read here when not given)."""
        recs = self._lineage_records() if recs is None else recs
        return [r for r in recs if r["snapshot_id"] == snapshot_id
                and r["status"] == "committed"]

    def _lineage_df(self, recs: list[dict]) -> DataFrame:
        # from an arrow table, the rows go straight to the JVM; a list
        # of tuples would be unpickled by Python workers in a Spark job
        return self.spark.createDataFrame(
            pa.Table.from_pylist(recs, schema=LINEAGE_SCHEMA))

    def lineage(self) -> DataFrame:
        """Every lineage row, as a DataFrame view."""
        return self._lineage_df(self._lineage_records())

    def _next_commit_seq(self, recs=None) -> int:
        """Monotonic per-pipeline commit sequence number: the
        committed_at float ties when two commits of the same bucket
        land within one clock reading (rapid streaming upserts), and a
        tie would let latest_lineage surface a superseded checksum.
        Derived from stored state (max over the tiny lineage table,
        ``recs`` when the verb has read it) so it survives across
        pipeline object instances."""
        recs = self._lineage_records() if recs is None else recs
        return (recs[-1]["commit_seq"] if recs else 0) + 1

    def committed_buckets(self, snapshot_id: str) -> set[int]:
        return {r["bucket"] for r in self._committed(snapshot_id)}

    def _mutation_lineage(self, snapshot_id: str, verb: str) -> list[dict]:
        """The one lineage read of ``verb`` (append, delete), checked to
        commit no row for a bucket a resumed run() would then SKIP,
        silently dropping that bucket's original corpus docs."""
        recs = self._lineage_records()
        n = len({r["bucket"] for r in self._committed(snapshot_id, recs)})
        if n < self.num_buckets:
            raise ValueError(
                f"{verb}: snapshot {snapshot_id!r} has {n}/"
                f"{self.num_buckets} buckets committed — finish run() "
                f"before {verb}()")
        return recs

    def latest_lineage(self, snapshot_id: str) -> DataFrame:
        """One committed row per bucket, LATEST commit wins — appends
        (:meth:`append`) re-commit a bucket with fresh totals and a
        fresh checksum, so consumers must read the newest row, never a
        superseded one.  A DataFrame view of :meth:`_latest_lineage_map`."""
        return self._lineage_df(
            list(self._latest_lineage_map(snapshot_id).values()))

    def _latest_lineage_map(self, snapshot_id: str, buckets=None,
                            recs=None) -> dict[int, dict]:
        """{bucket: latest committed row as a plain dict}, commit_seq
        the strict tiebreaker (committed_at floats can tie under rapid
        streaming upserts); from ``recs`` when given."""
        keep = None if buckets is None else {int(b) for b in buckets}
        return {r["bucket"]: r for r in self._committed(snapshot_id, recs)
                if keep is None or r["bucket"] in keep}

    def _files(self, snapshot_id: str, recs=None) -> dict[int, dict]:
        """THE record of live files: ``{bucket: files}`` of the
        snapshot's latest lineage rows (of ``recs`` when given), naming
        the bucket's base dir (``base_seq``, None for no base) and delta
        dirs (``delta_seqs``): the dirs every read picks."""
        return {b: r["files"] for b, r in
                self._latest_lineage_map(snapshot_id, recs=recs).items()}

    def _parts(self, root: str) -> tuple:
        """The partition columns of the tree at ``root``, its seq last."""
        return BASE_PARTS if root == self.data_dir else DELTA_PARTS

    def _named(self, files: dict, root: str) -> dict[int, list[int]]:
        """``{bucket: seqs}`` of the dirs that ``files`` (see
        :meth:`_files`) names in the tree at ``root`` (``base_seq`` or
        ``delta_seq`` dirs); buckets naming none are left out."""
        if root == self.data_dir:
            return {b: [f["base_seq"]] for b, f in files.items()
                    if f["base_seq"] is not None}
        return {b: list(f["delta_seqs"]) for b, f in files.items()
                if f["delta_seqs"]}

    # -- params ------------------------------------------------------------

    def load_or_learn_params(self, toks: DataFrame,
                             snapshot_id: str) -> IbpParams:
        """Codec parameters are part of the snapshot's lineage: learned
        once (on a sample), persisted, and reloaded on resume so every
        wave encodes with identical params."""
        path = _join(self.params_dir, f"{snapshot_id}.json")
        if self.fs.exists(path):
            return IbpParams.from_dict(json.loads(self.fs.read_text(path)))
        params = learn_params(toks, sample_fraction=self.sample_fraction)
        self.fs.write_text_atomic(path, json.dumps(params.to_dict()))
        return params

    def _fsst_path(self, snapshot_id: str) -> str:
        return _join(self.params_dir, f"fsst_{snapshot_id}.json")

    def load_or_learn_fsst(self, toks: DataFrame, snapshot_id: str):
        """PER-SNAPSHOT FSST symbol table (learned on a driver-side
        sample of the doc_id/source columns, persisted as hex with a
        ``table_id``): each new snapshot fits its own string
        distribution instead of inheriting whatever corpus ran first —
        a later snapshot with different doc_id shapes no longer
        compresses worse forever.  Old snapshots keep decoding with
        the table they were written under, so evolution never breaks
        an existing read."""
        path = self._fsst_path(snapshot_id)
        if self.fs.exists(path):
            return self._fsst_table(snapshot_id)
        table = fstr.learn_table_df(toks, ("doc_id", "source"))
        self.fs.write_text_atomic(path, json.dumps(
            {"hex": fstr.table_to_hex(table),
             "symbols": int(table.size),
             "table_id": snapshot_id}))
        return table

    # -- staging -------------------------------------------------------------

    def _salted(self, toks: DataFrame) -> DataFrame:
        """``toks`` plus each document's ``bucket`` salt,
        ``pmod(xxhash64(doc_id), num_buckets)``."""
        return toks.withColumn("bucket", F.pmod(
            F.xxhash64("doc_id"), F.lit(self.num_buckets)).cast("int"))

    def stage_input(self, toks: DataFrame, snapshot_id: str) -> str | None:
        """The salting pass of a MULTI-wave run: the input is scanned
        ONCE, shuffled on the bucket salt, and written partitioned by
        bucket.  Every wave then reads only its own bucket directories
        (partition pruning) — without this, each wave would rescan the
        whole 100 TB input because ``bucket`` is computed, not a
        prunable column.  Idempotent per snapshot (_SUCCESS marker);
        returns the staging dir.

        A single-wave pipeline (``wave_buckets >= num_buckets``) has no
        later wave to prune for: it stages nothing and returns None,
        and :meth:`run` encodes straight from the salted input."""
        if self.wave_buckets >= self.num_buckets:
            return None
        staging = _join(self.output_dir, "staging", snapshot_id)
        if self.fs.exists(_join(staging, "_SUCCESS")):
            return staging
        (self._salted(toks).repartition(self.num_buckets, "bucket")
         .write.mode("overwrite").partitionBy("bucket").parquet(staging))
        return staging

    def _load_params(self, snapshot_id: str) -> IbpParams:
        """The snapshot's PERSISTED codec params — read-side twin of
        load_or_learn_params for operations (fetch) that must never
        learn fresh params."""
        path = _join(self.params_dir, f"{snapshot_id}.json")
        if not self.fs.exists(path):
            raise ValueError(
                f"no persisted params for snapshot {snapshot_id!r} "
                f"at {path} — run() the snapshot first")
        return IbpParams.from_dict(json.loads(self.fs.read_text(path)))

    def _fsst_table(self, snapshot_id: str):
        """The snapshot's PERSISTED FSST table — the one table reader;
        every stored doc_id/source column is encoded with it."""
        path = self._fsst_path(snapshot_id)
        if not self.fs.exists(path):
            raise ValueError(
                f"no persisted FSST table for snapshot {snapshot_id!r} "
                f"at {path} — run() the snapshot first")
        return fstr.table_from_hex(json.loads(self.fs.read_text(path))["hex"])

    # -- merge-on-read deltas ------------------------------------------------
    #
    # Small appends write per-bucket DELTA files instead of rewriting
    # the bucket (an O(bucket) cost class that made a 20-doc upsert pay
    # ~25% of a from-scratch encode).  Layout:
    #   <out>/delta/snapshot_id=S/bucket=B/delta_seq=N/part-*.parquet
    # delta_seq is the pipeline's monotonic commit sequence, so
    # latest-wins ordering is exact.  The full read resolves
    #   current = base ANTI-JOIN delta-doc_ids  UNION  latest-delta-rows
    # where the anti-join key set is broadcast — deltas are small by
    # contract (that is what makes them deltas); once they are not,
    # :meth:`compact` folds them into the base and the read plan
    # returns to a pure scan.  A key-restricted verb (fetch, delete,
    # every delta commit) instead reads the keys' CANDIDATES, base rows
    # as delta_seq 0 unioned with delta rows, and resolves latest-wins
    # over them: in one window (fetch) or on the driver over a thin
    # collect (delete, the commit), so no anti-join is planned.  Every
    # read takes its dirs from the file set of the verb's one lineage
    # read (:meth:`_files`), never from a listing.

    def _snapshot_max_seq(self, snapshot_id: str, recs=None) -> int:
        """Max commit_seq over THIS snapshot's committed lineage rows
        (of ``recs`` when given): a read ``as_of_seq`` this value sees
        the snapshot's current state."""
        recs = self._committed(snapshot_id, recs)
        return recs[-1]["commit_seq"] if recs else 0

    def _gc(self, snapshot_id: str, files: dict, root: str,
            dirs=None) -> None:
        """THE garbage step: delete the snapshot's dirs in the tree at
        ``root`` that ``files`` (see :meth:`_files`) does not name:
        those of ``dirs`` (``{bucket: seqs}``, None seqs meaning the
        whole bucket dir), or of a listing of the tree without it.  A
        bucket dir in which ``files`` names nothing goes whole.

        A verb runs it over the tree it writes BEFORE writing, so a
        retry never writes next to a crashed attempt's files at the
        same seq; :meth:`compact` runs it after its commit on the dirs
        the commit superseded.  No read sees garbage in between."""
        named = self._named(files, root)
        col = self._parts(root)[-1][0]
        snap = _join(root, f"snapshot_id={snapshot_id}")
        if dirs is None:
            dirs = {int(n.split("=", 1)[1]): [
                int(c.split("=", 1)[1])
                for c in self.fs.listdir(_join(snap, n))
                if c.startswith(col + "=")]
                for n in self.fs.listdir(snap) if n.startswith("bucket=")}
        for b, seqs in sorted(dirs.items()):
            bdir = _join(snap, f"bucket={b}")
            if b not in named:
                if seqs is None or seqs:
                    self.fs.delete(bdir, recursive=True)
                continue
            for s in seqs or ():
                if s not in named[b]:
                    self.fs.delete(_join(bdir, f"{col}={s}"), recursive=True)

    def _delta_buckets(self, snapshot_id: str, buckets=None,
                       recs=None) -> list[int]:
        """Buckets of a snapshot (of ``buckets``, if given) whose file
        set names delta dirs, from ``recs`` (read when not given)."""
        return sorted(b for b in self._named(self._files(snapshot_id, recs),
                                             self.delta_dir)
                      if buckets is None or b in buckets)

    def _read_dirs(self, root: str, paths: list[str],
                   partition_fields) -> DataFrame:
        """The parquet files under ``paths`` (partition dirs below
        ``root``), read with the store's one row schema:
        ``STORED_SCHEMA``, then each ``(name, DDL type)`` of
        ``partition_fields``, the column order of Spark's discovery.
        No dir is walked and no footer opened (:meth:`verify_checksums`
        checks the footers).  Zero paths read as zero rows of it."""
        reader = self.spark.read.schema(_row_schema(partition_fields))
        if paths:  # basePath must exist; zero paths need none
            reader = reader.option("basePath", root)
        return reader.parquet(*paths)

    @staticmethod
    def _latest_delta(rows: DataFrame) -> DataFrame:
        """The live rows of ``rows`` (which carry ``delta_seq``), in
        ``_VIEW`` column order: one row per (snapshot_id, doc_id), the
        highest delta_seq wins, and a winning TOMBSTONE (codec
        'tombstone', the O(delta) delete marker) deletes the document.
        The window runs over delta rows and, over :meth:`_candidates`,
        the keys' base rows too (delta_seq 0 ranks below every delta)."""
        from pyspark.sql import Window

        # bucket is a function of doc_id, so it splits no group; as a
        # key it lets a by-bucket shuffle serve the window
        w = (Window.partitionBy("snapshot_id", "bucket", "doc_id")
             .orderBy(F.desc("delta_seq")))
        return (rows.withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") == 1)
                        & (F.col("codec") != TOMBSTONE_CODEC))
                .select(*_VIEW))

    @staticmethod
    def _latest_rows(rows: list) -> list:
        """Driver twin of :meth:`_latest_delta` over collected thin rows
        (:meth:`_thin`): per doc_id the row with the highest delta_seq;
        a tombstone winner means the document is gone.  Per bucket,
        in the order the full read's plan emits them: base winners in
        ``rows`` order (a scan lists base rows first, in file order),
        then delta winners by doc_id (the window's sort), so the marker
        files a delete writes from them do not depend on the resolve
        path."""
        win = {}
        for r in rows:
            k = bytes(r["doc_id"])
            if k not in win or r["delta_seq"] > win[k]["delta_seq"]:
                win[k] = r
        return sorted((r for r in win.values()
                       if r["codec"] != TOMBSTONE_CODEC),
                      key=lambda r: (r["bucket"], r["delta_seq"] > 0,
                                     bytes(r["doc_id"]) if r["delta_seq"]
                                     else b""))

    @staticmethod
    def _thin(rows: DataFrame) -> list:
        """The thin columns of ``rows`` (which carry ``delta_seq``),
        collected: bucket, doc_id, delta_seq, codec and one stats row
        per stored row under the fold's names (docs 1, tokens,
        raw_bytes, comp_bytes, and row_xxh as xxh), so
        :meth:`_commit_delta_wave` folds them as they are.  The payload
        stays unread."""
        return rows.select(
            "bucket", "doc_id", "delta_seq", "codec", F.lit(1).alias("docs"),
            F.col("n_tok").alias("tokens"), "raw_bytes", "comp_bytes",
            F.col("row_xxh").alias("xxh")).collect()

    def _read_live(self, root: str, snapshot_id: str, named: dict,
                   whole: bool) -> DataFrame:
        """The rows of the ``{bucket: seqs}`` dirs ``named`` in the tree
        at ``root`` (:meth:`_named`), read by :meth:`_read_dirs` from
        ONE path, the snapshot dir, when ``whole``, else from the named
        buckets' dirs.  A partition filter on (bucket, seq) picks the
        named dirs, so Spark prunes every other dir (superseded or
        garbage) before it reads a byte; buckets sharing one seq list
        share one term."""
        parts = self._parts(root)
        snap = _join(root, f"snapshot_id={snapshot_id}")
        paths = ([] if not named else [snap] if whole else
                 [_join(snap, f"bucket={b}") for b in sorted(named)])
        df = self._read_dirs(root, paths, parts)
        if not named:
            return df
        by_seqs: dict[tuple, list] = {}
        for b, seqs in sorted(named.items()):
            by_seqs.setdefault(tuple(seqs), []).append(str(b))
        # one SQL string: each Column call would be a JVM round trip
        return df.filter(" OR ".join(
            f"(bucket IN ({', '.join(bs)}) AND {parts[-1][0]} IN "
            f"({', '.join(map(str, seqs))}))" for seqs, bs in by_seqs.items()))

    def _sides(self, snapshot_id: str, buckets=None,
               as_of_seq: int | None = None, recs=None):
        """``(base, deltas)``: the snapshot's live base rows and delta
        rows (:meth:`_read_live`), the dirs that the file set of
        ``recs`` (read when not given) names.  ``buckets`` limits both
        to those bucket dirs; without it the base is ONE path, the
        ``snapshot_id=S`` dir, not one path per bucket.  ``deltas`` is
        None when no delta dir is named.

        ``as_of_seq`` is TIME TRAVEL: only delta rows with ``delta_seq
        <= as_of_seq`` participate (a partition column, so the filter
        prunes dirs) — an upsert or tombstone committed after that
        sequence is invisible and the superseded/deleted row
        resurfaces.  History reaches back to the last :meth:`compact`
        of the affected buckets: compaction folds deltas into the base
        and deletes the delta dirs, garbage-collecting everything
        older."""
        files = self._files(snapshot_id, recs)
        if buckets is not None:
            files = {b: files[b] for b in buckets if b in files}
        base = self._read_live(self.data_dir, snapshot_id,
                               self._named(files, self.data_dir),
                               buckets is None).drop("base_seq")
        named = self._named(files, self.delta_dir)
        if not named:
            return base, None
        deltas = self._read_live(self.delta_dir, snapshot_id, named, False)
        if as_of_seq is not None:
            deltas = deltas.filter(F.col("delta_seq") <= int(as_of_seq))
        return base, deltas

    def _resolved(self, snapshot_id: str, as_of_seq: int | None = None,
                  recs=None) -> DataFrame:
        """The snapshot's CURRENT logical rows, the full read: base
        minus doc_ids superseded by deltas, plus the latest delta rows
        (:meth:`_latest_delta`, so a document whose latest delta is a
        tombstone is gone).  It never shuffles the big side (base):
        superseded rows fall to a broadcast anti-join on the small
        delta key set.  ``as_of_seq`` time-travels it and ``recs`` is
        the lineage read (see :meth:`_sides`).  Every shape ends in
        ``_VIEW`` column order, and a snapshot with nothing stored reads
        as zero rows of it.

        Key-restricted verbs read :meth:`_candidates` instead."""
        base, deltas = self._sides(snapshot_id, as_of_seq=as_of_seq,
                                   recs=recs)
        if deltas is None:
            return base
        # every delta row's doc_id shadows its base row, whichever
        # delta row wins: a winning tombstone still shadows
        kept = base.join(F.broadcast(deltas.select("snapshot_id", "doc_id")),
                         ["snapshot_id", "doc_id"], "left_anti")
        return (kept.unionByName(self._latest_delta(deltas))
                .select(*_VIEW))

    def _candidates(self, snapshot_id: str, keys, buckets,
                    as_of_seq: int | None = None, recs=None) -> DataFrame:
        """The key-restricted view, UNRESOLVED: the base rows of
        ``buckets`` (every bucket when None) as ``delta_seq`` 0, unioned
        with their delta rows (``as_of_seq`` and ``recs`` pass to
        :meth:`_sides`), each side filtered by ``keys`` and never joined
        against the other.  ``keys``, a list of stored (FSST-encoded)
        doc_ids, restricts both sides:

        - up to ``_IN_KEYS`` (256) keys are a literal ``IN``, pushed
          into the parquet scan, so doc_id-clustered row groups are
          skipped by min/max (and, up to 10 keys, the doc_id bloom
          filter);
        - more keys become an Arrow-built key frame, through a
          broadcast semi-join (``_IN_KEYS`` has the crossover);
        - ``None`` keeps every row (:meth:`compact`'s rewrite).

        Latest wins resolves the candidates, in Spark through
        :meth:`_latest_delta` or on the driver through
        :meth:`_latest_rows` over :meth:`_thin`.  A driver resolve of a
        key list collects at most keys × (1 + the keys' delta depth)
        rows, and ``delta_compact_threshold`` bounds the depth."""
        base, deltas = self._sides(snapshot_id, buckets, as_of_seq, recs)
        if keys is not None and len(keys) > _IN_KEYS:
            frame = F.broadcast(self.spark.createDataFrame(pa.table({
                "snapshot_id": [snapshot_id] * len(keys),
                "doc_id": pa.array(keys, pa.binary())})))

        def restrict(df):
            if keys is None:
                return df
            if len(keys) <= _IN_KEYS:
                return df.filter(F.col("doc_id").isin(keys))
            return df.join(frame, ["snapshot_id", "doc_id"], "left_semi")

        rows = restrict(base).withColumn("delta_seq", F.lit(0).cast("long"))
        return rows if deltas is None else rows.unionByName(restrict(deltas))

    # -- main --------------------------------------------------------------

    def run(self, toks: DataFrame, snapshot_id: str,
            max_waves: int | None = None) -> PipelineResult:
        """Build snapshot ``snapshot_id`` from ``toks``: learn (or
        reload) the persisted codec params and FSST table, then encode
        the buckets not yet committed, ``wave_buckets`` at a time.  A
        wave's lineage append is its commit point, so a rerun resumes
        at the first uncommitted bucket; ``max_waves`` stops early.

        Two paths feed the waves, decided by :meth:`stage_input`:

        - Single wave (``wave_buckets >= num_buckets``): ONE pass.  The
          salted input is filtered to the pending buckets, shuffled by
          ``repartition(num_buckets, "bucket")`` — the shuffle staging
          runs, with the same task count — and encoded in those
          ``num_buckets`` tasks straight into the store write.  Nothing
          is staged; a retry re-encodes from ``toks``.
        - Multi-wave: the salted input is staged once, and each wave
          reads only its own bucket dirs of the staged copy.

        Lineage is read once; wave ``i`` writes fresh ``base_seq`` dirs
        (:meth:`_write_base`) and commits them at that read's next seq
        plus ``i``.  Before the first wave, :meth:`_gc` drops the dirs
        of the buckets it is about to write, the files of a crashed
        attempt: no committed row names them."""
        nb = self.num_buckets
        params = self.load_or_learn_params(toks, snapshot_id)
        fsst_table = self.load_or_learn_fsst(toks, snapshot_id)
        staging = self.stage_input(toks, snapshot_id)
        src = (self._salted(toks) if staging is None
               else self.spark.read.parquet(staging))

        recs = self._lineage_records()
        files = self._files(snapshot_id, recs)
        seq = self._next_commit_seq(recs)
        pending = [b for b in range(nb) if b not in files]
        committed = []

        waves = [pending[i:i + self.wave_buckets]
                 for i in range(0, len(pending), self.wave_buckets)]
        if max_waves is not None:
            waves = waves[:max_waves]
        # no file of a pending bucket is committed: a dir of one is a
        # crashed attempt's garbage, dropped here without a listing
        self._gc(snapshot_id, files, self.data_dir,
                 dict.fromkeys(b for wave in waves for b in wave))
        buckets_run = sum(len(w) for w in waves)
        for wi, wave in enumerate(waves):
            t0 = time.perf_counter()
            # dir-pruned when staged
            part = src.filter(
                F.expr(f"bucket IN ({', '.join(map(str, wave))})"))
            if staging is None:
                part = part.repartition(nb, "bucket")
            self._write_base(self._stored_rows(part, params, fsst_table),
                             snapshot_id, seq + wi)
            committed += self._commit_wave(
                snapshot_id, wave, time.perf_counter() - t0, seq + wi)

        self._maybe_compact_lineage()
        return PipelineResult(snapshot_id, buckets_run, len(files), *(
            sum(int(r[k]) for r in committed) for k in _COUNTS))

    def _stored_rows(self, toks: DataFrame, params: IbpParams,
                     fsst_table) -> DataFrame:
        """The stored rows of a run() wave or an append() delta, in ONE
        Arrow stage chain: the auto-selected token encode, then FSST
        encode of the string columns against the snapshot's table.
        Then the persisted per-row payload hash, which lets delta
        commits recompute bucket checksums from THIN columns (no
        payload read)."""
        enc = stages.apply(
            toks,
            selector.encode_auto_stage(params, allowed=self.allowed,
                                       passthrough=("bucket",)),
            fstr.encode_stage(fsst_table, ("doc_id", "source")))
        return enc.withColumn("row_xxh", F.xxhash64("payload"))

    # every wave/delta/delete commit appends one small lineage parquet
    # file; past this many files the next run() folds the history to
    # latest rows (the stream path has its own compact_every cadence)
    LINEAGE_COMPACT_FILES = 256

    def _maybe_compact_lineage(self) -> None:
        """Batch-side lineage maintenance: a long-lived pipeline (many
        runs/appends/deletes) accumulates one parquet file per commit
        and every lineage read pays a growing listing.  Fold to latest
        rows once the file count crosses the threshold — crash-safe
        (the two-rename swap self-heals on read) and invisible to
        consumers, who only ever read the newest row per bucket."""
        try:
            n = sum(1 for f in self.fs.listdir(self.lineage_dir)
                    if f.endswith(".parquet"))
        except Exception:
            return
        if n > self.LINEAGE_COMPACT_FILES:
            self.compact_lineage()

    def _commit_wave(self, snapshot_id: str, wave, wall: float,
                     seq: int) -> list:
        """Wave commit point of run() and compact(), at ``seq``: the
        :meth:`_thin_stats` of the wave's ``base_seq=seq`` dirs just
        written (:meth:`_read_live` of the snapshot dir, which the write
        created, so no dir is probed), committed through the one fold,
        :meth:`_commit_delta_wave`, onto an EMPTY base: the buckets were
        rewritten, so no old stats carry over, and an empty bucket
        commits a zero row naming no base, so resume skips it.
        ``row_xxh`` is ``xxhash64(payload)`` by construction
        (:meth:`_stored_rows`), so the payload stays unread;
        :meth:`verify_checksums` remains the deep check that rehashes
        it.  Returns the fold's per-bucket dicts."""
        stats = self._thin_stats(self._read_live(
            self.data_dir, snapshot_id, dict.fromkeys(wave, [seq]), True),
            "bucket", "codec")
        return self._commit_delta_wave(snapshot_id, wave, [], stats, wall,
                                       seq, rebase=True)

    @staticmethod
    def _thin_stats(rows: DataFrame, *by: str) -> list:
        """THE thin-stats aggregation, collected: per ``by`` group the
        row count and sums of n_tok/raw_bytes/comp_bytes (``_COUNTS``)
        and the XOR-fold of the persisted ``row_xxh`` as ``xxh`` —
        sums of sums and XORs of XOR-folds compose exactly."""
        return rows.groupBy(*by).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").alias("tokens"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("comp_bytes").alias("comp_bytes"),
            F.expr("bit_xor(row_xxh)").alias("xxh")).collect()

    def _append_lineage_rows(self, rows: list) -> None:
        """One lineage commit = ONE new parquet file, written
        driver-side (no Spark job: a Spark write of these <=
        num_buckets rows cost one full scheduler + Python-worker round
        trip).  ``rows`` are tuples in LINEAGE_SCHEMA column order."""
        self._write_lineage(
            _join(self.lineage_dir, f"part-{uuid.uuid4().hex}.parquet"),
            [dict(zip(LINEAGE_SCHEMA.names, r)) for r in rows])

    # -- incremental ingest --------------------------------------------------

    def append(self, toks_delta: DataFrame, snapshot_id: str,
               order_col: str | None = None) -> PipelineResult:
        """Incremental UPSERT into a COMMITTED snapshot, O(delta): the
        delta's documents salt into their buckets and land as
        per-bucket DELTA files (merge-on-read, see the delta section
        above), and existing documents whose doc_id appears in the
        delta are superseded at read time (latest wins).  Codec params
        and the FSST table are the snapshot's persisted ones, so every
        appended document is encoded exactly as the original run would
        have; re-running the same delta converges to identical resolved
        rows and checksums.

        The delta is WRITTEN FIRST: dedupe it on doc_id, drop delta
        garbage (:meth:`_gc`), take the commit ``seq``, encode and
        write it into fresh ``delta_seq=seq`` dirs in one Python eval.
        :meth:`_commit_written_delta` then derives the
        affected buckets and the added and replaced stats from the
        written files in two thin collects.  No existing row is re-read
        in bulk or rewritten: the lineage commit supersedes each
        affected bucket's row with stats updated INCREMENTALLY —
        ``new_xxh = old_xxh ^ xor(replaced row hashes) ^ xor(added row
        hashes)`` — from thin columns (doc_id, codec, counts, row_xxh),
        so a 20-doc upsert stays out of the O(bucket) cost class.  A
        crash between the write and the lineage commit leaves delta
        dirs that no file set names: no read sees them, and the retry's
        garbage step deletes them before it writes at the same seq.

        Delta pressure is self-bounding: once an affected bucket holds
        ``delta_compact_threshold`` delta_seq dirs, this call folds it
        into the base before returning (see :meth:`_finish_delta`).  A
        bulk delta comparable to the bucket size is best followed by
        :meth:`compact`."""
        # Dedupe the delta ITSELF on doc_id: latest-wins resolution
        # only orders rows across delta_seq dirs, so a doc_id appearing
        # twice within one delta (two inbox files carrying the same
        # revised doc in a single availableNow micro-batch) would be
        # written twice, corrupting counts.  ``order_col`` names a
        # column whose largest value wins (e.g. a revision timestamp);
        # without one the winner is picked by a deterministic content
        # hash so that re-running the same delta converges to identical
        # bytes.
        from pyspark.sql import Window
        tie = (F.col(order_col) if order_col is not None
               else F.xxhash64("tokens", "n_tok", "source"))
        w = Window.partitionBy("doc_id").orderBy(F.desc(tie))
        toks_delta = (toks_delta
                      .withColumn("_rn", F.row_number().over(w))
                      .filter(F.col("_rn") == 1).drop("_rn"))
        if order_col is not None:  # ordering column is not payload
            toks_delta = toks_delta.drop(order_col)
        recs = self._mutation_lineage(snapshot_id, "append")
        params = self.load_or_learn_params(toks_delta, snapshot_id)
        fsst_table = self._fsst_table(snapshot_id)
        self._gc(snapshot_id, self._files(snapshot_id, recs), self.delta_dir)
        t0 = time.perf_counter()
        seq = self._next_commit_seq(recs)
        (self._stored_rows(self._salted(toks_delta), params, fsst_table)
         .withColumn("delta_seq", F.lit(seq).cast("long"))
         .write.mode("append").partitionBy("bucket", "delta_seq")
         .parquet(_join(self.delta_dir, f"snapshot_id={snapshot_id}")))
        return self._commit_written_delta(snapshot_id, seq, t0, recs)

    def _commit_written_delta(self, snapshot_id: str, seq: int, t0: float,
                              recs: list[dict]) -> PipelineResult:
        """Commit the upsert delta just written at ``delta_seq=seq``,
        with every input derived from what landed.  One :meth:`_thin`
        collect of the ``delta_seq=seq`` dirs (under the snapshot's
        delta dir, which the write created) gives ``added``, the keys
        and the affected buckets; a second one, of the keys'
        :meth:`_candidates` in the file set of ``recs``, the verb's
        pre-write lineage read, resolved on the driver
        (:meth:`_latest_rows`), gives ``replaced``.  Neither plans a
        window, broadcast or exchange.  The written doc_ids are
        FSST-encoded with the snapshot's table already, and the encoding
        is deterministic, so byte equality IS id equality and no key
        encoding is needed.

        Both collects are O(delta): the written rows, and at most
        their keys × (1 + delta depth) candidates."""
        written = self._thin(self._read_live(
            self.delta_dir, snapshot_id,
            dict.fromkeys(range(self.num_buckets), [seq]), True))
        if not written:  # empty delta: a no-op
            return PipelineResult(snapshot_id, 0, self.num_buckets,
                                  0, 0, 0, 0)
        replaced = self._latest_rows(self._thin(self._candidates(
            snapshot_id, [bytes(r["doc_id"]) for r in written],
            sorted({int(r["bucket"]) for r in written}), recs=recs)))
        return self._finish_delta(snapshot_id, replaced, written, t0, seq,
                                  recs)

    def _finish_delta(self, snapshot_id: str, repl, added, t0: float,
                      seq: int, recs: list[dict],
                      sign: int = 1) -> PipelineResult:
        """Commit a written delta wave (upsert or tombstones) at ``seq``
        onto the latest rows of ``recs``, the verb's lineage read, in
        the buckets of ``repl`` and ``added``, and report the committed
        amounts; a delete (``sign=-1``) reports removed amounts as
        positives.

        Then fold every committed bucket whose file set now names
        ``delta_compact_threshold`` delta dirs back into the base
        (:meth:`compact`, which reads lineage again): N small mutations
        cost O(delta) each plus ONE amortized O(bucket) rewrite every
        threshold-th mutation, and a read resolves at most ``threshold``
        delta dirs per bucket, at any corpus size."""
        wave = sorted({int(r["bucket"]) for rows in (repl, added)
                       for r in rows})
        rows = self._commit_delta_wave(snapshot_id, wave, repl, added,
                                       time.perf_counter() - t0, seq,
                                       recs=recs)
        totals = [sign * sum(int(r[k]) for r in rows) for k in _COUNTS]
        thr = self.delta_compact_threshold
        pressured = [r["bucket"] for r in rows
                     if thr and len(r["files"]["delta_seqs"]) >= thr]
        if pressured:
            self.compact(snapshot_id, buckets=pressured)
        return PipelineResult(snapshot_id, len(wave),
                              self.num_buckets - len(wave), *totals)

    def _commit_delta_wave(self, snapshot_id: str, wave, repl, added,
                           wall: float, seq: int, recs=None,
                           rebase: bool = False) -> list:
        """THE commit fold, the only code that turns (bucket, codec)
        stats rows (:meth:`_thin_stats`, or :meth:`_thin`'s one row per
        stored row) into lineage rows: per bucket
        of ``wave``, the latest lineage row (of ``recs``, the verb's
        lineage read) minus ``repl`` plus
        ``added`` (counts subtract/add, the XOR-fold composes exactly:
        x ^ x cancels a replaced row's hash); a bucket no row names
        keeps its lineage row.  ``seq`` is the SAME sequence number the
        files were written under, so each row's file set (``files``)
        names them: a delta commit adds ``seq`` to the bucket's delta
        dirs.  ``rebase`` folds onto an EMPTY base and commits every
        bucket of the wave, a zero row for one without stats (see
        :meth:`_commit_wave`), whose file set is the ``base_seq=seq``
        dir alone, or nothing for a bucket that wrote no row.  Returns
        the per-bucket ADDED-minus-REPLACED dicts with the bucket and its
        committed file set, so the caller's running totals stay
        meaningful."""
        def zero(**extra):
            return {**dict.fromkeys(_COUNTS, 0), **extra}

        old = ({} if rebase else
               self._latest_lineage_map(snapshot_id, wave, recs))
        agg = {b: zero(xxh=0, mix={}) for b in wave} if rebase else {}
        for rows, sign in ((repl, -1), (added, 1)):
            for r in rows:
                a = agg.setdefault(int(r["bucket"]), zero(xxh=0, mix={}))
                for k in _COUNTS:
                    a[k] += sign * int(r[k])
                a["xxh"] ^= int(r["xxh"] or 0)
                c = r["codec"]
                a["mix"][c] = a["mix"].get(c, 0) + sign * int(r["docs"])
        now = time.time()
        rows, out = [], []
        for b in wave:
            d = agg.get(b)
            if d is None:  # untouched by this delta
                continue
            o = old.get(b) or zero(codec_mix="{}", payload_xxh=0, files={
                "base_seq": None, "delta_seqs": []})
            files = ({"base_seq": seq if d["docs"] else None,
                      "delta_seqs": []} if rebase else
                     {**o["files"],
                      "delta_seqs": [*o["files"]["delta_seqs"], seq]})
            mix = json.loads(o["codec_mix"])
            for c, n in d["mix"].items():
                mix[c] = mix.get(c, 0) + n
            rows.append((
                snapshot_id, b, "committed",
                *(int(o[k]) + d[k] for k in _COUNTS),
                json.dumps({c: n for c, n in mix.items() if n > 0},
                           sort_keys=True),
                int(o["payload_xxh"]) ^ d["xxh"],
                wall / max(len(wave), 1), now, seq, files))
            out.append({**{k: d[k] for k in _COUNTS}, "bucket": b,
                        "files": files})
        if rows:
            self._append_lineage_rows(rows)
        return out

    def compact_lineage(self) -> int:
        """Fold the lineage's one-file-per-commit history into a single
        file of LATEST rows.  Every wave/delta commit appends one small
        parquet file, so a long-lived pipeline (streaming upserts
        especially) accumulates files and every lineage read pays a
        growing listing.  Readers only ever consume the newest row per
        (snapshot, bucket) — :meth:`latest_lineage` — so compaction
        keeps exactly those rows; ``commit_seq`` is preserved, so
        monotonicity continues across the compaction.  The swap is
        write-to-tmp-dir + two renames (the same non-atomic-rename
        window as every metadata write; run it as maintenance, not
        concurrently with commits).  Returns rows kept."""
        latest = {(r["snapshot_id"], r["bucket"]): r
                  for r in self._lineage_records()}
        if not latest:
            return 0
        tmp = self.lineage_dir + ".compact"
        old = self.lineage_dir + ".old"
        if self.fs.exists(tmp):
            self.fs.delete(tmp, recursive=True)
        self._write_lineage(
            _join(tmp, f"part-{uuid.uuid4().hex}.parquet"),
            list(latest.values()))
        if self.fs.exists(old):
            self.fs.delete(old, recursive=True)
        self.fs.rename(self.lineage_dir, old)
        self.fs.rename(tmp, self.lineage_dir)
        self.fs.delete(old, recursive=True)
        return len(latest)

    def compact(self, snapshot_id: str, buckets=None) -> PipelineResult:
        """Fold delta files back into the base: rewrite each affected
        bucket from its RESOLVED view (the one-time O(bucket) cost
        delta appends deferred) into a fresh ``base_seq`` dir, and
        commit it from a read-back of its thin stats — which also
        resets any accumulated incremental-stat drift to ground truth.
        This is the ONLY code that rewrites a base bucket.  One shuffle
        by bucket resolves each wave, so each bucket is written once,
        as one file, in the same job that rehashes ``row_xxh`` (a
        resolved row's hash is read back from a file and nullable; the
        hash's non-null type keeps the base at ``STORED_SCHEMA``).

        The wave's lineage commit is the switch: its file sets name the
        new base dir (none for a fully tombstoned bucket) and no delta
        dir; only then do the superseded dirs go (:meth:`_gc`).  A crash
        before the commit leaves the old file set live, one after it the
        new one, so no window loses a row; the retry, which finds no
        delta left to fold, drops what the crashed drop left.  Lineage is read once; wave
        ``i`` commits at that read's next seq plus ``i``."""
        recs = self._lineage_records()
        files = self._files(snapshot_id, recs)
        have = self._delta_buckets(snapshot_id, buckets, recs)
        nb = self.num_buckets
        if not have:
            # nothing to fold, but a crash in an earlier attempt's drop
            # of the superseded dirs (after its commit) left them behind
            for root in (self.data_dir, self.delta_dir):
                self._gc(snapshot_id, files, root)
            return PipelineResult(snapshot_id, 0, nb, 0, 0, 0, 0)
        self._gc(snapshot_id, files, self.data_dir)
        seq = self._next_commit_seq(recs)
        committed = []
        waves = [have[i:i + self.wave_buckets]
                 for i in range(0, len(have), self.wave_buckets)]
        for wi, wave in enumerate(waves):
            t0 = time.perf_counter()
            # base and delta rows hash on bucket in ONE shuffle and
            # resolve in that same window, so each bucket lands whole in
            # one task and is written as one file, as run() writes it
            self._write_base(self._latest_delta(self._candidates(
                snapshot_id, None, wave, recs=recs)
                .repartition(nb, "bucket"))
                .withColumn("row_xxh", F.xxhash64("payload")),
                snapshot_id, seq + wi)
            done = self._commit_wave(
                snapshot_id, wave, time.perf_counter() - t0, seq + wi)
            new = {r["bucket"]: r["files"] for r in done}
            old = {b: files[b] for b in wave}
            for root in (self.data_dir, self.delta_dir):
                self._gc(snapshot_id, new, root, self._named(old, root))
            committed += done
        return PipelineResult(snapshot_id, len(have), nb - len(have), *(
            sum(int(r[k]) for r in committed) for k in _COUNTS))

    def delete(self, ids: DataFrame, snapshot_id: str) -> PipelineResult:
        """O(delta) LOGICAL delete from a committed snapshot: one marker
        row per existing victim lands in the delta tree (codec
        ``tombstone``, winning latest-wins resolution), a superseding
        lineage commit subtracts the victims' stats from thin columns,
        and every read path (``read_encoded``, ``fetch``,
        ``verify_checksums``) sees the documents as gone — while the
        base bucket files stay byte-identical.

        ``ids`` is a DataFrame with a plain-string ``doc_id`` column.
        Its distinct non-null ids are collected as Arrow; a null matches
        no stored row, as under SQL equality.  The key lookup,
        :meth:`_locate` (fetch's), FSST-encodes them with the snapshot's
        table, exactly as upsert does, and reads their candidates; one
        :meth:`_thin` collect of them, with no exchange, is resolved on
        the driver by :meth:`_latest_rows`.  The markers and the lineage
        rows of the fold (:meth:`_commit_delta_wave`, the victims as
        replaced rows) ride the pyarrow metadata transport, and only
        the victims' buckets are committed.  The markers land in fresh
        ``delta_seq`` dirs, after the garbage step (:meth:`_gc`) has
        dropped any a crashed attempt left at that seq.  Deleting ids
        that don't exist is a no-op (no marker is written for them) —
        idempotent.
        The verb runs 2 Spark jobs, and 3 above ``_IN_KEYS`` ids (the
        key frame's broadcast).

        Driver cost is O(distinct ids): the ids, their buckets and keys,
        and at most ids × (1 + delta depth) thin rows.  Per 100 000 ids
        (local[4], 400-doc store): 1.2-1.3 s of driver CPU in a
        3.3-3.5 s delete, and ~110 MB of Python heap at peak.

        Physical erasure (right to erasure) is this call followed by
        :meth:`compact` of the snapshot: compaction rewrites the
        affected buckets from the resolved view (markers excluded),
        drops a bucket that was emptied, and deletes the delta files."""
        recs = self._mutation_lineage(snapshot_id, "delete")
        fsst_table = self._fsst_table(snapshot_id)
        col = (ids.select(F.col("doc_id").cast("string"))
               .toArrow().column(0).drop_null())
        id_list = sorted(set(col.to_pylist()))
        t0 = time.perf_counter()
        victims = self._latest_rows(self._thin(self._locate(
            snapshot_id, id_list, fsst_table, recs=recs)[0]))
        if not victims:
            # nothing matched: pure ghost delete, a no-op
            return PipelineResult(snapshot_id, 0, self.num_buckets,
                                  0, 0, 0, 0)
        self._gc(snapshot_id, self._files(snapshot_id, recs), self.delta_dir)
        seq = self._next_commit_seq(recs)
        self._write_tombstones(snapshot_id, seq, victims)
        return self._finish_delta(snapshot_id, victims, [], t0, seq, recs,
                                  sign=-1)

    def _write_tombstones(self, snapshot_id: str, seq: int,
                          victims) -> None:
        """Driver-side tombstone-marker write: the markers are <=
        len(ids) rows spread over <= num_buckets delta dirs, and a
        Spark dynamic-partition write paid ~1.0 s of commit-protocol
        fixed cost for them (measured, 100 rows / 32 dirs / local[32]).
        One pyarrow file per bucket dir through ``self.fs``, with
        ``STORED_SCHEMA``, the arrow schema of the Spark-written base and
        delta files."""
        by_bucket: dict[int, list] = {}
        for r in victims:
            by_bucket.setdefault(int(r["bucket"]), []).append(
                {"doc_id": bytes(r["doc_id"]), **_TOMBSTONE_MARKER})
        for b, markers in sorted(by_bucket.items()):
            self._write_parquet(
                _join(self.delta_dir, f"snapshot_id={snapshot_id}",
                      f"bucket={b}", f"delta_seq={seq}",
                      f"part-{uuid.uuid4().hex}.parquet"),
                pa.Table.from_pylist(markers, schema=STORED_SCHEMA))

    def cleanup_staging(self, snapshot_id: str) -> None:
        """Drop the staged (uncompressed) copy once every bucket of the
        snapshot is committed — it exists only to make the waves of a
        multi-wave run prunable."""
        done = self.committed_buckets(snapshot_id)
        if len(done) >= self.num_buckets:
            staging = _join(self.output_dir, "staging", snapshot_id)
            if self.fs.exists(staging):
                self.fs.delete(staging, recursive=True)

    def _locate(self, snapshot_id: str, ids: list, table,
                as_of_seq: int | None = None, recs=None):
        """THE key lookup of fetch and delete: ``(candidates,
        pending)``, the :meth:`_candidates` of ``ids``, a list of
        doc_id strings (``as_of_seq`` and ``recs`` pass through), and
        whether the file set names any delta dir of theirs.  Their
        buckets are computed driver-side, so only those bucket dirs are
        read, and the ids are FSST-encoded with the snapshot's
        ``table`` — the encoding is deterministic, so byte equality IS
        id equality.  Without a pending delta the candidates are base
        rows, one per doc_id, and need no resolve."""
        recs = self._lineage_records() if recs is None else recs
        buckets = sorted({bucket_of(i, self.num_buckets) for i in ids})
        rows = self._candidates(snapshot_id,
                                fstr.encode_id_literals(ids, table), buckets,
                                as_of_seq, recs)
        return rows, bool(self._delta_buckets(snapshot_id, buckets, recs))

    def _read(self, snapshot_id: str | None, ids=None, decode: bool = False,
              as_of_seq: int | None = None, recs=None) -> DataFrame:
        """THE store read, gather then decode like the reference's
        ``decompress_fetch`` (src/decompress.cu:56-98): the resolved
        view (see :meth:`_resolved`; ``as_of_seq`` time-travels it)
        minus ``row_xxh``, through ONE Arrow stage chain — FSST decode
        of doc_id/source with the snapshot's persisted table, then with
        ``decode`` the token decode with its persisted params.  Raises
        ValueError for a snapshot that was never run.

        ``ids``, a bounded list of doc_id strings, makes it a point
        lookup through the key lookup, :meth:`_locate`: only the ids'
        bucket dirs are read, the hits are found on their FSST-encoded
        keys, and one window (:meth:`_latest_delta`) resolves them when
        a delta is pending — it shuffles only the rows that match the
        keys, and no anti-join is planned.

        The dirs come from the file sets of ONE lineage read (``recs``,
        read here when not given).  ``snapshot_id=None`` unions the
        reads of every committed snapshot; ``ids`` and ``as_of_seq``
        need a snapshot."""
        recs = self._lineage_records() if recs is None else recs
        if snapshot_id is None:
            if ids is not None or as_of_seq is not None:
                raise ValueError("ids and as_of_seq need a snapshot_id")
            snaps = sorted({r["snapshot_id"] for r in recs
                            if r["status"] == "committed"})
            if not snaps:
                raise ValueError(f"no committed snapshot at {self.output_dir}")
            return functools.reduce(DataFrame.unionByName, [
                self._read(s, decode=decode, recs=recs) for s in snaps])
        table = self._fsst_table(snapshot_id)
        if ids is None:
            view = self._resolved(snapshot_id, as_of_seq, recs)
        else:
            rows, pending = self._locate(snapshot_id, [str(i) for i in ids],
                                         table, as_of_seq, recs)
            view = self._latest_delta(rows) if pending else rows.select(*_VIEW)
        chain = [fstr.decode_stage(table, ("doc_id", "source"))]
        if decode:
            chain.append(selector.decode_auto_stage(
                self._load_params(snapshot_id)))
        return stages.apply(view.drop("row_xxh"), *chain)

    def read_encoded(self, snapshot_id: str | None = None,
                     as_of_seq: int | None = None) -> DataFrame:
        """The RESOLVED encoded table — base rows superseded by
        merge-on-read deltas are replaced by the latest delta rows —
        with doc_id/source decoded, each snapshot with its own FSST
        table: :meth:`_read` without ``ids``.  One snapshot reads only
        its own ``snapshot_id=S`` dirs; ``snapshot_id=None`` unions
        every snapshot with committed lineage.  A committed snapshot
        whose every document was deleted reads as zero rows.

        ``as_of_seq`` is SNAPSHOT TIME TRAVEL: read the table as it
        stood when lineage commit_seq was ``as_of_seq`` — delta files
        (upserts AND tombstone deletes) with ``delta_seq > as_of_seq``
        are ignored, so superseded rows come back bit-identical.
        History is bounded by garbage collection: :meth:`compact`
        folds deltas into the base and deletes them, so as-of reads
        older than the last compaction of a bucket return the
        compacted (current-base) state for that bucket.  Requires a
        ``snapshot_id``."""
        return self._read(snapshot_id, as_of_seq=as_of_seq)

    def fetch(self, ids, snapshot_id: str, decode: bool = True,
              as_of_seq: int | None = None) -> DataFrame:
        """Store-level point fetch — "give me these documents", the
        durable twin of ``decompress_fetch(index_arr)`` (reference
        src/decompress.cu:56-98): :meth:`_read` of ``ids``, a bounded
        list of doc_id strings.  A 10-doc fetch from a 100 TB snapshot
        reads <= 10 bucket dirs, and only the hits are decoded.

        ``decode=False`` returns the matching ENCODED rows (payload,
        block_sizes, flags...) with string columns decoded — the
        store-side gather for consumers that ship blobs onward.
        ``as_of_seq`` time-travels the lookup (see
        :meth:`read_encoded`): upserts and tombstone deletes after
        that lineage commit are invisible."""
        return self._read(snapshot_id, ids, decode, as_of_seq)

    def verify_checksums(self, snapshot_id: str) -> int:
        """Integrity audit against lineage: recompute each committed
        bucket's payload XOR-fold from the written table and compare to
        the checksum recorded at commit time.  Returns the number of
        buckets that mismatch or vanished (0 == intact) — the read-side
        half of the north rule's per-partition metrics.  The audit runs
        over the RESOLVED view and recomputes hashes from the payload
        bytes themselves (a deep check — the persisted row_xxh column
        is deliberately not trusted here), so it also validates the
        incremental checksum math of delta commits.

        It is also the one schema check of the store: every read
        supplies ``STORED_SCHEMA`` (:meth:`_read_dirs`), so one footer
        per live dir — each base ``base_seq=N`` dir and each delta
        ``delta_seq=N`` dir that the file set names — is compared with
        it, and each bucket with a differing footer counts as one more
        bad bucket."""
        recs = self._lineage_records()
        got = self._resolved(snapshot_id, recs=recs).groupBy("bucket").agg(
            F.expr("bit_xor(xxhash64(payload))").alias("xxh"))
        # latest commit per bucket: appends supersede earlier rows
        lin = (self._lineage_df(list(self._latest_lineage_map(
            snapshot_id, recs=recs).values()))
               .filter(F.col("docs") > 0)
               .select("bucket", "payload_xxh"))
        bad = (got.join(lin, "bucket")
               .filter(F.col("xxh") != F.col("payload_xxh")).count())
        missing = lin.join(got, "bucket", "left_anti").count()
        files = self._files(snapshot_id, recs)
        drift = set()
        for root in (self.data_dir, self.delta_dir):
            col = self._parts(root)[-1][0]
            for b, seqs in self._named(files, root).items():
                for q in seqs:
                    d = _join(root, f"snapshot_id={snapshot_id}",
                              f"bucket={b}", f"{col}={q}")
                    f = next((n for n in sorted(self.fs.listdir(d))
                              if n.endswith(".parquet")
                              and not n.startswith((".", "_"))), None)
                    if f is not None and not self.fs.parquet_schema(
                            _join(d, f)).equals(STORED_SCHEMA):
                        drift.add(b)
        return bad + missing + len(drift)

    def verify_roundtrip(self, toks: DataFrame, params: IbpParams,
                         snapshot_id: str | None = None) -> int:
        """Full decode of the written table vs the source; returns the
        mismatch count PLUS the count of source documents missing from
        the table (0 == the corpus is complete and bit-identical).
        The missing half matters for a living snapshot: an inner join
        alone would silently pass a table that lost documents.

        The table is :meth:`_read` with ``decode``: each snapshot
        decodes with its OWN persisted params in one Python eval, so
        ``params`` only says how to compare.  Float snapshots compare
        on the IEEE integer bit view (see :func:`_float_bits_view`):
        value equality would wave through a 0.0 that decoded as -0.0
        or a NaN whose payload bits changed — the codec's contract is
        bit-identity, so the audit's is too."""
        dec = self._read(snapshot_id, decode=True)
        src = toks
        if params.value_kind.startswith("float"):
            isz = 8 if params.value_kind == "float64" else 4
            src = _float_bits_view(src, isz)
            dec = _float_bits_view(dec, isz)
        bad = (src.alias("a").join(dec.alias("b"), "doc_id")
               .filter((F.col("a.tokens") != F.col("b.tokens"))
                       | (F.col("a.n_tok") != F.col("b.n_tok")))
               .count())
        missing = src.join(dec.select("doc_id"), "doc_id",
                           "left_anti").count()
        return bad + missing
