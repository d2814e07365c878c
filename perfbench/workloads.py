"""The workloads, against the public API of ``plans.pipeline``.

Each is a closed loop with one client: the next operation is sent only
after the previous one returned and was checked against the driver-side
model of the store.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from functools import cached_property
from typing import NamedTuple

from .model import Ledger, StoreModel
from .procs import cpu_snapshot, cpu_used
from .tracing import Tracer

SNAP = "bench"
N_DOCS = 1000          # corpus documents (~1M tokens)
APPEND_UPDATES = 100   # per churn append: new versions of existing ids
APPEND_NEW = 100       # per churn append: ids never written before
DELETE_IDS = 100
FETCH_IDS = 10
MAX_APPENDS = 30       # bounds the pool of never-written ids
WARMUP_OPS = 2         # untimed bulk scans before the window
CHURN_ROUNDS = 3       # fewest churn rounds per run: 1 cold + 2 warm


class Cost(NamedTuple):
    """What one operation cost: wall seconds, and CPU seconds summed over
    the driver, the JVM and the Python workers."""
    wall: float
    cpu: float

    def __add__(self, other):
        return Cost(self.wall + other.wall, self.cpu + other.cpu)


class OpFailed(Exception):
    """An operation raised or returned a wrong result; the store no
    longer matches the model, so the workload stops."""


class Corpus:
    """The seeded inputs: the corpus parquet the store is built from
    (rows ``[0, N)``), rows past N for never-written ids, and a second
    seeded corpus whose same-index rows are new versions of ids < N."""

    def __init__(self, path: str, seed: int, n_docs: int = N_DOCS):
        from invariantbitpacking_spark.sources.tokens import (
            generate_tokens_rows, write_tokens_parquet)

        self.seed, self.n = seed, n_docs
        self._rows = generate_tokens_rows
        self.path = write_tokens_parquet(path, n_docs, seed)

    @cached_property
    def base(self):
        return self._rows(self.n, self.seed)

    @cached_property
    def fresh(self):
        """Rows never in the store: the same seeded stream, past N."""
        total = self.n + APPEND_NEW * MAX_APPENDS
        return self._rows(total, self.seed)[self.n:]

    @cached_property
    def updates(self):
        return self._rows(self.n, self.seed + 1_000_003)

    @cached_property
    def tokens(self) -> int:
        return sum(int(r[2]) for r in self.base)


class Bench:
    """One run: a Spark session, one store, its model, the ledger of
    operations and the spans around them."""

    def __init__(self, spark, work: str, corpus: Corpus, cores: int,
                 traced: bool, jvm_pid: int):
        from invariantbitpacking_spark.sources.tokens import TOKENS_SCHEMA

        self.spark, self.work, self.corpus, self.cores = (
            spark, work, corpus, cores)
        self.jvm_pid = jvm_pid
        self.tracer = Tracer(spark.sparkContext if traced else None)
        self.ledger = Ledger()
        self.model = StoreModel()
        self.rng = random.Random(corpus.seed)
        self.toks = spark.read.schema(TOKENS_SCHEMA).parquet(corpus.path)
        self.schema = TOKENS_SCHEMA
        self.pipe = None
        self.params = None
        self.result = None        # PipelineResult of the store build
        self.pristine = True      # no write since the build
        self.next_fresh = 0
        self.last_written: list[str] = []
        self._source_fold = None

    # -- operations -------------------------------------------------------

    def op(self, verb: str, fn, check=None):
        """Run one checked operation inside a span; returns
        ``(result, Cost)`` or raises :class:`OpFailed`."""
        box = {}

        def call():
            cpu0 = cpu_snapshot(self.jvm_pid)
            with self.tracer.span(verb, verb=verb) as sp:
                out = fn()
            box["cost"] = Cost(sp.dur, cpu_used(cpu0,
                                                cpu_snapshot(self.jvm_pid)))
            return out

        ok, result = self.ledger.run(verb, call, check)
        if not ok:
            raise OpFailed(self.ledger.errors[-1])
        return result, box["cost"]

    def check(self, name: str, fn) -> None:
        """A correctness audit that is not a timed verb."""
        with self.tracer.span(name):
            ok, _ = self.ledger.run(name, lambda: None, lambda _: fn())
        if not ok:
            raise OpFailed(self.ledger.errors[-1])

    def build(self) -> Cost:
        """``run()`` into a fresh store, split into spans around the
        public calls it makes."""
        from invariantbitpacking_spark.plans.pipeline import (
            CompressionPipeline)

        store = os.path.join(self.work, "store")
        pipe = CompressionPipeline(self.spark, store,
                                   num_buckets=self.cores,
                                   wave_buckets=self.cores)
        span = self.tracer.span

        def fn():
            with span("learn_params"):
                params = pipe.load_or_learn_params(self.toks, SNAP)
            with span("learn_fsst"):
                pipe.load_or_learn_fsst(self.toks, SNAP)
            with span("stage_input"):
                pipe.stage_input(self.toks, SNAP)
            return params, pipe.run(self.toks, SNAP)

        def check(out):
            r = out[1]
            want = (self.corpus.n, self.corpus.tokens, self.cores)
            got = (r.docs, r.tokens, r.buckets_done)
            return [] if got == want else [
                f"(docs, tokens, buckets) {got} != {want}"]

        (self.params, self.result), cost = self.op("run", fn, check)
        self.pipe = pipe
        self.model.put(self.corpus.base)
        pipe.cleanup_staging(SNAP)
        return cost

    def source_fold(self) -> int:
        """XOR-fold of xxhash64(doc_id, tokens) over the source corpus."""
        from pyspark.sql import functions as F

        if self._source_fold is None:
            with self.tracer.span("source_fold"):
                self._source_fold = self.toks.agg(F.expr(
                    "bit_xor(xxhash64(doc_id, tokens))")).collect()[0][0]
        return self._source_fold

    def scan(self) -> Cost:
        """One full decoded scan."""
        from invariantbitpacking_spark.operators import selector
        from pyspark.sql import functions as F

        want_fold = self.source_fold() if self.pristine else None

        def fn():
            dec = selector.decode_auto(self.pipe.read_encoded(SNAP),
                                       self.params)
            return tuple(dec.agg(
                F.expr("bit_xor(xxhash64(doc_id, tokens))"),
                F.sum("n_tok"), F.count(F.lit(1))).collect()[0])

        def check(out):
            fold, toks, docs = out
            bad = []
            if (docs, toks) != (self.model.docs, self.model.tokens):
                bad.append(f"(docs, tokens) {(docs, toks)} != "
                           f"{(self.model.docs, self.model.tokens)}")
            if want_fold is not None and fold != want_fold:
                bad.append("fingerprint differs from the source corpus")
            return bad

        return self.op("scan", fn, check)[1]

    def fetch(self, ids) -> Cost:
        ids = list(ids)

        def fn():
            return [(r.doc_id, r.tokens, r.n_tok, r.source)
                    for r in self.pipe.fetch(ids, SNAP).collect()]

        return self.op("fetch", fn,
                       lambda rows: self.model.mismatches(ids, rows))[1]

    def append(self) -> Cost:
        """Upsert ~200 docs: new versions of random existing ids and
        ids never written before.  The delta lands as a parquet file
        first, as new data would."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        c = self.corpus
        upd = [c.updates[i] for i in self.rng.sample(range(c.n),
                                                     APPEND_UPDATES)]
        new = c.fresh[self.next_fresh:self.next_fresh + APPEND_NEW]
        self.next_fresh += APPEND_NEW
        rows = upd + new
        path = os.path.join(self.work, "deltas", f"d{self.next_fresh}")
        os.makedirs(path)
        cols = list(zip(*rows))
        pq.write_table(pa.table(
            {"doc_id": cols[0], "tokens": list(cols[1]),
             "n_tok": pa.array(cols[2], pa.int32()), "source": cols[3]},
            schema=pa.schema([("doc_id", pa.string()),
                              ("tokens", pa.list_(pa.int32())),
                              ("n_tok", pa.int32()),
                              ("source", pa.string())])),
            os.path.join(path, "part-0.parquet"))
        delta = self.spark.read.schema(self.schema).parquet(path)
        cost = self.op("append", lambda: self.pipe.append(delta, SNAP))[1]
        self.model.put(rows)
        self.pristine = False
        self.last_written = [r[0] for r in rows]
        return cost

    def delete(self) -> Cost:
        victims = self.rng.sample(sorted(self.model.live), DELETE_IDS)
        ids = self.spark.createDataFrame([(i,) for i in victims],
                                         "doc_id string")
        cost = self.op("delete", lambda: self.pipe.delete(ids, SNAP))[1]
        self.model.remove(victims)
        self.pristine = False
        return cost

    def random_ids(self, k: int) -> list[str]:
        """k ids drawn uniformly from every id ever written."""
        c = self.corpus
        known = c.n + self.next_fresh
        return [(c.base[i] if i < c.n else c.fresh[i - c.n])[0]
                for i in self.rng.sample(range(known), k)]

    def compact(self) -> Cost:
        cost = self.op("compact", lambda: self.pipe.compact(SNAP))[1]
        self.check("verify_checksums", self.checksum_problems)
        self.check("live_count", self.count_problems)
        return cost

    def checksum_problems(self) -> list[str]:
        bad = self.pipe.verify_checksums(SNAP)
        return [f"verify_checksums() == {bad}"] if bad else []

    def count_problems(self) -> list[str]:
        n = self.pipe.read_encoded(SNAP).count()
        return [] if n == self.model.docs else [
            f"{n} live docs, model has {self.model.docs}"]

    # -- measurement ------------------------------------------------------

    def store_stats(self) -> dict:
        """On-disk bytes under encoded/ and delta/, and file counts."""
        store = self.pipe.output_dir
        nbytes = data_files = delta_dirs = lineage_files = 0
        for sub in ("encoded", "delta", "lineage"):
            for root, dirs, files in os.walk(os.path.join(store, sub)):
                if sub == "delta":
                    delta_dirs += sum(d.startswith("delta_seq=")
                                      for d in dirs)
                parquet = [f for f in files if f.endswith(".parquet")]
                if sub == "encoded":
                    data_files += len(parquet)
                if sub == "lineage":
                    lineage_files += len(parquet)
                else:
                    nbytes += sum(os.path.getsize(os.path.join(root, f))
                                  for f in files)
        return {"bytes": nbytes, "store.data_files": data_files,
                "store.delta_dirs": delta_dirs,
                "store.lineage_files": lineage_files}

    def window(self, seconds: float, step, min_ops: int = 3,
               warmup: int = 0) -> list[Cost]:
        """Repeat ``step()`` (which returns its :class:`Cost`) until
        ``seconds`` have passed and at least ``min_ops`` ran, after
        ``warmup`` steps whose latencies are not kept: the first
        operations after set-up still pay for JIT and worker caches."""
        for _ in range(warmup):
            step()
        lat = []
        t0 = time.perf_counter()
        while len(lat) < min_ops or time.perf_counter() - t0 < seconds:
            lat.append(step())
        return lat


# -- workloads ------------------------------------------------------------

def bulk(b: Bench, seconds: float) -> list[Cost]:
    """Repeated full decoded scans of the freshly built store."""
    b.source_fold()
    lat = b.window(seconds, b.scan, warmup=WARMUP_OPS)
    b.check("verify_checksums", b.checksum_problems)
    return lat


def churn_round(b: Bench) -> Cost:
    """Upsert ~200 docs, tombstone 100, fetch 10 biased to the ids just
    written; the round costs the sum of its three operations."""
    cost = b.append() + b.delete()
    half = FETCH_IDS // 2
    ids = b.rng.sample(b.last_written, half) + b.random_ids(FETCH_IDS - half)
    return cost + b.fetch(ids)


def churn(b: Bench, seconds: float) -> list[Cost]:
    return b.window(seconds, lambda: churn_round(b), min_ops=CHURN_ROUNDS)


def cover_missing_verbs(b: Bench) -> None:
    """A traced run reports every verb's layer metrics, so it runs one
    operation of each verb its workload did not use."""
    done = {s.verb for s in b.tracer.spans if s.verb}
    if "scan" not in done:
        b.scan()
    if "fetch" not in done:
        b.fetch(b.random_ids(FETCH_IDS))
    if "append" not in done:
        b.append()
    if "delete" not in done:
        b.delete()
    if "compact" not in done:
        b.compact()


def codec_rates(b: Bench, docs: int = 200, min_s: float = 0.3) -> dict:
    """Single-thread kernel throughput on a seeded sample of the corpus,
    by direct calls into the codec layer (median of repeated calls)."""
    import numpy as np

    from invariantbitpacking_spark.codecs import fsst
    from invariantbitpacking_spark.operators import ibp, selector
    from invariantbitpacking_spark.operators.framing import frame_batch_flat

    rng = random.Random(b.corpus.seed)
    sample = [b.corpus.base[i] for i in
              sorted(rng.sample(range(b.corpus.n), docs))]
    lens = np.array([r[2] for r in sample], np.int64)
    flat = np.concatenate([r[1] for r in sample]).view(np.uint32)
    starts = np.cumsum(lens) - lens
    p = b.params
    table = b.pipe.load_or_learn_fsst(b.toks, SNAP)
    strings = [s for r in sample for s in (r[0], r[3])]
    sflat, slens = fsst.strings_to_flat(strings)

    def rate(fn, amount):
        fn()  # warm
        times = []
        t_end = time.perf_counter() + min_s
        while len(times) < 3 or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return amount / statistics.median(times)

    fb = frame_batch_flat(flat, starts, lens, p.vec_size)
    buf, doc_bytes, sizes, flags, flag_nb = ibp.encode_batch_flat(
        fb, p.mask, p.bitval)
    pay_starts = np.cumsum(doc_bytes) - doc_bytes
    flag_starts = np.cumsum(flag_nb) - flag_nb

    def ibp_decode():
        return ibp.decode_docs_flat(lens, sizes, flags, flag_starts, buf,
                                    pay_starts, p.mask, p.bitval, p.vec_size)

    enc, enc_lens = fsst.encode_strings(sflat, slens, table)

    def roundtrip_problems():
        bad = []
        if not np.array_equal(np.asarray(ibp_decode()[0]).view(np.uint32),
                              flat):
            bad.append("ibp.decode_docs_flat does not invert the encoder")
        if not np.array_equal(fsst.decode_strings(enc, enc_lens, table)[0],
                              sflat):
            bad.append("fsst.decode_strings does not invert the encoder")
        return bad

    b.check("codec_roundtrip", roundtrip_problems)
    smb = sflat.size / 1e6
    return {
        "codecs.encode_auto_tok_per_s": rate(
            lambda: selector.encode_docs_auto_flat(flat, lens, p),
            flat.size),
        "codecs.ibp_decode_tok_per_s": rate(ibp_decode, flat.size),
        "codecs.fsst_encode_mb_per_s": rate(
            lambda: fsst.encode_strings(sflat, slens, table), smb),
        "codecs.fsst_decode_mb_per_s": rate(
            lambda: fsst.decode_strings(enc, enc_lens, table), smb),
    }
