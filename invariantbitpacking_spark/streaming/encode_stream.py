"""Structured Streaming ingest: encode token documents as they land.

The reference is purely batch (SURVEY.md §2.6: no streaming/state); a
production corpus, however, grows continuously, so the engine exposes
the same auto-selected encoder as an incremental stream: new parquet
files under the input path are discovered, encoded, and appended to
the sink exactly once (checkpoint-tracked offsets — the streaming
analog of the batch pipeline's lineage resume).

The encode itself is the stateless ``mapInArrow`` projection from
operators/selector.py, which Structured Streaming runs unchanged; with
``Trigger.AvailableNow`` the same job doubles as an incremental batch
backfill.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.ibp import IbpParams
from ..operators import selector

TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def start_encode_stream(spark: SparkSession, input_path: str,
                        output_path: str, checkpoint_path: str,
                        params: IbpParams,
                        available_now: bool = True,
                        max_files_per_trigger: int | None = None,
                        schema_ddl: str = TOKENS_DDL
                        ) -> StreamingQuery:
    """Start (and return) the streaming encode query.  Callers own
    ``query.awaitTermination()`` / ``stop()``.  ``schema_ddl``
    overrides the input schema for non-int corpora (e.g.
    ``tokens array<float>`` feature streams — the encoder dispatches
    on the schema exactly as the batch path does)."""
    reader = (spark.readStream.schema(schema_ddl)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              if max_files_per_trigger else
              spark.readStream.schema(schema_ddl))
    stream = reader.parquet(input_path)
    enc = selector.encode_auto(stream, params)
    writer = (enc.writeStream
              .format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_incremental(spark: SparkSession, input_path: str,
                    output_path: str, checkpoint_path: str,
                    params: IbpParams) -> None:
    """Process everything new under ``input_path`` once and stop —
    exactly-once incremental encode (AvailableNow)."""
    q = start_encode_stream(spark, input_path, output_path,
                            checkpoint_path, params, available_now=True)
    q.awaitTermination()


ENCODED_DDL = ("doc_id string, source string, n_tok int, n_blocks int, "
               "block_sizes array<int>, block_flags binary, payload binary, "
               "comp_bytes long, raw_bytes long, codec string")


def start_decode_stream(spark: SparkSession, input_path: str,
                        output_path: str, checkpoint_path: str,
                        params: IbpParams,
                        available_now: bool = True) -> StreamingQuery:
    """Streaming inverse of :func:`start_encode_stream`: encoded rows
    landing under ``input_path`` decode back to token documents exactly
    once.  Decode is the same stateless ``mapInArrow`` projection as
    the batch path (operators/selector.decode_auto), so a consumer can
    subscribe to a continuously-growing encoded corpus and materialize
    tokens incrementally — the read side of a streaming ingest +
    training-reader pair."""
    stream = spark.readStream.schema(ENCODED_DDL).parquet(input_path)
    dec = selector.decode_auto(stream, params)
    writer = (dec.writeStream
              .format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_incremental_decode(spark: SparkSession, input_path: str,
                           output_path: str, checkpoint_path: str,
                           params: IbpParams) -> None:
    """Process everything new under ``input_path`` once and stop."""
    q = start_decode_stream(spark, input_path, output_path,
                            checkpoint_path, params, available_now=True)
    q.awaitTermination()


def start_ingest_stream(spark: SparkSession, input_path: str,
                        pipe, snapshot_id: str, checkpoint_path: str,
                        available_now: bool = True,
                        max_files_per_trigger: int | None = None,
                        compact_every: int | None = None,
                        schema_ddl: str = TOKENS_DDL
                        ) -> StreamingQuery:
    """Streaming ingest into a LIVING pipeline snapshot: each
    micro-batch of newly-landed token documents upserts bucket-locally
    via :meth:`plans.pipeline.CompressionPipeline.append` (foreachBatch
    sink), so a continuously-growing corpus flows straight into the
    wave-committed, lineage-audited encoded table without ever
    re-encoding what already landed.

    Delivery semantics: the file source's checkpoint makes each batch
    at-least-once at the SINK, and ``append``'s upsert idempotency
    turns a replayed batch into a byte-identical rewrite — so the
    TABLE state is exactly-once even across crash/retry, and
    ``verify_checksums`` stays green after every batch.  The snapshot
    must already have committed buckets (run the initial corpus through
    ``pipe.run`` first); params and the FSST table are the snapshot's
    persisted ones, so streamed documents encode exactly as the batch
    path would.

    Each micro-batch lands as O(delta) merge-on-read delta files, so
    trickle ingest never pays bucket rewrites — but the files
    accumulate.  ``compact_every=N`` folds deltas into the base (and
    compacts the lineage history) after every N non-empty batches, the
    maintenance cadence a long-lived stream needs; compaction is
    crash-safe and read-transparent, so delivery semantics are
    unchanged."""
    reader = (spark.readStream.schema(schema_ddl)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              if max_files_per_trigger else
              spark.readStream.schema(schema_ddl))
    stream = reader.parquet(input_path)
    seen = {"batches": 0}

    def _sink(batch_df, _batch_id):
        if not batch_df.isEmpty():
            pipe.append(batch_df, snapshot_id)
            seen["batches"] += 1
            if compact_every and seen["batches"] % compact_every == 0:
                pipe.compact(snapshot_id)
                pipe.compact_lineage()

    writer = (stream.writeStream.foreachBatch(_sink)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_incremental_ingest(spark: SparkSession, input_path: str,
                           pipe, snapshot_id: str,
                           checkpoint_path: str) -> None:
    """Ingest everything new under ``input_path`` into the snapshot
    once and stop (AvailableNow)."""
    q = start_ingest_stream(spark, input_path, pipe, snapshot_id,
                            checkpoint_path, available_now=True)
    q.awaitTermination()


DELETE_DDL = "doc_id string"


def start_delete_stream(spark: SparkSession, input_path: str,
                        pipe, snapshot_id: str, checkpoint_path: str,
                        available_now: bool = True,
                        compact_every: int | None = None
                        ) -> StreamingQuery:
    """Streaming DELETION from a living snapshot — the GDPR half of
    the ingest stream: files of ``doc_id`` rows landing under
    ``input_path`` (an erasure-request queue) tombstone-delete their
    documents per micro-batch via
    :meth:`plans.pipeline.CompressionPipeline.delete`, each batch
    O(delta): marker rows in the delta tree plus a superseding
    lineage commit; no base bucket is rewritten on the request path.

    Delivery semantics mirror the ingest stream: the checkpoint makes
    batches at-least-once at the sink, and tombstone deletes are
    idempotent — a replayed batch finds its victims already absent
    from the resolved view and writes nothing (a batch replayed after
    a crash BETWEEN marker write and lineage commit first purges its
    own orphan markers, then re-applies) — so the table state is
    exactly-once and ``verify_checksums`` stays green after every
    batch.  ``compact_every=N`` physically erases the tombstoned
    payloads after every N non-empty batches — the retention cadence
    an erasure-request queue needs (markers hide documents
    immediately; bytes leave the base at the next compaction)."""
    reader = spark.readStream.schema(DELETE_DDL)
    stream = reader.parquet(input_path)
    seen = {"batches": 0}

    def _sink(batch_df, _batch_id):
        if not batch_df.isEmpty():
            pipe.delete(batch_df, snapshot_id)
            seen["batches"] += 1
            if compact_every and seen["batches"] % compact_every == 0:
                pipe.compact(snapshot_id)
                pipe.compact_lineage()

    writer = (stream.writeStream.foreachBatch(_sink)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_incremental_delete(spark: SparkSession, input_path: str,
                           pipe, snapshot_id: str,
                           checkpoint_path: str) -> None:
    """Apply every pending erasure request under ``input_path`` once
    and stop (AvailableNow)."""
    q = start_delete_stream(spark, input_path, pipe, snapshot_id,
                            checkpoint_path, available_now=True)
    q.awaitTermination()
