"""Structured-Streaming ingest for continuously arriving documents.

The reference is pure batch (SURVEY.md §1.2 — its only streaming
surface is a web SSE endpoint, out of engine scope), but a production
linkage deployment ingests documents continuously. This module gives
the engine a streaming front door that reuses the SAME batch operators
via foreachBatch: each micro-batch is normalized + matched with the
broadcast gazetteer artifacts and appended to the matches table —
incremental linkage with exactly-once sink semantics when the sink is
Iceberg (append + checkpointLocation).

Also a continuous front end, stream_static_candidates: per micro-batch
the fused normalization Arrow UDF runs once over the batch's documents,
AQE broadcasts that small document side, and the prepared gazetteer's
key index streams through the broadcast join.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ..sources.documents import DOCUMENTS_SCHEMA


def read_document_stream(spark: SparkSession, path: str,
                         max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream of documents (parquet drop directory)."""
    return (spark.readStream
            .schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(path))


def start_incremental_linkage(stream: DataFrame, gaz: DataFrame,
                              out_path: str, checkpoint: str,
                              cfg=None, available_now: bool = True):
    """foreachBatch: run the batch pipeline per micro-batch. The
    gazetteer is prepared ONCE at stream start (normalize + range
    expansion + blocking keys, eager localCheckpoint so the work is
    materialized, not a lazy plan replayed per batch) and the closure
    hands the prepared frame, the stream's one pin, to every micro-batch
    run. Each batch releases its own run's checkpoints after its write,
    so the pinned storage does not grow with the number of batches, and
    the gazetteer pin is released when the query terminates (stopped,
    drained or failed)."""
    from ..operators import candidates as C
    from ..pipeline import PipelineConfig, run_pipeline
    from ..session import Pins
    cfg = cfg or PipelineConfig(enable_vector=False, enable_spatial=False,
                                enable_symspell=False)
    inner, pin = Pins(gaz), Pins(gaz)
    gazp = pin.checkpoint(inner.adopt(C.prepare_gazetteer(gaz)))
    inner.release()  # prepare_gazetteer's own cut, now unread under gazp

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = run_pipeline(batch_df.sparkSession, batch_df, gaz, cfg,
                           gazp_prepared=gazp)
        (out["matches"]
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_path))
        # the batch's checkpoints are dead once its matches are written;
        # the shared gazp is the caller's and stays pinned
        out["release"]()

    w = (stream.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    streams = stream.sparkSession.streams
    listener = _ReleaseOnTermination(streams, pin)
    streams.addListener(listener)
    try:
        q = w.start()
    except Exception:
        listener.watch(None)
        streams.removeListener(listener)
        pin.release()
        raise
    listener.watch(q.runId)
    return q


class _ReleaseOnTermination(StreamingQueryListener):
    """Releases a query's pins on its QueryTerminatedEvent, then
    deregisters itself. The event is delivered on the listener bus, so
    the release follows awaitTermination by the bus's lag, not by
    garbage collection. It is registered before start (a later
    registration could miss the event of a query that ends at once) and
    waits in onQueryTerminated until start has returned the run id."""

    def __init__(self, streams, pins):
        self._streams, self._pins = streams, pins
        self._run_id = None
        self._started = threading.Event()

    def watch(self, run_id: str | None) -> None:
        self._run_id = run_id
        self._started.set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self._started.wait()
        if str(event.runId) == self._run_id:
            self._pins.release()
            self._streams.removeListener(self)


def stream_static_candidates(stream_docs: DataFrame,
                             gazp: DataFrame) -> DataFrame:
    """CONTINUOUS (non-foreachBatch) linkage front end: normalize the
    document stream with the same stateless Arrow UDFs the batch path
    uses, derive blocking keys, and stream-static inner-join against
    the prepared gazetteer's exploded key index. The plan evaluates the
    fused normalization UDF once per document (explode_keys keeps
    Catalyst from cloning it into a pushed filter). Per micro-batch AQE
    broadcasts the small document side and streams the gazetteer scan
    through the join; the stream side never accumulates state — this
    is the always-on candidate generator in front of the scoring phase.

    Returns a STREAMING DataFrame (doc_id, addr_can, postcode, uprn,
    block_kind) — exact-canonical agreement collapses to method
    'exact'; everything else is a blocked fuzzy candidate for the
    downstream scorer."""
    from ..operators.blocking import explode_keys, with_blocking_keys
    from ..pipeline import normalize_documents

    d = normalize_documents(stream_docs, None)
    d = with_blocking_keys(d)
    dk = explode_keys(d, ["doc_id", "addr_can", "postcode", "addr_core"])
    gk = explode_keys(gazp, ["uprn"]) \
        .withColumnRenamed("block_kind", "g_kind") \
        .withColumnRenamed("block_key", "g_key")
    # NO dropDuplicates here: on a stream it would pin unbounded state;
    # the scoring phase's (addr, uprn) groupBy collapses multi-key hits
    return (dk.join(gk, (dk.block_kind == gk.g_kind) &
                    (dk.block_key == gk.g_key), "inner")
            .select("doc_id", "addr_can", "postcode", "uprn", "block_kind"))


def streaming_dedup(stream: DataFrame, fingerprint_col: str = "fingerprint",
                    id_col: str = "doc_id"):
    """Custom stateful streaming operator: exactly-once-per-fingerprint
    emission across the whole stream via applyInPandasWithState.

    State = per-fingerprint seen flag (GroupState, no timeout — a real
    deployment sets a TTL via GroupStateTimeout + watermark). Only the
    FIRST document carrying each fingerprint passes; later duplicates,
    including ones arriving in later micro-batches, are dropped. This is
    the streaming face of operators/dedup.exact_dedup."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{id_col} string, {fingerprint_col} long"
    state_schema = "seen boolean"

    def dedup_fn(key, pdf_iter, state):
        if state.exists:
            return iter(())
        state.update((True,))
        import pandas as pd
        first = None
        for pdf in pdf_iter:
            if len(pdf):
                first = pdf.iloc[[0]][[id_col, fingerprint_col]]
                break
        return iter(()) if first is None else iter([first])

    return (stream
            .groupBy(fingerprint_col)
            .applyInPandasWithState(
                dedup_fn, outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))
