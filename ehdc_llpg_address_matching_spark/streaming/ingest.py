"""Structured-Streaming ingest for continuously arriving documents.

The reference is pure batch (SURVEY.md §1.2 — its only streaming
surface is a web SSE endpoint, out of engine scope), but a production
linkage deployment ingests documents continuously. This module gives
the engine a streaming front door that reuses the SAME batch operators
via foreachBatch: each micro-batch is normalized + matched with the
broadcast gazetteer artifacts and appended to the matches table —
incremental linkage with exactly-once sink semantics when the sink is
Iceberg (append + checkpointLocation).

Also a continuous front end, stream_static_candidates: the prepared
gazetteer's blocking-key index (uprn, block_kind, block_key) is routed
once, when the query is defined, by its size against
spark.sql.autoBroadcastJoinThreshold:

  index — at most threshold // KEY_ROW_BYTES key rows: the index is
      collected to the driver (at most one row past that cap) and
      broadcast as a KeyIndex. Each micro-batch is one job and one
      stage: scan, the fused normalization Arrow UDF, the blocking
      keys, one mapInPandas probe of the index, the sink. No exchange,
      no per-batch build of a join relation.
  join — the index overflows the cap, or the threshold is -1: a
      stream-static inner join on (block_kind, block_key) against the
      gazetteer's keys, exploded in every micro-batch.

The broadcast index lives as long as the plan that holds it (the
returned frame and the query running it), one copy per Python worker.
It is not a Pins entry: nothing to release, and Spark's ContextCleaner
drops it once the query and the frame are gone.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ..sources.documents import DOCUMENTS_SCHEMA

# Bytes one (uprn, block_kind, block_key) key row may take, for the
# index route's size rule: its collected pandas row on the driver,
# ~200 B, the largest of its copies (unpickled in a Python worker it
# is ~90-130 B, the uprn strings shared by their kinds' lists).
KEY_ROW_BYTES = 200


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
    expansion + blocking keys) and materialized by one eager
    localCheckpoint, so no batch replays its lazy plan; that checkpoint
    is the stream's one pin, and the closure hands it to every
    micro-batch run. Each batch releases its own run's checkpoints
    after its write, so the pinned storage does not grow with the
    number of batches, and the gazetteer pin is released when the query
    terminates (stopped, drained or failed)."""
    from ..operators import candidates as C
    from ..pipeline import PipelineConfig, run_pipeline
    from ..session import Pins
    cfg = cfg or PipelineConfig(enable_vector=False, enable_spatial=False,
                                enable_symspell=False)
    pin = Pins(gaz)
    gazp = pin.checkpoint(C.prepare_gazetteer(gaz))

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


class KeyIndex:
    """The prepared gazetteer's blocking-key index, probed in Python:
    per block_kind, the distinct keys and the list of uprns that carry
    each. Built on the driver from collected (uprn, block_kind,
    block_key) rows. groupby drops null kinds and keys, so a probe
    never matches a null key, as an inner join never does."""

    def __init__(self, rows: pd.DataFrame):
        self.kinds = {}
        for kind, g in rows.groupby("block_kind"):
            uprns = g.groupby("block_key")["uprn"].agg(list)
            self.kinds[kind] = (uprns.index, uprns.to_numpy())

    def probe(self, keys: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        """(row, uprns): each row of ``keys`` whose (block_kind,
        block_key) is indexed, with the list of its uprns. Exploded,
        that is the inner join's multiset."""
        kind = keys["block_kind"].to_numpy()
        key = keys["block_key"].to_numpy()
        rows, uprns = [np.zeros(0, np.int64)], [np.zeros(0, object)]
        for k, (index, lists) in self.kinds.items():
            sel = np.flatnonzero(kind == k)
            pos = index.get_indexer(key[sel])
            rows.append(sel[pos >= 0])
            uprns.append(lists[pos[pos >= 0]])
        return np.concatenate(rows), np.concatenate(uprns)


def stream_static_candidates(stream_docs: DataFrame,
                             gazp: DataFrame) -> DataFrame:
    """CONTINUOUS (non-foreachBatch) linkage front end: normalize the
    document stream with the same stateless Arrow UDFs the batch path
    uses, derive blocking keys, and match them against the prepared
    gazetteer's exploded key index on (block_kind, block_key). The
    fused normalization UDF runs once per document (explode_keys keeps
    Catalyst from cloning it into a pushed filter), and the stream side
    never accumulates state: this is the always-on candidate generator
    in front of the scoring phase.

    The route is chosen here, once, by the index's size (module
    docstring): while it has at most threshold // KEY_ROW_BYTES rows it
    is collected and broadcast, and every micro-batch probes it in one
    mapInPandas pass, one job per batch; otherwise, or when
    spark.sql.autoBroadcastJoinThreshold is -1, every micro-batch runs
    the stream-static inner join. Both routes give the same rows.

    Returns a STREAMING DataFrame (doc_id, addr_can, postcode, uprn,
    block_kind), one row per (document key, gazetteer key row) pair
    that agrees: a document meets a uprn once per key they share. No
    dropDuplicates: on a stream it would pin unbounded state, and the
    scoring phase's (addr, uprn) groupBy collapses multi-key hits."""
    from ..operators.blocking import explode_keys, with_blocking_keys
    from ..pipeline import normalize_documents

    d = normalize_documents(stream_docs, None)
    d = with_blocking_keys(d)
    cols = ["doc_id", "addr_can", "postcode"]
    dk = explode_keys(d, cols)
    gk = explode_keys(gazp, ["uprn"])
    spark = gazp.sparkSession
    cap = (spark._jsparkSession.sessionState().conf()
           .autoBroadcastJoinThreshold()) // KEY_ROW_BYTES
    rows = gk.limit(cap + 1).toPandas() if cap > 0 else None
    if rows is not None and len(rows) <= cap:
        b_index = spark.sparkContext.broadcast(KeyIndex(rows))
        out = cols + ["block_kind"]

        def probe(it):
            index = b_index.value
            for pdf in it:
                row, uprns = index.probe(pdf)
                yield pdf[out].iloc[row].assign(uprns=uprns)

        uprn = gazp.schema["uprn"].dataType.simpleString()
        return (dk.mapInPandas(probe, f"doc_id string, addr_can string, "
                               f"postcode string, block_kind string, "
                               f"uprns array<{uprn}>")
                .select(*cols, F.explode("uprns").alias("uprn"),
                        "block_kind"))
    gk = (gk.withColumnRenamed("block_kind", "g_kind")
          .withColumnRenamed("block_key", "g_key"))
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
