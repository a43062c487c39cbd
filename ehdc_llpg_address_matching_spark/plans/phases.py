"""Phased, resumable pipeline runner (north_rule: resumable from
checkpoint with per-partition lineage + metrics).

The reference runs layers 0-4 with a snapshot table per layer
(cmd/matcher-v2/main.go:3389-3421); a crash resumes from the last
snapshot. Ours runs the same phase functions as ``run_pipeline``
(pipeline.py), but each phase writes its output table(s) to the
Warehouse (Iceberg snapshots when available, versioned parquet +
manifest otherwise) and records a phase-commit; `run_phased` skips
phases whose commit exists. Every persisted table carries lineage
columns: run_id, phase, written-at partition id, and the engine
version — enough to trace any output row back to the task that
produced it.

Phases:
  p1_gazetteer   -> gazetteer_prepared
  p2_normalize   -> docs_normalized, unique_addresses
  p3_candidates  -> candidates
  p4_scoring     -> scored_pairs, audit_candidates
  p5_matches     -> doc_matches, historic_gazetteer
  p6_cluster     -> matches, clusters, metrics
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import __version__
from .. import pipeline as P
from ..operators import candidates as C
from ..session import Pins
from ..sources.catalog import Warehouse


def with_lineage(df: DataFrame, run_id: str, phase: str) -> DataFrame:
    """Per-partition lineage: which run/phase/task-partition wrote each
    row, and when. spark_partition_id is evaluated at write time, so it
    records the physical partition that produced the row."""
    return (df
            .withColumn("_run_id", F.lit(run_id))
            .withColumn("_phase", F.lit(phase))
            .withColumn("_partition_id", F.spark_partition_id())
            .withColumn("_engine_version", F.lit(__version__))
            .withColumn("_written_at", F.current_timestamp()))


def strip_lineage(df: DataFrame) -> DataFrame:
    return df.drop("_run_id", "_phase", "_partition_id",
                   "_engine_version", "_written_at")


def run_phased(spark: SparkSession, docs: DataFrame, gaz: DataFrame,
               wh: Warehouse, run_id: str | None = None,
               cfg: P.PipelineConfig | None = None,
               force: bool = False) -> dict:
    """Run (or resume) the pipeline phase by phase through the
    Warehouse. A phase whose commit marker exists is NOT recomputed —
    its tables are read back (Iceberg snapshot / parquet version).

    Every returned frame is such a read-back. The returned ``release()``
    unpersists the checkpoints the run made (inside the phases, and of
    the read-backs later phases share); the returned frames stay
    usable after it."""
    cfg = cfg or P.PipelineConfig()
    run_id = run_id or f"run-{int(time.time())}"
    pins = Pins(docs, gaz)

    def phase(name: str, compute, tables: list[str]) -> dict:
        """compute() returns the phase's outputs by table name."""
        # Resume only if EVERY requested table exists: a warehouse
        # committed by an older engine version may carry the phase
        # marker but fewer output tables (e.g. p4 before scored_pairs
        # existed) — loading would crash mid-resume, so recompute the
        # phase instead.
        if (force or not wh.phase_done(name)
                or not all(wh.exists(t) for t in tables)):
            computed = compute()
            for t in tables:
                wh.save(with_lineage(computed[t], run_id, name), t)
            wh.commit_phase(name, tables)
        return {t: strip_lineage(wh.load(t)) for t in tables}

    out = phase("p1_gazetteer",
                lambda: {"gazetteer_prepared":
                         pins.adopt(C.prepare_gazetteer(gaz))},
                ["gazetteer_prepared"])
    gazp = pins.checkpoint(out["gazetteer_prepared"])
    out.update(phase("p2_normalize",
                     lambda: P.normalize_and_dedup(docs, gazp, cfg, pins),
                     ["docs_normalized", "unique_addresses"]))
    docs_n = pins.checkpoint(out["docs_normalized"])
    uaddr = pins.checkpoint(out["unique_addresses"])
    out.update(phase("p3_candidates",
                     lambda: P.generate_candidates(uaddr, gazp, cfg, pins),
                     ["candidates"]))
    # the scored keep-best pairs are a snapshot table of their own: a
    # resumed run (or an auditor replaying the ladder, as the composed
    # linkage_full/linkage_phased oracle does) re-decides from them
    # without re-running candidate generation + the Arrow scoring UDF
    out.update(phase("p4_scoring",
                     lambda: P.score_and_decide(out["candidates"], docs_n,
                                                uaddr, gazp, cfg, pins),
                     ["scored_pairs", "audit_candidates"]))
    decided = out["audit_candidates"]
    out.update(phase("p5_matches",
                     lambda: P.fan_out(decided, docs_n, uaddr, gazp, pins),
                     ["doc_matches", "historic_gazetteer"]))
    doc_matches = pins.checkpoint(out["doc_matches"])
    out.update(phase("p6_cluster",
                     lambda: P.cluster_and_resolve(doc_matches, decided,
                                                   docs_n, gazp, cfg, pins),
                     ["matches", "clusters", "metrics"]))
    out["release"] = pins.release
    return out
