#!/usr/bin/env python3
"""spark-submit entry point for the linkage pipeline.

Cluster usage (the north_star deployment shape):

    zip -r engine.zip ehdc_llpg_address_matching_spark/
    spark-submit --py-files engine.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        scripts/run_linkage.py \
        --documents s3://bucket/docs/ --gazetteer s3://bucket/llpg/ \
        --warehouse s3://bucket/warehouse --run-id nightly-2026-08-16

Local smoke (this sandbox):

    PYTHONPATH=. python3 scripts/run_linkage.py --synth 500 \
        --warehouse /tmp/linkage_wh

Resumable: re-running with the same --warehouse skips completed phases
(Iceberg snapshots when the runtime is present, versioned parquet +
manifest otherwise). --force recomputes everything.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--documents", help="parquet path: (doc_id, spans)")
    ap.add_argument("--gazetteer", help="parquet path: LLPG dimension")
    ap.add_argument("--gazetteer-csv", help="raw LLPG CSV (typed load S1/S2)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--force", action="store_true",
                    help="recompute all phases (ignore checkpoints)")
    ap.add_argument("--no-vector", action="store_true")
    ap.add_argument("--no-spatial", action="store_true")
    ap.add_argument("--no-symspell", action="store_true")
    ap.add_argument("--export", help="also write the enhanced CSV export here")
    ap.add_argument("--synth", type=int, default=0, metavar="N_DOCS",
                    help="ignore inputs; run on a seeded synthetic corpus")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ehdc_llpg_address_matching_spark.pipeline import PipelineConfig
    from ehdc_llpg_address_matching_spark.plans.phases import run_phased
    from ehdc_llpg_address_matching_spark.sources.catalog import Warehouse

    # under spark-submit a session already exists; standalone we build one
    active = SparkSession.getActiveSession()
    if active is not None and args.master is None:
        spark = active
    else:
        from ehdc_llpg_address_matching_spark.session import get_spark
        spark = get_spark(app_name="linkage-run", master=args.master)

    if args.synth:
        from ehdc_llpg_address_matching_spark.synth import (SynthConfig,
                                                            synth_tables)
        gaz_pd, docs_pd, _ = synth_tables(
            SynthConfig(seed=42, n_gazetteer=max(args.synth // 4, 50),
                        n_docs=args.synth))
        docs = spark.createDataFrame(docs_pd)
        gaz = spark.createDataFrame(gaz_pd)
    else:
        if not args.documents:
            ap.error("--documents (or --synth) is required")
        docs = spark.read.parquet(args.documents)
        if args.gazetteer_csv:
            from ehdc_llpg_address_matching_spark.sources.ingest import \
                load_gazetteer_csv
            gaz = load_gazetteer_csv(spark, args.gazetteer_csv)
        elif args.gazetteer:
            gaz = spark.read.parquet(args.gazetteer)
        else:
            ap.error("--gazetteer or --gazetteer-csv is required")

    cfg = PipelineConfig(enable_vector=not args.no_vector,
                         enable_spatial=not args.no_spatial,
                         enable_symspell=not args.no_symspell)
    wh = Warehouse(spark, args.warehouse)
    out = run_phased(spark, docs, gaz, wh, run_id=args.run_id, cfg=cfg,
                     force=args.force)

    stats = {r["decision"]: r["n"] for r in out["metrics"].collect()}
    n_docs = docs.count()
    n_matched = out["matches"].count()
    print(json.dumps({
        "documents": n_docs,
        "matched": n_matched,
        "match_rate": round(n_matched / max(n_docs, 1), 4),
        "decisions": stats,
        "warehouse": args.warehouse,
    }))

    if args.export:
        from ehdc_llpg_address_matching_spark.operators.facts import (
            build_fact, export_enhanced)
        from ehdc_llpg_address_matching_spark.sources.documents import \
            with_raw_address
        result = (out["docs_normalized"]
                  .select("doc_id", "raw_address", "addr_can", "postcode",
                          "group_key")
                  .join(out["matches"], "doc_id", "left"))
        export_enhanced(build_fact(result, out["gazetteer_prepared"]),
                        args.export)
        print(f"export written to {args.export}")
    out["release"]()
    return 0


if __name__ == "__main__":
    sys.exit(main())
