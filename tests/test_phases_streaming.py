"""Phased runner resume semantics, lineage columns, warehouse, and the
streaming front door."""

import os
import time
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.operators import decision as D
from ehdc_llpg_address_matching_spark.pipeline import PipelineConfig
from ehdc_llpg_address_matching_spark.plans.phases import run_phased
from ehdc_llpg_address_matching_spark.sources.catalog import Warehouse
from ehdc_llpg_address_matching_spark.streaming.ingest import (
    read_document_stream, start_incremental_linkage, windowed_event_counts)
from ehdc_llpg_address_matching_spark.synth import (SynthConfig,
                                                    synth_spark_tables,
                                                    synth_tables)

CFG = PipelineConfig(enable_vector=False, enable_spatial=False,
                     enable_symspell=False)


@pytest.fixture(scope="module")
def corpus(spark):
    gaz_df, docs_df, gold = synth_spark_tables(
        spark, SynthConfig(seed=5, n_gazetteer=150, n_docs=200))
    return docs_df, gaz_df, gold


def test_phased_run_and_resume(spark, tmp_path, corpus):
    docs, gaz, gold = corpus
    wh = Warehouse(spark, str(tmp_path / "wh"))
    out1 = run_phased(spark, docs, gaz, wh, run_id="r1", cfg=CFG)
    n1 = out1["matches"].count()
    assert n1 > 150
    for ph in ["p1_gazetteer", "p2_normalize", "p3_candidates",
               "p4_scoring", "p5_matches", "p6_cluster"]:
        assert wh.phase_done(ph)
    # lineage columns persisted on every saved table
    saved = wh.load("audit_candidates")
    for col in ["_run_id", "_phase", "_partition_id", "_written_at"]:
        assert col in saved.columns
    assert saved.select("_run_id").first()[0] == "r1"
    assert saved.select("_phase").first()[0] == "p4_scoring"
    assert saved.filter(F.col("_partition_id").isNull()).count() == 0

    # resume: pass EMPTY docs — if phases actually resume from the
    # warehouse, the output is identical to run 1; if anything
    # recomputed from inputs it would collapse to 0 rows
    empty = docs.limit(0)
    out2 = run_phased(spark, empty, gaz, wh, run_id="r2", cfg=CFG)
    assert out2["matches"].count() == n1
    m1 = {(r["doc_id"], r["uprn"]) for r in out1["matches"].collect()}
    m2 = {(r["doc_id"], r["uprn"]) for r in out2["matches"].collect()}
    assert m1 == m2


def test_warehouse_append_and_versions(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    df = spark.range(5).withColumnRenamed("id", "x")
    wh.save(df, "t")
    wh.save(df, "t", mode="append")
    assert wh.load("t").count() == 10
    wh.save(df, "t")  # overwrite resets
    assert wh.load("t").count() == 5
    assert wh.exists("t") and not wh.exists("nope")


def test_streaming_incremental_linkage(spark, tmp_path, corpus):
    docs, gaz, gold = corpus
    src = str(tmp_path / "stream_in")
    out = str(tmp_path / "stream_out")
    chk = str(tmp_path / "chk")
    respan = F.transform(
        "spans", lambda s: F.struct(
            s.kind.alias("kind"), s.text.alias("text"),
            s.media_ref.alias("media_ref"),
            s.offset.cast("int").alias("offset")))
    (docs.limit(60).select("doc_id", respan.alias("spans"))
     .repartition(2).write.parquet(src))
    # one file per micro-batch, so the run has two batches
    stream = read_document_stream(spark, src, max_files_per_trigger=1)
    assert stream.isStreaming
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    q = start_incremental_linkage(stream, gaz, out, chk, cfg=CFG)
    q.awaitTermination(180)
    res = spark.read.parquet(out)
    assert res.count() >= 50
    assert "batch_id" in res.columns
    assert res.select("batch_id").distinct().count() == 2
    # each batch releases its run's checkpoints: only the gazetteer
    # prepared at stream start stays pinned (prepare_gazetteer's
    # pre-expansion cut and the prepared frame), however many batches.
    # "-", not "==": the ContextCleaner may drop unrelated RDDs meanwhile
    grown = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) \
        - pinned
    assert len(grown) <= 2, grown
    # exactly-once-ish: rerunning with the same checkpoint adds nothing
    q2 = start_incremental_linkage(read_document_stream(spark, src),
                                   gaz, out, chk, cfg=CFG)
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == res.count()


def test_windowed_event_counts_streaming_mode(spark, tmp_path):
    src = str(tmp_path / "events_in")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:30", "click", 1.0),
         (2, "2024-01-01 00:00:45", "click", 3.0),
         (3, "2024-01-01 00:02:10", "view", 5.0)],
        "event_id long, ts string, event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.parquet(src)
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, event_type string, value double")
              .parquet(src))
    agg = windowed_event_counts(stream)
    q = (agg.writeStream.format("memory").queryName("evt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode only emits windows the watermark has passed; with a
    # finite source the final window stays open, so just check schema +
    # no crash and the complete-mode batch equivalent
    batch = windowed_event_counts(spark.read.parquet(src))
    rows = {(str(r["window_start"]), r["event_type"]): r["n"]
            for r in batch.collect()}
    assert rows[("2024-01-01 00:00:00", "click")] == 2
    assert rows[("2024-01-01 00:02:00", "view")] == 1


def test_streaming_stateful_dedup(spark, tmp_path):
    from ehdc_llpg_address_matching_spark.streaming.ingest import \
        streaming_dedup
    src = str(tmp_path / "dedup_in")
    # batch 1: two docs sharing a fingerprint + one unique
    spark.createDataFrame(
        [("a", 11), ("b", 11), ("c", 22)],
        "doc_id string, fingerprint long").write.parquet(src)
    sink = str(tmp_path / "dedup_out")

    def run_once():
        stream = (spark.readStream
                  .schema("doc_id string, fingerprint long").parquet(src))
        q = (streaming_dedup(stream).writeStream
             .format("parquet").option("path", sink)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "chk"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    got1 = {r["fingerprint"] for r in spark.read.parquet(sink).collect()}
    assert got1 == {11, 22}
    # batch 2 (later files): duplicate of 11 must be suppressed by the
    # state persisted in the checkpoint; 33 is new
    spark.createDataFrame([("d", 11), ("e", 33)],
                          "doc_id string, fingerprint long") \
        .write.mode("append").parquet(src)
    run_once()
    rows = spark.read.parquet(sink).collect()
    fps = sorted(r["fingerprint"] for r in rows)
    assert fps == [11, 22, 33]  # 11 emitted exactly once across batches


def test_stream_static_candidate_join(spark, tmp_path, corpus):
    """Continuous (non-foreachBatch) stream-static join: the streaming
    doc normalizer + blocking join against the static gazetteer must
    produce candidates covering the batch path's exact hits."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        prepare_gazetteer
    from ehdc_llpg_address_matching_spark.streaming.ingest import \
        stream_static_candidates

    docs, gaz, gold = corpus
    src = str(tmp_path / "stream_src")
    docs.limit(40).write.parquet(src)
    gazp = prepare_gazetteer(gaz).cache()
    stream = read_document_stream(spark, src, max_files_per_trigger=2)
    assert stream.isStreaming
    cand = stream_static_candidates(stream, gazp)
    assert cand.isStreaming
    out = str(tmp_path / "stream_cand_out")
    q = (cand.writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt_cand"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    n_docs_with_cand = got.select("doc_id").distinct().count()
    # every directly-matchable doc must surface at least one candidate
    # (consensus_rescue docs get their gold UPRN from the group vote,
    # not from a candidate join — the streaming front end rightly
    # leaves them to the clustering phase)
    matchable = {r["doc_id"] for _, r in gold.iterrows()
                 if r["uprn"] is not None
                 and r["difficulty"] not in ("consensus_rescue",
                                             "unmatchable")}
    doc_ids = {r["doc_id"] for r in
               docs.limit(40).select("doc_id").collect()}
    covered = {r["doc_id"] for r in got.select("doc_id").distinct().collect()}
    missing = (doc_ids & matchable) - covered
    assert not missing, f"stream candidates missed {missing}"
    assert n_docs_with_cand > 0


@pytest.mark.parametrize("cfg", [CFG, replace(CFG, auto_tune=True)],
                         ids=["default", "auto_tune"])
def test_phased_matches_monolithic_parity(spark, tmp_path, corpus, cfg):
    """The phased runner and the monolithic run_pipeline must emit
    IDENTICAL doc->uprn assignments and audit decisions, with and
    without the threshold auto-tune (the phased p4 once decided with
    the configured thresholds whatever cfg.auto_tune said), including
    on exact score ties —
    round-4 fix: p5/p6's keep-best used max_by over (…, uprn) (max
    uprn wins ties) while the monolithic precedence window picks the
    MIN uprn; both now break ties toward the minimum uprn.

    The corpus is augmented with a HIERARCHICAL-ONLY matchable doc
    (round-5 fix: the phased runner's p3 omitted cand_hierarchical and
    this parity test never noticed, because no fixture doc needed the
    cascade). 'DHIER01' = '5 ZENNOR RISE': no postcode (defeats
    pc_sector blocking, comp_pc_house, postcode_block and hier l1), no
    locality (its phon_loc key 'SNR|' differs from the gazetteer's
    'SNR|ROPL', defeating the trigram block), tok_prefix
    'RISE_ZENNOR' vs gazetteer 'RISE_ROPLEY' (defeats the token
    block), and the gazetteer twin carries a locality so
    exact-canonical misses too — verified empirically: the union of
    all non-hier generators yields ZERO candidates for this address,
    while the J5 cascade matches it at street+house level (0.90)."""
    from ehdc_llpg_address_matching_spark.pipeline import run_pipeline
    from ehdc_llpg_address_matching_spark.synth import (DOCS_SPARK_SCHEMA,
                                                        GAZ_SPARK_SCHEMA)
    docs, gaz, _ = corpus
    if cfg.auto_tune:
        # no top-1 pair of the shared corpus scores between the tuned
        # and the default thresholds, so tuning decides nothing
        # differently there; G2-rescue street fragments do
        gaz, docs, _ = synth_spark_tables(
            spark, SynthConfig(seed=5, n_gazetteer=150, n_docs=200,
                               rescue_frac=0.15))
    hier_doc = [("DHIER01",
                 [{"kind": "text", "text": "5 ZENNOR RISE",
                   "media_ref": None, "offset": 0}],
                 None, None, None, "APP/HIER/00001")]
    hier_gaz = [("999000001", "5 ZENNOR RISE ROPLEY GU99 9ZZ", "5",
                 "ZENNOR RISE", "ROPLEY", "GU99 9ZZ", None, "RD",
                 "1", True, None, None, None)]
    docs = docs.unionByName(spark.createDataFrame(hier_doc,
                                                  DOCS_SPARK_SCHEMA))
    gaz = gaz.unionByName(spark.createDataFrame(hier_gaz,
                                                GAZ_SPARK_SCHEMA))
    wh = Warehouse(spark, str(tmp_path / "wh_parity"))
    out_p = run_phased(spark, docs, gaz, wh, run_id="rp", cfg=cfg)
    out_m = run_pipeline(spark, docs, gaz, cfg)
    mp = {(r["doc_id"], r["uprn"])
          for r in out_p["matches"].select("doc_id", "uprn").collect()}
    mm = {(r["doc_id"], r["uprn"])
          for r in out_m["matches"].select("doc_id", "uprn").collect()}
    # the hierarchical-only doc must be matched by BOTH runners — a
    # phased runner without cand_hierarchical fails here, not just on
    # set equality
    assert ("DHIER01", "999000001") in mm
    assert ("DHIER01", "999000001") in mp
    assert mp == mm
    audit = lambda dec: {tuple(r) for r in dec.select(
        "addr_id", "uprn", "decision").collect()}
    assert audit(out_p["audit_candidates"]) == \
        audit(out_m["audit_candidates"])
    if cfg.auto_tune:
        # the tuned ladder must decide some pair differently, or this
        # case could not tell a runner that ignores auto_tune apart
        assert out_m["thresholds_used"].high != D.Thresholds().high
        assert audit(out_m["audit_candidates"]) != audit(D.decide(
            out_m["scored_pairs"], D.Thresholds(), cfg.top_k_audit))


def test_phased_resume_recomputes_phase_missing_a_table(spark, tmp_path,
                                                        corpus):
    """A warehouse committed by an OLDER engine version can carry a
    phase marker but fewer output tables than the current code declares
    (p4_scoring gained scored_pairs in round 5). Resume must recompute
    that phase instead of crashing on wh.load of the absent table
    (round-5 review finding: phase() trusted the marker alone)."""
    docs, gaz, gold = corpus
    wh = Warehouse(spark, str(tmp_path / "wh_oldver"))
    out1 = run_phased(spark, docs, gaz, wh, run_id="r1", cfg=CFG)
    n1 = out1["matches"].count()
    # simulate the old snapshot: p4 committed, scored_pairs never saved
    m = wh._manifest()
    del m["tables"]["scored_pairs"]
    m["phases"]["p4_scoring"]["tables"] = ["audit_candidates"]
    wh._save_manifest(m)
    assert wh.phase_done("p4_scoring") and not wh.exists("scored_pairs")
    out2 = run_phased(spark, docs, gaz, wh, run_id="r2", cfg=CFG)
    assert out2["matches"].count() == n1
    assert wh.exists("scored_pairs")  # recomputed and re-saved


def test_phased_honors_ivf_vector_mode(spark, tmp_path):
    """run_phased must route J9 through the SAME vector path as the
    monolithic pipeline (round-5 review finding: p3 ignored
    cfg.vector_mode and always broadcast — at the 10^8-row gazetteer
    IVF exists for, that collects the full embedding matrix to the
    driver). n_probe = n_cells makes IVF exact, so phased-IVF matches
    must equal monolithic-IVF matches, with vector candidates present."""
    from ehdc_llpg_address_matching_spark.pipeline import run_pipeline
    from ehdc_llpg_address_matching_spark.synth import (SynthConfig,
                                                        synth_tables)
    cfg = PipelineConfig(vector_mode="ivf", ivf_cells=8, ivf_probe=8,
                         enable_spatial=False, enable_symspell=False)
    sgaz, sdocs, _ = synth_tables(SynthConfig(seed=13, n_gazetteer=120,
                                              n_docs=150))
    d, g = spark.createDataFrame(sdocs), spark.createDataFrame(sgaz)
    wh = Warehouse(spark, str(tmp_path / "wh_ivf"))
    out_p = run_phased(spark, d, g, wh, run_id="ri", cfg=cfg)
    out_m = run_pipeline(spark, d, g, cfg)
    mp = {(r["doc_id"], r["uprn"])
          for r in out_p["matches"].select("doc_id", "uprn").collect()}
    mm = {(r["doc_id"], r["uprn"])
          for r in out_m["matches"].select("doc_id", "uprn").collect()}
    assert mp == mm
    methods = (out_p["candidates"]
               .select(F.explode("methods").alias("m"))
               .select("m").distinct().toPandas().m.tolist())
    assert "vector" in methods
