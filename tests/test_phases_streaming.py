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
    read_document_stream, start_incremental_linkage)
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
    # each batch releases its run's checkpoints after its write, and
    # the gazetteer prepared at stream start is released when the query
    # terminates: nothing stays pinned, however many batches ran
    _assert_no_pin_growth(spark, pinned)
    # exactly-once-ish: rerunning with the same checkpoint adds nothing
    q2 = start_incremental_linkage(read_document_stream(spark, src),
                                   gaz, out, chk, cfg=CFG)
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == res.count()
    _assert_no_pin_growth(spark, pinned)


def _assert_no_pin_growth(spark, pinned, wait_s=30.0):
    """No persisted RDD beyond ``pinned`` remains. The query's release
    runs on the listener bus after awaitTermination returns, so wait
    for it up to ``wait_s``. "-", not "==": the ContextCleaner may drop
    unrelated RDDs meanwhile."""
    def grown():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) \
            - pinned
    deadline = time.monotonic() + wait_s
    while grown() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not grown(), grown()


def test_streaming_keeps_side_channel_columns(spark, tmp_path, corpus):
    """Streamed documents keep raw_uprn, easting, northing and
    group_key: on a corpus that carries them, one micro-batch of
    start_incremental_linkage emits the (doc_id, uprn, method) rows of
    run_pipeline with the same config, legacy-UPRN matches included."""
    from ehdc_llpg_address_matching_spark.pipeline import run_pipeline
    docs, gaz, _ = corpus
    src, out = str(tmp_path / "side_in"), str(tmp_path / "side_out")
    docs.coalesce(1).write.parquet(src)
    q = start_incremental_linkage(read_document_stream(spark, src), gaz,
                                  out, str(tmp_path / "side_chk"), cfg=CFG)
    q.awaitTermination(180)
    streamed = spark.read.parquet(out)
    assert streamed.select("batch_id").distinct().count() == 1
    batch = run_pipeline(spark, spark.read.parquet(src), gaz, CFG)

    def rows(df):
        return {tuple(r) for r in
                df.select("doc_id", "uprn", "method").collect()}

    want = rows(batch["matches"])
    batch["release"]()
    assert rows(streamed) == want
    assert any(m == "legacy_uprn" for _, _, m in want)


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
    from ehdc_llpg_address_matching_spark.session import Pins
    from ehdc_llpg_address_matching_spark.streaming.ingest import \
        stream_static_candidates

    docs, gaz, gold = corpus
    src = str(tmp_path / "stream_src")
    docs.limit(40).write.parquet(src)
    pins = Pins(gaz)
    gazp = pins.checkpoint(prepare_gazetteer(gaz))
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
    pins.release()
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


def test_stream_static_candidates_normalize_once(spark, tmp_path, corpus):
    """The fused normalization UDF runs once per document: one
    ArrowEvalPython in stream_static_candidates' plan, over a batch
    parquet frame and in a real micro-batch's last execution. (A
    blocking-key explode that lets Catalyst push size(block_keys) > 0
    below the normalized projections clones the UDF into that filter.)
    On the index route the micro-batch is one job: no exchange of any
    kind, so no broadcast relation is rebuilt per batch."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        prepare_gazetteer
    from ehdc_llpg_address_matching_spark.plans.inspect import (
        final_plan, physical_plan)
    from ehdc_llpg_address_matching_spark.session import Pins
    from ehdc_llpg_address_matching_spark.streaming.ingest import \
        stream_static_candidates

    docs, gaz, _ = corpus
    src = str(tmp_path / "once_src")
    docs.limit(40).write.parquet(src)
    pins = Pins(gaz)
    gazp = pins.checkpoint(prepare_gazetteer(gaz))
    batch = stream_static_candidates(spark.read.parquet(src), gazp)
    assert physical_plan(batch).count("ArrowEvalPython") == 1
    q = (stream_static_candidates(read_document_stream(spark, src), gazp)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "once_out"))
         .option("checkpointLocation", str(tmp_path / "once_chk"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    plan = final_plan(q._jsq.streamingQuery().lastExecution().executedPlan())
    pins.release()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("Exchange") == 0  # no BroadcastExchange, no shuffle
    assert "MapInPandas" in plan


_CAND_COLS = ["doc_id", "addr_can", "postcode", "uprn", "block_kind"]


def _sorted_rows(df):
    return (df.toPandas().sort_values(_CAND_COLS, ignore_index=True)
            [_CAND_COLS])


def _drain(frame, tmp_path, name):
    """Run a streaming candidate frame to its end into a parquet sink;
    returns (the query, the sink's rows sorted)."""
    out = str(tmp_path / name)
    q = (frame.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / f"{name}_chk"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    return q, _sorted_rows(frame.sparkSession.read.parquet(out))


def test_stream_static_candidates_routes_agree(spark, tmp_path, corpus,
                                               request):
    """The index route (the gazetteer's key index collected once and
    probed per micro-batch) and the stream-static join route
    (autoBroadcastJoinThreshold -1) give the same rows, names and
    types: over a batch parquet frame, and through a real 2-file
    availableNow stream, one file per micro-batch."""
    import pandas as pd

    from ehdc_llpg_address_matching_spark.operators.candidates import \
        prepare_gazetteer
    from ehdc_llpg_address_matching_spark.plans.inspect import physical_plan
    from ehdc_llpg_address_matching_spark.session import Pins
    from ehdc_llpg_address_matching_spark.streaming.ingest import \
        stream_static_candidates

    docs, gaz, _ = corpus
    src = str(tmp_path / "routes_src")
    docs.limit(60).repartition(2).write.parquet(src)
    assert len([n for n in os.listdir(src) if n.endswith(".parquet")]) == 2
    pins = Pins(gaz)
    gazp = pins.checkpoint(prepare_gazetteer(gaz))

    def run(route):
        batch = stream_static_candidates(spark.read.parquet(src), gazp)
        assert route in physical_plan(batch)
        q, streamed = _drain(stream_static_candidates(
            read_document_stream(spark, src, max_files_per_trigger=1),
            gazp), tmp_path, route)
        assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
        return batch.schema, _sorted_rows(batch), streamed

    index = run("MapInPandas")
    request.getfixturevalue("broadcast_off")
    join = run("SortMergeJoin")
    pins.release()
    assert len(index[1]) > 0
    assert [(f.name, f.dataType) for f in index[0]] == \
        [(f.name, f.dataType) for f in join[0]]
    for got in (index[1], index[2], join[2]):
        pd.testing.assert_frame_equal(got, join[1])


@pytest.mark.parametrize("route", ["index", "join"])
def test_stream_static_candidates_keyless_batch(spark, tmp_path, corpus,
                                                request, route):
    """A micro-batch whose documents derive no blocking key (null,
    empty, media-only and blank spans) gives no candidate row."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        prepare_gazetteer
    from ehdc_llpg_address_matching_spark.session import Pins
    from ehdc_llpg_address_matching_spark.sources.documents import \
        DOCUMENTS_SCHEMA
    from ehdc_llpg_address_matching_spark.streaming.ingest import \
        stream_static_candidates

    if route == "join":
        request.getfixturevalue("broadcast_off")
    _, gaz, _ = corpus
    src = str(tmp_path / "keyless_src")

    def span(kind, text, ref):
        return [{"kind": kind, "text": text, "media_ref": ref, "offset": 0}]

    spark.createDataFrame(
        [("K_null", None, None, None, None, None),
         ("K_empty", [], None, None, None, None),
         ("K_media", span("image", None, "img://1"), None, None, None, None),
         ("K_blank", span("text", "   ", None), None, None, None, None)],
        DOCUMENTS_SCHEMA).coalesce(1).write.parquet(src)
    pins = Pins(gaz)
    gazp = pins.checkpoint(prepare_gazetteer(gaz))
    q, rows = _drain(stream_static_candidates(
        read_document_stream(spark, src), gazp), tmp_path, "keyless")
    pins.release()
    assert sum(p["numInputRows"] for p in q.recentProgress) == 4
    assert len(rows) == 0


def test_key_index_never_matches_null_key(spark):
    """KeyIndex.probe pairs exactly what an inner join on (block_kind,
    block_key) pairs: pandas.merge would pair a null key with a null
    key, the join never does, on either side."""
    import pandas as pd

    from ehdc_llpg_address_matching_spark.streaming.ingest import KeyIndex

    index = pd.DataFrame({
        "uprn": ["u1", "u2", "u3", "u4", "u5"],
        "block_kind": ["pc_sector", "pc_sector", "phon_loc", None,
                       "pc_sector"],
        "block_key": ["GU1 1", None, "GU1 1", "GU1 1", "GU1 1"]})
    keys = pd.DataFrame({
        "doc_id": ["d1", "d2", "d3", "d4"],
        "block_kind": ["pc_sector", "pc_sector", None, "phon_loc"],
        "block_key": ["GU1 1", None, "GU1 1", None]})
    row, uprns = KeyIndex(index).probe(keys)
    got = sorted((keys["doc_id"][r], u) for r, us in zip(row, uprns)
                 for u in us)
    assert got == [("d1", "u1"), ("d1", "u5")]
    g = spark.createDataFrame(index, "uprn string, block_kind string, "
                                     "block_key string")
    d = spark.createDataFrame(keys, "doc_id string, block_kind string, "
                                    "block_key string")
    joined = d.join(g, ["block_kind", "block_key"]).select("doc_id", "uprn")
    assert sorted(map(tuple, joined.collect())) == got


@pytest.mark.parametrize(
    "cfg,ivf",
    [(CFG, False), (replace(CFG, auto_tune=True), False),
     (PipelineConfig(), False),
     (replace(CFG, scorer="spec", thresholds=D.Thresholds.spec_tiers()),
      False),
     (replace(CFG, enable_vector=True), True)],
    ids=["default", "auto_tune", "all_generators", "spec", "ivf"])
def test_phased_matches_monolithic_parity(spark, tmp_path, request,
                                          corpus, cfg, ivf):
    """The phased runner and the monolithic run_pipeline must emit
    IDENTICAL doc->uprn assignments and audit decisions, with and
    without the threshold auto-tune (the phased p4 once decided with
    the configured thresholds whatever cfg.auto_tune said), with
    SymSpell and the spatial and vector generators on, under the spec
    scorer, with the vector generator on its IVF route (broadcast off,
    every cell probed, so IVF is exact) and on exact score ties —
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
    exact-canonical misses too — verified empirically: with the vector
    generator off, the union of all non-hier generators yields ZERO
    candidates for this address, while the J5 cascade matches it at
    street+house level (0.90)."""
    import pandas as pd

    from ehdc_llpg_address_matching_spark.functions.embed import \
        hash_embed_batch
    from ehdc_llpg_address_matching_spark.pipeline import run_pipeline
    from ehdc_llpg_address_matching_spark.synth import (DOCS_SPARK_SCHEMA,
                                                        EMBED_DIM_DEFAULT,
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
    # the vector generator needs an embedding on every gazetteer row
    emb = [float(x) for x in hash_embed_batch(
        pd.Series(["5 ZENNOR RISE ROPLEY GU99 9ZZ"]), EMBED_DIM_DEFAULT)[0]]
    hier_gaz = [("999000001", "5 ZENNOR RISE ROPLEY GU99 9ZZ", "5",
                 "ZENNOR RISE", "ROPLEY", "GU99 9ZZ", None, "RD",
                 "1", True, None, None, emb)]
    docs = docs.unionByName(spark.createDataFrame(hier_doc,
                                                  DOCS_SPARK_SCHEMA))
    gaz = gaz.unionByName(spark.createDataFrame(hier_gaz,
                                                GAZ_SPARK_SCHEMA))
    wh = Warehouse(spark, str(tmp_path / "wh_parity"))
    ivf_calls = request.getfixturevalue("ivf_route") if ivf else []
    out_p = run_phased(spark, docs, gaz, wh, run_id="rp", cfg=cfg)
    out_m = run_pipeline(spark, docs, gaz, cfg)
    # both runners call the one vector generator, so both take IVF
    assert len(ivf_calls) == (2 if ivf else 0)
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
            out_m["scored_pairs"], D.Thresholds()))
    if ivf:
        methods = (out_p["candidates"]
                   .select(F.explode("methods").alias("m"))
                   .select("m").distinct().toPandas().m.tolist())
        assert "vector" in methods


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
