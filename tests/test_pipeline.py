"""End-to-end pipeline gate: pairwise F1 >= 0.99 on synthetic gold,
span invariant preserved, blocking/salting correctness."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.pipeline import PipelineConfig, run_pipeline
from ehdc_llpg_address_matching_spark.sources.documents import span_fingerprint
from ehdc_llpg_address_matching_spark.synth import SynthConfig, synth_tables


@pytest.fixture(scope="module")
def pipeline_out(spark):
    cfg = SynthConfig(seed=42, n_gazetteer=400, n_docs=600)
    gaz, docs, gold = synth_tables(cfg)
    out = run_pipeline(spark, spark.createDataFrame(docs),
                       spark.createDataFrame(gaz))
    return out, gold


def test_f1_gate(pipeline_out):
    out, gold = pipeline_out
    m = out["matches"].select("doc_id", "uprn").toPandas().set_index("doc_id")
    g = gold.set_index("doc_id")
    j = g.join(m, how="left", rsuffix="_pred")
    tp = int(((j.uprn_pred.notna()) & (j.uprn == j.uprn_pred)).sum())
    fp = int(((j.uprn_pred.notna()) & (j.uprn != j.uprn_pred)).sum())
    fn = int(((j.uprn.notna()) & (j.uprn_pred.isna())).sum())
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert prec >= 0.99, f"precision {prec:.4f} (tp={tp} fp={fp})"
    assert f1 >= 0.99, f"F1 {f1:.4f} (tp={tp} fp={fp} fn={fn})"


def test_span_invariant_end_to_end(pipeline_out):
    out, _ = pipeline_out
    res = out["result"]
    bad = (res.withColumn("fp2", span_fingerprint("spans"))
           .filter(F.col("fp2") != F.col("span_fp")).count())
    assert bad == 0


def test_result_covers_all_docs(pipeline_out):
    out, gold = pipeline_out
    assert out["result"].count() == len(gold)
    assert out["result"].select("doc_id").distinct().count() == len(gold)


def test_legacy_uprn_wins(pipeline_out):
    out, gold = pipeline_out
    legacy = (out["matches"].filter(F.col("method") == "legacy_uprn")
              .select("doc_id", "uprn").toPandas())
    if len(legacy):
        g = gold.set_index("doc_id")
        ok = (g.loc[legacy.doc_id, "uprn"].to_numpy() ==
              legacy.uprn.to_numpy()).all()
        assert ok


def test_metrics_table_shape(pipeline_out):
    out, _ = pipeline_out
    rows = {r["decision"] for r in out["metrics"].collect()}
    assert rows <= {"auto_accept", "accept", "review", "reject"}
    assert "auto_accept" in rows


def test_historic_uprn_creation(spark):
    """A valid legacy UPRN absent from the LLPG must spawn a historic
    gazetteer record and auto-accept the docs that carry it (reference
    cmd/bulk-historic-uprns, migrations/029 — its largest correction
    bucket)."""
    cfg = SynthConfig(seed=7, n_gazetteer=150, n_docs=250,
                      historic_frac=0.30)
    gaz, docs, gold = synth_tables(cfg)
    hist_gold = gold[gold.difficulty == "historic_uprn"]
    assert len(hist_gold) > 0, "synth produced no historic docs"
    out = run_pipeline(spark, spark.createDataFrame(docs),
                       spark.createDataFrame(gaz),
                       PipelineConfig(enable_vector=False))
    m = out["matches"].toPandas().set_index("doc_id")
    got = m.loc[hist_gold.doc_id]
    # every historic doc matched its absent-but-valid UPRN at conf 1.0
    assert (got.uprn.to_numpy() == hist_gold.set_index("doc_id")
            .uprn.to_numpy()).all()
    assert (got.method == "historic_uprn").all()
    assert (got.confidence == 1.0).all()
    # the created records are appendable gazetteer rows: one per
    # missing UPRN, flagged is_historic, disjoint from existing UPRNs
    hg = out["historic_gazetteer"].toPandas()
    assert set(hg.uprn) == set(hist_gold.uprn)
    assert hg.is_historic.all()
    assert hg.uprn.is_unique
    assert not set(hg.uprn) & set(gaz.uprn)
    assert hg.full_address.notna().all()


def test_attach_join_runs_once(spark, monkeypatch):
    """Round-2 re-executed the candidate attach join just to fetch
    d_core/g_core for the audit table; the strings now ride
    DECISION_COLS. Guard: attach_pair_attrs is constructed exactly
    once per pipeline run."""
    from ehdc_llpg_address_matching_spark.operators import scoring as S
    calls = []
    orig = S.attach_pair_attrs
    monkeypatch.setattr(S, "attach_pair_attrs",
                        lambda *a, **k: calls.append(1) or orig(*a, **k))
    cfg = SynthConfig(seed=5, n_gazetteer=80, n_docs=100)
    gaz, docs, _ = synth_tables(cfg)
    out = run_pipeline(spark, spark.createDataFrame(docs),
                       spark.createDataFrame(gaz),
                       PipelineConfig(enable_vector=False))
    out["audit_candidates"].count()
    assert len(calls) == 1
    # and the audit table still carries the canonical strings + lev
    assert {"d_core", "g_core", "lev"} <= set(out["audit_candidates"].columns)


def _persistent_rdds(spark):
    # compare with "-", not "==": the ContextCleaner may unpersist
    # RDDs of earlier tests' garbage-collected frames at any time
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_entries(spark):
    # CacheManager keeps its entries private; read the count reflectively
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_shared_inputs_are_checkpoint_leaves(pipeline_out):
    """The frames every generator reads are eager checkpoints: their
    analyzed plan is one LogicalRDD leaf, not the lineage behind it
    (a lazy cache() keeps the whole lineage in the plan)."""
    out, _ = pipeline_out
    for name in ("docs_normalized", "unique_addresses",
                 "gazetteer_prepared"):
        plan = out[name]._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LogicalRDD", name


def test_release_drops_every_pin(spark):
    """release() unpersists every checkpoint the run made, helpers'
    internal ones included, and the run adds no CacheManager entry."""
    cfg = SynthConfig(seed=5, n_gazetteer=80, n_docs=100)
    gaz, docs, _ = synth_tables(cfg)
    d, g = spark.createDataFrame(docs), spark.createDataFrame(gaz)
    rdds0, cached0 = _persistent_rdds(spark), _cache_entries(spark)
    out = run_pipeline(spark, d, g, PipelineConfig(auto_tune=True))
    assert out["matches"].count() > 0
    out["audit_candidates"].count()
    assert _persistent_rdds(spark) - rdds0
    out["release"]()
    assert not _persistent_rdds(spark) - rdds0
    assert _cache_entries(spark) == cached0


def test_release_keeps_caller_gazetteer(spark):
    """A gazp_prepared the caller passes in is the caller's to release:
    the run's release() leaves it pinned and readable."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        prepare_gazetteer
    from ehdc_llpg_address_matching_spark.session import checkpoint_rdds
    cfg = SynthConfig(seed=5, n_gazetteer=80, n_docs=100)
    gaz, docs, _ = synth_tables(cfg)
    d, g = spark.createDataFrame(docs), spark.createDataFrame(gaz)
    gazp = prepare_gazetteer(g).localCheckpoint(eager=True)
    n = gazp.count()
    pinned = _persistent_rdds(spark)
    out = run_pipeline(spark, d, g, PipelineConfig(enable_vector=False),
                       gazp_prepared=gazp)
    assert out["matches"].count() > 0
    out["release"]()
    after = _persistent_rdds(spark)
    assert not after - pinned
    assert {rdd.id() for rdd in checkpoint_rdds(gazp)} <= after
    assert gazp.count() == n


def test_phased_release_drops_every_pin(spark, tmp_path):
    """run_phased's release() unpersists every checkpoint the run made,
    inside the phases and of the shared read-backs, and its outputs
    (warehouse read-backs) still count afterwards."""
    from ehdc_llpg_address_matching_spark.plans.phases import run_phased
    from ehdc_llpg_address_matching_spark.sources.catalog import Warehouse
    cfg = SynthConfig(seed=5, n_gazetteer=80, n_docs=100)
    gaz, docs, _ = synth_tables(cfg)
    d, g = spark.createDataFrame(docs), spark.createDataFrame(gaz)
    rdds0, cached0 = _persistent_rdds(spark), _cache_entries(spark)
    out = run_phased(spark, d, g, Warehouse(spark, str(tmp_path / "wh")),
                     run_id="rel", cfg=PipelineConfig(auto_tune=True))
    n = out["matches"].count()
    assert n > 0
    assert _persistent_rdds(spark) - rdds0
    out["release"]()
    assert not _persistent_rdds(spark) - rdds0
    assert _cache_entries(spark) == cached0
    assert out["matches"].count() == n


def test_traced_hooks_fire_in_order(spark, monkeypatch):
    """perfbench/traced.py times run_pipeline by swapping the functions
    in its HOOKS on their modules. Every one must still be looked up
    there at call time, or its layer's span silently vanishes, and the
    layers must open in HOOKS order, or the spans stop tiling the run."""
    import importlib
    import importlib.util
    import os
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "traced.py")
    spec = importlib.util.spec_from_file_location("perfbench_traced", path)
    traced = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(traced)
    layer_of = {name: layer for _, name, layer, _ in traced.HOOKS}
    calls = []

    def counted(name, fn):
        def hook(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)
        return hook

    for mod, name, _, _ in traced.HOOKS:
        m = importlib.import_module(f"{traced.PACKAGE}.{mod}")
        monkeypatch.setattr(m, name, counted(name, getattr(m, name)))
    gaz, docs, _ = synth_tables(SynthConfig(seed=5, n_gazetteer=80,
                                            n_docs=100))
    assert "embedding" in gaz.columns  # so cand_vector runs
    out = run_pipeline(spark, spark.createDataFrame(docs),
                       spark.createDataFrame(gaz))
    assert out["matches"].count() > 0
    out["release"]()
    assert set(calls) == set(layer_of)

    def opened(layers):
        return [l for i, l in enumerate(layers) if i == 0 or l != layers[i - 1]]

    assert opened([layer_of[c] for c in calls]) == \
        opened([layer for _, _, layer, _ in traced.HOOKS])


def test_historic_uprn_length_gate(spark):
    """Digit fragments surviving clean_uprn_series (e.g. '3' from
    'FLAT 3' typed into the UPRN field) must NOT spawn historic
    records — only 6-12 digit UPRNs qualify."""
    from ehdc_llpg_address_matching_spark.operators.candidates import (
        historic_uprn_matches, historic_uprn_records)
    docs_n = spark.createDataFrame(pd.DataFrame([
        dict(doc_id="d1", raw_address="1 A ST", uprn_clean="3"),
        dict(doc_id="d2", raw_address="2 B ST", uprn_clean="12345"),
        dict(doc_id="d3", raw_address="3 C ST", uprn_clean="123456"),
        dict(doc_id="d4", raw_address="4 D ST",
             uprn_clean="1234567890123"),
        dict(doc_id="d5", raw_address="5 E ST", uprn_clean=None),
    ]))
    gazp = spark.createDataFrame(pd.DataFrame(
        [dict(uprn="999999999", source_type="original")]))
    recs = historic_uprn_records(docs_n, gazp).toPandas()
    assert set(recs.uprn) == {"123456"}
    m = historic_uprn_matches(docs_n, gazp).toPandas()
    assert set(m.doc_id) == {"d3"}


def test_historic_uprn_representative_address(spark):
    """One record per missing UPRN; the most common raw_address wins
    (the bulk tool's ORDER BY document_count DESC)."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        historic_uprn_records
    rows = [dict(doc_id=f"d{i}", raw_address="COMMON ADDR",
                 uprn_clean="555000111") for i in range(3)]
    rows.append(dict(doc_id="d9", raw_address="RARE ADDR",
                     uprn_clean="555000111"))
    docs_n = spark.createDataFrame(pd.DataFrame(rows))
    gazp = spark.createDataFrame(pd.DataFrame(
        [dict(uprn="999999999", source_type="original")]))
    recs = historic_uprn_records(docs_n, gazp).toPandas()
    assert len(recs) == 1
    assert recs.iloc[0].full_address == "COMMON ADDR"
    assert recs.iloc[0].n_source_docs == 4


def test_vector_mode_ivf_pipeline(spark):
    """The IVF vector path (no gazetteer broadcast — the 10^8-row
    deployment shape) is a drop-in for the broadcast GEMM: pipeline
    stays green and vector candidates appear. n_probe = n_cells makes
    IVF exact, so the accepted matches must equal broadcast mode's."""
    cfg = SynthConfig(seed=13, n_gazetteer=120, n_docs=150)
    gaz, docs, gold = synth_tables(cfg)
    d, g = spark.createDataFrame(docs), spark.createDataFrame(gaz)
    out_b = run_pipeline(spark, d, g, PipelineConfig(
        vector_mode="broadcast"))
    out_i = run_pipeline(spark, d, g, PipelineConfig(
        vector_mode="ivf", ivf_cells=8, ivf_probe=8))
    mb = out_b["matches"].select("doc_id", "uprn").toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    mi = out_i["matches"].select("doc_id", "uprn").toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert mb.equals(mi)
    methods = (out_i["candidates"]
               .select(F.explode("methods").alias("m"))
               .select("m").distinct().toPandas().m.tolist())
    assert "vector" in methods


def _prec_f1(out, gold):
    m = out["matches"].select("doc_id", "uprn").toPandas().set_index("doc_id")
    g = gold.set_index("doc_id")
    j = g.join(m, how="left", rsuffix="_pred")
    tp = int(((j.uprn_pred.notna()) & (j.uprn == j.uprn_pred)).sum())
    fp = int(((j.uprn_pred.notna()) & (j.uprn != j.uprn_pred)).sum())
    fn = int(((j.uprn.notna()) & (j.uprn_pred.isna())).sum())
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    return prec, 2 * prec * rec / max(prec + rec, 1e-9)


def test_spec_scorer_f1_gate(spark):
    """D2 spec-engine scorer (scorer.go:52-139 weights, embedding
    cosine as a 0.45 core term) with the reference's recommended tiers
    (types.go:49-57) must hold the same F1 gate as the production D1
    scorer — the config switch lets users A/B the two reference
    scorers."""
    from ehdc_llpg_address_matching_spark.operators.decision import \
        Thresholds
    cfg = SynthConfig(seed=42, n_gazetteer=300, n_docs=450)
    gaz, docs, gold = synth_tables(cfg)
    out = run_pipeline(
        spark, spark.createDataFrame(docs), spark.createDataFrame(gaz),
        PipelineConfig(scorer="spec",
                       thresholds=Thresholds.spec_tiers()))
    prec, f1 = _prec_f1(out, gold)
    assert prec >= 0.99, f"spec precision {prec:.4f}"
    assert f1 >= 0.99, f"spec F1 {f1:.4f}"


def test_auto_tune_thresholds_in_pipeline(spark):
    """PipelineConfig.auto_tune derives the accept threshold from
    legacy-UPRN pseudo-gold (reference threshold_tuner.go:246-271):
    the tuning sweep is emitted, the chosen threshold comes from the
    sweep grid, and quality holds."""
    from ehdc_llpg_address_matching_spark.operators.audit import \
        DEFAULT_SWEEP
    cfg = SynthConfig(seed=13, n_gazetteer=250, n_docs=400,
                      historic_frac=0.0)
    gaz, docs, gold = synth_tables(cfg)
    out = run_pipeline(
        spark, spark.createDataFrame(docs), spark.createDataFrame(gaz),
        PipelineConfig(auto_tune=True))
    sweep = out["tuning"].toPandas()
    assert len(sweep) == len(DEFAULT_SWEEP)
    assert out["thresholds_used"].high in DEFAULT_SWEEP
    prec, f1 = _prec_f1(out, gold)
    assert prec >= 0.99, f"tuned precision {prec:.4f}"
    assert f1 >= 0.99, f"tuned F1 {f1:.4f}"


def test_degenerate_docs_no_crash(spark):
    """input_hint robustness: the minimal (doc_id, spans) schema plus
    degenerate rows — null spans, empty span array, media-only spans,
    whitespace text — must flow through the WHOLE pipeline: raw_address
    degrades to '', uprn stays null, the span fingerprint still covers
    every row, and nothing crashes. An empty input produces an empty
    result with the same schema."""
    from ehdc_llpg_address_matching_spark.synth import (DOCS_SPARK_SCHEMA,
                                                        GAZ_SPARK_SCHEMA)
    minimal_schema = ("doc_id string, spans array<struct<kind:string,"
                      "text:string,media_ref:string,offset:int>>")
    gaz = spark.createDataFrame(
        [("100001", "1 ROSE LANE PETERSFIELD GU32 3AA", "1", "ROSE LANE",
          "PETERSFIELD", "GU32 3AA", None, "RD", "1", True, None, None,
          None)], GAZ_SPARK_SCHEMA)
    cfg = PipelineConfig(enable_vector=False, enable_spatial=False,
                         enable_symspell=False)

    docs = spark.createDataFrame(
        [("D_null", None),
         ("D_empty", []),
         ("D_media", [{"kind": "image", "text": None,
                       "media_ref": "img://1", "offset": 0}]),
         ("D_blank", [{"kind": "text", "text": "   ",
                       "media_ref": None, "offset": 0}]),
         ("D_ok", [{"kind": "text", "text": "1 ROSE LANE PETERSFIELD "
                    "GU32 3AA", "media_ref": None, "offset": 0}])],
        minimal_schema)
    out = run_pipeline(spark, docs, gaz, cfg)
    res = {r["doc_id"]: r for r in out["result"].collect()}
    assert set(res) == {"D_null", "D_empty", "D_media", "D_blank", "D_ok"}
    for d in ("D_null", "D_empty", "D_media", "D_blank"):
        assert res[d]["uprn"] is None, d
        assert (res[d]["raw_address"] or "").strip() == "", d
    assert res["D_ok"]["uprn"] == "100001"
    # the invariant column exists and is recomputable for every row,
    # including null/media-only spans
    bad = (out["result"]
           .withColumn("fp2", span_fingerprint("spans"))
           .filter(~F.col("fp2").eqNullSafe(F.col("span_fp"))).count())
    assert bad == 0

    empty = spark.createDataFrame([], minimal_schema)
    out_e = run_pipeline(spark, empty, gaz, cfg)
    assert out_e["result"].count() == 0
    assert out_e["matches"].count() == 0


def test_linkage_full_corpus_exercises_all_paths(spark):
    """Gate for the linkage_full oracle entry (__spark_entry__.LF_SYNTH):
    the corpus must keep EVERY flagship winner category contributing
    rows, or the end-to-end oracle silently stops covering the paths it
    claims to. Also pins the rescue_frac synth contract: a rescue group
    must reach the matcher whole-group-unmatched (no consensus overlap)."""
    from __spark_entry__ import LF_SYNTH

    cfg = SynthConfig(**LF_SYNTH)
    gaz, docs, gold = synth_tables(cfg)
    out = run_pipeline(spark, spark.createDataFrame(docs),
                       spark.createDataFrame(gaz),
                       PipelineConfig(enable_vector=False))
    m = out["matches"].toPandas()
    by_cat = {
        "legacy": (m.method == "legacy_uprn").sum(),
        "historic": (m.method == "historic_uprn").sum(),
        "exact": m.method.str.contains("exact_canonical").sum(),
        "rule": m.method.str.contains("rule_").sum(),
        "fuzzy": ((~m.method.str.contains("exact_canonical"))
                  & m.method.str.contains("blocked_fuzzy")).sum(),
        "consensus": (m.method == "cluster_consensus").sum(),
        "rescue": (m.method == "group_rescue").sum(),
    }
    missing = [k for k, v in by_cat.items() if v == 0]
    assert not missing, f"linkage_full corpus lost categories: {missing} ({by_cat})"
    # rescue groups are whole-group corrections: every member of a
    # rescued group carries the same uprn
    resc = m[m.method == "group_rescue"].merge(
        gold[["doc_id", "group_key"]], on="doc_id")
    assert (resc.groupby("group_key").uprn.nunique() == 1).all()
