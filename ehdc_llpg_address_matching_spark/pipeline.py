"""End-to-end linkage pipeline (SURVEY.md §3.2's lifecycle, Spark-shaped):

documents -> span extraction -> canonicalize -> components -> SymSpell
-> phonetic -> dedup to unique addresses (J11) -> candidate union
(exact ∪ blocked ∪ spatial ∪ rules ∪ vector) -> pair features (Arrow)
-> weighted score -> conservative validation -> tiered decision ->
fan-out to documents ∪ legacy-UPRN direct matches -> connected
components -> cluster consensus -> matches / audit / metrics.

The DAG is written once, as one function per phase:

  normalize_and_dedup   -> docs_normalized, unique_addresses
  generate_candidates   -> candidates
  score_and_decide      -> scored_pairs, audit_candidates
  fan_out               -> doc_matches, historic_gazetteer
  cluster_and_resolve   -> matches, clusters, metrics

Each takes its materialized inputs, the PipelineConfig and the run's
session.Pins, and returns its outputs by name. ``run_pipeline`` calls
them in order inside one run, its shared frames eager localCheckpoints;
``plans.phases.run_phased`` calls the same functions and commits each
phase's outputs to a Warehouse (Iceberg snapshot / parquet manifest)
for resume — the Spark analog of the reference's layer snapshots
(cmd/matcher-v2/main.go:3389-3421).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .functions.normalize import with_normalized
from .functions.symspell import SymSpell, build_dictionary_from_gazetteer
from .operators import candidates as C
from .operators import decision as D
from .operators import scoring as S
from .operators.blocking import with_blocking_keys
from .operators.cluster import (build_edges, canonical_uprn_per_cluster,
                                cluster_consensus, connected_components)
from .session import Pins, spread_for_udf
from .sources.documents import span_fingerprint, with_raw_address


@dataclass
class PipelineConfig:
    thresholds: D.Thresholds = field(default_factory=D.Thresholds)
    # 'fuzzy': production D1 weights (fuzzy.go). 'spec': D2 spec-engine
    # weights (scorer.go:52-139, embedding cosine as a 0.45 core term)
    # — pair with Thresholds.spec_tiers() for the reference's
    # recommended tiers. Both share the D3/D4 validator tail.
    scorer: str = "fuzzy"
    # derive the accept threshold from deterministic pseudo-gold before
    # deciding (reference threshold tuner,
    # internal/engine/threshold_tuner.go:37-271)
    auto_tune: bool = False
    vector_top_k: int = 10
    enable_vector: bool = True
    enable_spatial: bool = True
    enable_symspell: bool = True
    # G3 LLM golden-record corrections run iff an llm_fn is injected
    # (operators/golden.py); no model client is bundled, so the phase
    # is OFF by default — the reference hard-disables it in production
    # ("LLM corrections degrade data quality",
    # cmd/matcher-v2/main.go:1651-1656).
    llm_fn: object = None


def normalize_documents(docs: DataFrame, symspell: SymSpell | None) -> DataFrame:
    """Phase 1: derive raw_address from spans, canonicalize, parse,
    correct spellings, phonetic-encode. Adds span_fp for the
    span-sequence invariant check."""
    d = spread_for_udf(docs)
    for col in ("raw_uprn", "easting", "northing", "group_key"):
        if col not in d.columns:
            d = d.withColumn(col, F.lit(None).cast(
                "double" if col in ("easting", "northing") else "string"))
    d = with_raw_address(d)
    d = d.withColumn("span_fp", span_fingerprint())
    # fused single-ArrowEvalPython normalization (canonicalize + parse
    # + UPRN clean + SymSpell correction + phonetic), guide §4.1/§4.2
    return with_normalized(d, raw_col="raw_address", uprn_col="raw_uprn",
                           symspell=symspell)


# The phase functions below look every operator up at call time (module
# attributes, this module's globals, the rescue import inside
# cluster_and_resolve), so a caller that swaps one on its module for
# the duration of a run, like the traced benchmark job, sees its calls.

def normalize_and_dedup(docs: DataFrame, gazp: DataFrame,
                        cfg: PipelineConfig, pins: Pins) -> dict:
    """Document normalization (+ SymSpell vs the gazetteer vocabulary),
    then dedup to unique addresses (J11) with blocking keys."""
    sym = build_dictionary_from_gazetteer(gazp, addr_col="addr_core") \
        if cfg.enable_symspell else None
    docs_n = pins.checkpoint(normalize_documents(docs, sym))
    uaddr = C.prepare_unique_addresses(docs_n)
    return {"docs_normalized": docs_n,
            "unique_addresses": pins.checkpoint(with_blocking_keys(uaddr))}


def generate_candidates(uaddr: DataFrame, gazp: DataFrame,
                        cfg: PipelineConfig, pins: Pins) -> dict:
    """The candidate union over every enabled generator."""
    gens = [
        C.cand_exact_canonical(uaddr, gazp),
        C.cand_blocked(uaddr, gazp),
        C.cand_rule_rewrite(uaddr, gazp),
        C.cand_component_joins(uaddr, gazp),
    ]
    if cfg.enable_spatial:
        gens.append(C.cand_spatial(uaddr, gazp))
    if cfg.enable_vector and "embedding" in gazp.columns:
        gens.append(C.cand_vector(uaddr, gazp, top_k=cfg.vector_top_k))
    # J5 hierarchical cascade last: a doc matchable ONLY via the
    # phonetic/locality levels (no postcode, trigram-block-defeating
    # typo) has no other generator
    gens.append(C.cand_hierarchical(uaddr, gazp))
    # the union of 7 generators (each a join tree over uaddr/gazp) is a
    # large logical plan; the checkpoint materializes the (small)
    # candidate set so scoring and the audit consumers plan against one
    # leaf, the same cut the warehouse snapshot makes between phases at
    # scale (plans/phases.py)
    return {"candidates": pins.checkpoint(C.union_candidates(*gens))}


def score_and_decide(cands: DataFrame, docs_n: DataFrame, uaddr: DataFrame,
                     gazp: DataFrame, cfg: PipelineConfig,
                     pins: Pins) -> dict:
    """Pair scoring, keep-best per (addr, uprn), the optional threshold
    auto-tune, then the tiered decision. ``decisions`` is the narrow
    decision table; ``audit_candidates`` layers the audit-only
    Levenshtein over it."""
    # pair scoring (cheap column features -> JVM prefilter -> Arrow
    # string-sim UDF -> weighted score). The checkpointed candidate set
    # materializes AQE-coalesced (17 partitions at the bench corpus), so
    # the expensive fused prefilter+Arrow stage ran 17 tasks on 32
    # cores; spread_for_udf re-spreads it to the session parallelism
    # (no-op whenever the candidate set already has >= cluster-cores
    # partitions, i.e. at real scale). The exposed "candidates" output
    # stays the un-spread checkpoint.
    pairs = S.attach_pair_attrs(spread_for_udf(cands), uaddr, gazp)
    pairs = S.with_column_features(pairs)
    pairs = S.prefilter_pairs(pairs)
    pairs = S.with_pair_features(pairs)
    pairs = S.with_score(pairs, scorer=cfg.scorer)

    # decision on NARROW columns (the wide pair payload must not ride
    # through the two window shuffles). d_core/g_core ride along in
    # DECISION_COLS so the audit-only Levenshtein needs no second
    # attach join (round-2 re-executed the uaddr x gazp join just to
    # fetch the strings).
    best = D.keep_best_per_uprn(D.narrow_for_decision(pairs))
    thresholds = cfg.thresholds
    out = {}
    if cfg.auto_tune:
        # A5/§5.4 tuner in the loop (reference threshold_tuner.go:
        # 246-271): legacy-UPRN-validated docs are trusted pseudo-gold;
        # sweep the accept threshold over the scored top-1 candidates
        # and adopt the best-F1 threshold meeting the precision floor.
        # `best` is checkpointed first so the probe decision pass and
        # the real one share the materialized scored pairs instead of
        # re-running candidate generation + the Arrow UDF twice.
        from .operators.audit import tune_thresholds
        best = pins.checkpoint(best)
        gold = (C.legacy_uprn_matches(docs_n, gazp)
                .join(docs_n.select("doc_id", "addr_can", "postcode"),
                      "doc_id")
                .select(F.sha2(F.concat_ws("|", "addr_can", "postcode"),
                               256).alias("addr_id"), "uprn")
                .distinct())
        probe = D.decide(best, thresholds, top_k=1)
        tuned = tune_thresholds(probe, gold)
        tau = tuned["best"]["threshold"]
        # clamp the WHOLE ladder so the band order stays
        # high >= medium >= review >= minimum after adoption: decide()
        # rejects score < minimum first, so a tau below the default
        # floor (DEFAULT_SWEEP reaches 0.50) would otherwise be
        # silently floored and thresholds_used would misreport the
        # actual accept behavior (round-4 advice)
        medium = min(tau, thresholds.medium)
        thresholds = D.Thresholds(
            high=tau, medium=medium,
            review=min(thresholds.review, medium),
            minimum=min(thresholds.minimum, tau),
            winner_margin=thresholds.winner_margin)
        out["tuning"] = best.sparkSession.createDataFrame(
            [(float(o["threshold"]), int(o["tp"]), int(o["fp"]),
              int(o["fn"]), float(o["precision"]), float(o["recall"]),
              float(o["f1"])) for o in tuned["sweep"]],
            "threshold double, tp long, fp long, fn long, "
            "precision double, recall double, f1 double")
        out["thresholds_used"] = thresholds
    decided_narrow = pins.checkpoint(D.decide(best, thresholds))
    # audit-only Levenshtein (F3) stays LAZY, layered over the
    # checkpointed decision table: the matches path never reads `lev`,
    # and computing the batch DP eagerly inside the checkpoint cost ~5 s
    # per run at the bench corpus (round-6 noop profile) for a column
    # only the audit consumers materialize. Consumers of
    # audit_candidates get identical values — the DP now just runs when
    # the audit frame is actually used (guide §1.2: don't compute what
    # the action doesn't need).
    return {**out,
            # scored keep-best pairs (post keep_best_per_uprn,
            # pre-decide): the decision's exact input, exposed so
            # audits / the linkage_fuzzy oracle can replay decide() from
            # persisted data, and a resumed phased run can re-decide
            # without re-scoring
            "scored_pairs": best,
            "decisions": decided_narrow,
            "audit_candidates": S.with_audit_levenshtein(decided_narrow)}


def fan_out(decided: DataFrame, docs_n: DataFrame, uaddr: DataFrame,
            gazp: DataFrame, pins: Pins) -> dict:
    """Accepted address matches fanned out to documents, legacy/historic
    UPRN overrides, and deterministic-first precedence: one row per
    matched doc."""
    acc = D.accepted(decided)
    addr_match = acc.select("addr_id", "uprn", "score", "confidence",
                            F.array_join("methods", "+").alias("method"))
    doc_addr = docs_n.join(
        uaddr.select("addr_can", "postcode", "addr_id"),
        ["addr_can", "postcode"], "left")
    fuzzy_doc = (doc_addr
                 .join(addr_match, "addr_id", "inner")
                 .select("doc_id", "uprn", "method", "score", "confidence"))
    legacy = C.legacy_uprn_matches(docs_n, gazp) \
        .withColumn("confidence", F.lit(1.0))
    # historic-UPRN creation: valid legacy UPRNs ABSENT from the LLPG
    # spawn historic gazetteer records and auto-accept (the reference's
    # largest correction bucket — cmd/bulk-historic-uprns). Disjoint
    # from `legacy` by construction (in-gaz vs not-in-gaz). The
    # missing-UPRN set is materialized ONCE and feeds both the match
    # path and the appendable historic_gazetteer output — the
    # gazetteer-UPRN distinct + anti-join (the expensive part at 10^8
    # gazetteer rows) must not re-execute per consumer.
    missing = pins.checkpoint(C.missing_legacy_uprns(docs_n, gazp))
    historic = C.historic_uprn_matches(docs_n, gazp, missing=missing) \
        .withColumn("confidence", F.lit(1.0))
    # legacy/historic win where both exist (reference precedence:
    # ADDRESS_MATCHING_PROCESS.md:66-72 — deterministic beats fuzzy).
    # Explicit priority column, NOT confidence ordering: a perfect
    # fuzzy match also reaches confidence 1.0 and would then beat the
    # UPRN-validated match on the uprn tie-break.
    both = (legacy.withColumn("_prio", F.lit(0))
            .unionByName(historic.withColumn("_prio", F.lit(0)))
            .unionByName(fuzzy_doc.withColumn("_prio", F.lit(1))))
    wd = Window.partitionBy("doc_id").orderBy(
        F.asc("_prio"), F.desc("confidence"), F.desc("score"),
        F.asc("uprn"))
    return {
        # feeds CC + consensus + rescue + output
        "doc_matches": pins.checkpoint(
            both.withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1).drop("_rn", "_prio")),
        # appendable historic gazetteer rows (migrations/029 analog):
        # at scale this is the Iceberg append that pre-populates missing
        # UPRNs before the next run, per cmd/bulk-historic-uprns
        "historic_gazetteer": C.historic_uprn_records(docs_n, gazp,
                                                      missing=missing),
    }


def cluster_and_resolve(doc_matches: DataFrame, decided: DataFrame,
                        docs_n: DataFrame, gazp: DataFrame,
                        cfg: PipelineConfig, pins: Pins) -> dict:
    """Connected components, consensus corrections, G2 rescue and the
    optional G3 golden-record corrections, then one match per doc;
    plus the canonical UPRN per cluster and the decision metrics (A1)."""
    edges = build_edges(doc_matches, docs_n)
    comps = pins.adopt(connected_components(edges))
    consensus = cluster_consensus(comps, doc_matches, docs_n)
    from .operators.rescue import group_fuzzy_rescue
    rescue = group_fuzzy_rescue(docs_n, doc_matches, gazp)
    matches = doc_matches.unionByName(
        consensus.withColumn("score", F.col("confidence")),
        allowMissingColumns=True).unionByName(
        rescue.withColumn("score", F.col("confidence")),
        allowMissingColumns=True)
    if cfg.llm_fn is not None:
        # G3 (reference applyGroupLLMMatching, main.go:1992-2213; the
        # phase the reference ships hard-disabled). Docs already
        # corrected by consensus/rescue are excluded — the reference's
        # address_match_corrected anti-join — so graph corrections
        # keep precedence over the LLM's verdicts.
        from .operators.golden import llm_golden_record_corrections
        llm_corr = (llm_golden_record_corrections(
                        doc_matches, docs_n, gazp, llm_fn=cfg.llm_fn)
                    .join(consensus.select("doc_id"), "doc_id",
                          "left_anti")
                    .join(rescue.select("doc_id"), "doc_id", "left_anti"))
        matches = matches.unionByName(
            llm_corr.withColumn("score", F.col("confidence")),
            allowMissingColumns=True)
    # consensus/rescue only touch previously-unmatched docs, but keep a
    # deterministic one-row-per-doc guarantee regardless
    # min_by with negated confidence/score: ties break toward the MIN
    # uprn, matching fan_out's precedence window.
    # confidence/score coalesced to 0.0 inside the ordering struct —
    # struct NULLs sort smallest, so a NULL-scored row from an
    # allowMissingColumns union would otherwise win keep-best.
    matches = (matches
               .groupBy("doc_id")
               .agg(F.min_by(
                   F.struct("uprn", "method", "score", "confidence"),
                   F.struct((-F.coalesce("confidence",
                                         F.lit(0.0))).alias("_c"),
                            (-F.coalesce("score", F.lit(0.0))).alias("_s"),
                            F.col("uprn").alias("_u"))).alias("_m"))
               .select("doc_id", "_m.*"))
    return {
        "matches": matches,
        "clusters": canonical_uprn_per_cluster(comps, doc_matches),
        "metrics": (decided.groupBy("decision")
                    .agg(F.count("*").alias("n"),
                         F.avg("score").alias("avg_score"))),
        "consensus": consensus,
        "components": comps,
    }


def run_pipeline(spark: SparkSession, docs: DataFrame, gaz: DataFrame,
                 cfg: PipelineConfig | None = None,
                 gazp_prepared: DataFrame | None = None) -> dict:
    """gazp_prepared: an already-prepared (prepare_gazetteer) frame —
    callers that run the pipeline repeatedly over the same gazetteer
    (streaming foreachBatch, threshold sweeps) prepare + persist it
    ONCE and pass it here instead of paying normalization + range
    expansion per run.

    Every frame shared by several consumers is an eager localCheckpoint,
    so later phases plan against a LogicalRDD leaf instead of
    re-analyzing the lineage behind it. Those checkpoints stay pinned
    until the caller invokes the returned ``release()``, which
    unpersists every one the run made; a caller's ``gazp_prepared``
    stays pinned. The returned frames read from that storage, so none
    of them may be used after ``release()``."""
    cfg = cfg or PipelineConfig()
    pins = Pins(docs, gaz, gazp_prepared)
    if gazp_prepared is not None:
        gazp = gazp_prepared
    else:
        gazp = pins.checkpoint(C.prepare_gazetteer(gaz))
    out = {"gazetteer_prepared": gazp,
           **normalize_and_dedup(docs, gazp, cfg, pins)}
    docs_n, uaddr = out["docs_normalized"], out["unique_addresses"]
    out.update(generate_candidates(uaddr, gazp, cfg, pins))
    out.update(score_and_decide(out["candidates"], docs_n, uaddr, gazp,
                                cfg, pins))
    decided = out.pop("decisions")
    out.update(fan_out(decided, docs_n, uaddr, gazp, pins))
    out.update(cluster_and_resolve(out["doc_matches"], decided, docs_n,
                                   gazp, cfg, pins))
    # final matched docs with spans preserved (invariant)
    out["result"] = (docs_n
                     .select("doc_id", "spans", "span_fp", "raw_address",
                             "addr_can", "postcode", "group_key")
                     .join(out["matches"], "doc_id", "left"))
    out["release"] = pins.release
    return out
