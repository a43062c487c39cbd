"""Physical-plan invariants: the properties that keep the engine fast
at 100 TB, asserted so they can't silently regress."""

import re

import pytest
from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.operators import candidates as C
from ehdc_llpg_address_matching_spark.operators import decision as D
from ehdc_llpg_address_matching_spark.operators import scoring as S
from ehdc_llpg_address_matching_spark.operators.blocking import \
    with_blocking_keys
from ehdc_llpg_address_matching_spark.pipeline import normalize_documents
from ehdc_llpg_address_matching_spark.plans.inspect import (physical_plan,
                                                            plan_report)
from ehdc_llpg_address_matching_spark.synth import SynthConfig, synth_tables


@pytest.fixture(scope="module")
def prepared(spark, tmp_path_factory):
    gaz, docs, _ = synth_tables(SynthConfig(seed=2, n_gazetteer=120,
                                            n_docs=150))
    base = tmp_path_factory.mktemp("plans")
    gp = str(base / "gaz.parquet")
    spark.createDataFrame(gaz).write.parquet(gp)
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    gazp = C.prepare_gazetteer(spark.read.parquet(gp)).cache()
    docs_n = normalize_documents(spark.createDataFrame(docs), None).cache()
    uaddr = with_blocking_keys(C.prepare_unique_addresses(docs_n)).cache()
    # materialize so downstream plans read InMemoryTableScan instead of
    # replaying the normalization UDvoid lineage
    gazp.count(), docs_n.count(), uaddr.count()
    return gazp, docs_n, uaddr, gp


def test_legacy_uprn_join_is_broadcast(spark, prepared):
    gazp, docs_n, _, _ = prepared
    df = C.legacy_uprn_matches(docs_n, gazp)
    r = plan_report(df)
    assert r["broadcast_hash_joins"] >= 1
    assert r["nested_loop_joins"] == 0


def test_scoring_plan_single_arrow_eval(spark, prepared):
    gazp, _, uaddr, _ = prepared
    cands = C.union_candidates(C.cand_exact_canonical(uaddr, gazp))
    pairs = S.attach_pair_attrs(cands, uaddr, gazp)
    pairs = S.prefilter_pairs(S.with_column_features(pairs))
    scored = S.with_score(S.with_pair_features(pairs))
    decided = D.decide(D.keep_best_per_uprn(D.narrow_for_decision(scored)))
    p = physical_plan(decided)
    import re
    # the expensive pair-scoring Arrow UDF must be evaluated exactly once
    # (plan text also prints cached relations' stored plans, so count the
    # scoring UDF by name, not every ArrowEvalPython node)
    assert len(re.findall(r"ArrowEvalPython \[_feat", p)) == 1
    # keep-best is an aggregation (map-side combinable), not a window
    r = plan_report(decided)
    assert r["hash_aggregates"] >= 2  # partial + final
    assert r["nested_loop_joins"] == 0
    # decide's rank+margin share ONE window spec over addr_id
    assert len(re.findall(r"Window \[row_number", p)) == 1


def test_prefilter_evaluated_before_arrow_udf(spark, prepared):
    gazp, _, uaddr, _ = prepared
    cands = C.union_candidates(C.cand_exact_canonical(uaddr, gazp))
    pairs = S.prefilter_pairs(S.with_column_features(
        S.attach_pair_attrs(cands, uaddr, gazp)))
    scored = S.with_pair_features(pairs)
    p = physical_plan(scored)
    udf_pos = p.find("ArrowEvalPython")
    # the cheap JVM gate must appear BELOW (after in tree-string order)
    # the UDF node, i.e. closer to the scan
    filter_pos = p.find("array_intersect", udf_pos)
    assert udf_pos != -1 and filter_pos != -1, p[:500]


def test_parquet_pushdown_and_pruning(spark, prepared):
    *_, gp = prepared
    df = (spark.read.parquet(gp)
          .filter(F.col("status_code") == "1")
          .select("uprn", "postcode"))
    p = physical_plan(df)
    assert "PushedFilters: [IsNotNull(status_code), EqualTo(status_code,1)]" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(s.split(",")[0].split(":")[0] for s in [sch]) and
        "full_address" not in sch for sch in schemas), schemas


def test_blocked_candidates_no_cartesian(spark, prepared):
    gazp, _, uaddr, _ = prepared
    df = C.cand_blocked(uaddr, gazp)
    r = plan_report(df)
    assert r["nested_loop_joins"] == 0
    assert (r["sort_merge_joins"] + r["shuffled_hash_joins"]
            + r["broadcast_hash_joins"]) >= 1


def test_rescue_join_is_equi_not_nlj(spark, prepared):
    """G2 rescue must be a shuffle-bounded token equi-join: the round-1
    size(array_intersect)>=2 theta-join planned as a
    BroadcastNestedLoopJoin (groups x gazetteer pair evaluations)."""
    from ehdc_llpg_address_matching_spark.operators.rescue import \
        group_fuzzy_rescue
    gazp, docs_n, _, _ = prepared
    matched = docs_n.select("doc_id").limit(0)
    df = group_fuzzy_rescue(docs_n, matched, gazp)
    r = plan_report(df)
    assert r["nested_loop_joins"] == 0
    assert (r["sort_merge_joins"] + r["shuffled_hash_joins"]
            + r["broadcast_hash_joins"]) >= 1


def test_rule_and_hierarchical_no_cartesian(spark, prepared):
    """J7 rewrite join and the J5 cascade are all equi-joins."""
    gazp, _, uaddr, _ = prepared
    for df in (C.cand_rule_rewrite(uaddr, gazp),
               C.cand_hierarchical(uaddr, gazp),
               C.cand_component_joins(uaddr, gazp)):
        r = plan_report(df)
        assert r["nested_loop_joins"] == 0


def test_component_joins_one_keyed_join(spark, prepared):
    """J4/J8: the five component strategies are one equi-join on
    (kind, key), and building the frame runs no Spark job."""
    gazp, _, uaddr, _ = prepared
    sc = spark.sparkContext
    sc.setJobGroup("comp_build", "build cand_component_joins")
    try:
        df = C.cand_component_joins(uaddr, gazp)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("comp_build") == []
    r = plan_report(df)
    assert r["nested_loop_joins"] == 0
    assert (r["sort_merge_joins"] + r["shuffled_hash_joins"]
            + r["broadcast_hash_joins"]) == 1


def test_wholestage_codegen_covers_column_features(spark, prepared):
    gazp, _, uaddr, _ = prepared
    cands = C.union_candidates(C.cand_exact_canonical(uaddr, gazp))
    pairs = S.with_column_features(S.attach_pair_attrs(cands, uaddr, gazp))
    import re
    p = physical_plan(pairs)
    r = plan_report(pairs)
    assert r["wholestage_codegen"] >= 1
    # column features are pure JVM — no scoring UDF in this subplan
    assert not re.findall(r"ArrowEvalPython \[_feat", p)

def test_spatial_grid_join_no_cartesian(spark, prepared):
    """J6: the 100 m ST_DWithin must plan as a grid-cell equi-join
    (per-axis cell-range explode on the doc side), never a cartesian/NLJ."""
    gazp, _, uaddr, _ = prepared
    df = C.cand_spatial(uaddr, gazp)
    r = plan_report(df)
    assert r["nested_loop_joins"] == 0
    assert (r["sort_merge_joins"] + r["shuffled_hash_joins"]
            + r["broadcast_hash_joins"]) >= 1


def test_minhash_band_candidates_equi_join(spark):
    """Near-dup candidates come from a (band_idx, band_hash) equi-join,
    never an all-pairs comparison."""
    from ehdc_llpg_address_matching_spark.operators.dedup import \
        minhash_band_candidates
    texts = spark.range(60).select(
        F.col("id").cast("string").alias("doc_id"),
        F.expr("concat_ws(' ', transform(sequence(1, 30), "
               "i -> conv(pmod(xxhash64(id % 20, i), 1000), 10, 36)))")
        .alias("text"))
    r = plan_report(minhash_band_candidates(texts))
    assert r["nested_loop_joins"] == 0
    assert (r["sort_merge_joins"] + r["shuffled_hash_joins"]
            + r["broadcast_hash_joins"]) >= 1


def test_lsh_ann_dedupe_shuffles_ids_only(spark):
    """The bucket-collision dedupe must aggregate on (q_id, c_id) with
    no embedding payload in the grouping keys or output (round-4
    advice: vectors rode the distinct shuffle at dim x 8 bytes/row)."""
    import re
    from ehdc_llpg_address_matching_spark.operators.ann import lsh_topk
    vecs = spark.range(50).select(
        F.col("id").cast("string").alias("vec_id"),
        F.expr("transform(sequence(1, 16), "
               "i -> cast(pmod(xxhash64(id, i), 1000) as double)/1000.0)")
        .alias("embedding"))
    p = physical_plan(lsh_topk(vecs, vecs, k=3, dim=16))
    dedupes = re.findall(r"HashAggregate\(keys=\[([^\]]*)\], functions=\[\]",
                         p)
    assert dedupes, p[:500]
    for keys in dedupes:
        assert "q_id" in keys and "c_id" in keys
        assert "vec" not in keys and "embedding" not in keys
    r = plan_report(lsh_topk(vecs, vecs, k=3, dim=16))
    assert r["nested_loop_joins"] == 0


def test_plan_report_same_before_and_after_run(spark):
    """An executed adaptive plan prints its final plan and its initial
    plan; plan_report counts the final plan only, so running a frame
    does not double its counts. (Codegen spans are the one count that
    moves: AQE inserts them only when it plans the stages it runs.)"""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    left = spark.range(200).withColumn("v", plus_one("id"))
    right = spark.range(50).withColumnRenamed("id", "k")
    df = left.join(right, left.id == right.k)
    before = plan_report(df)
    assert before["broadcast_hash_joins"] == 1
    assert before["arrow_evals"] == 1
    assert len(df.collect()) == 50
    after = plan_report(df)
    assert before.pop("wholestage_codegen") == 0
    assert after.pop("wholestage_codegen") > 0
    assert after == before
