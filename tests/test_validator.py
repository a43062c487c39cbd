"""Conservative-validator decision cases (FIXTURES.md §5, ported from
reference internal/validation/validator_test.go:8-254): the house-number
exact-match-mandatory rule and street abbreviation acceptance, exercised
through the real scoring+decision operators on 1-pair DataFrames."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.functions.phonetic import phonetic_series
from ehdc_llpg_address_matching_spark.functions.similarity import \
    trigram_grams_expr
from ehdc_llpg_address_matching_spark.operators import decision as D
from ehdc_llpg_address_matching_spark.operators import scoring as S


def _decide_pair(spark, d_house, g_house, d_street, g_street,
                 locality="ALTON", pc="GU34 1AA"):
    """Run one candidate pair through features+score+decision, in
    pipeline order."""
    d_core = f"{d_house} {d_street} {locality}".strip()
    g_core = f"{g_house} {g_street} {locality}".strip()
    d_phon, g_phon = phonetic_series(pd.Series(
        [d_street.split()[0], g_street.split()[0]])).tolist()
    row = {
        "addr_id": "a1", "uprn": "u1", "methods": ["blocked_fuzzy"],
        "d_core": d_core, "g_core": g_core,
        "d_pc": pc, "g_pc": pc,
        "d_tokens": d_core.split(), "g_tokens": g_core.split(),
        "d_house_numbers": [d_house] if d_house else [],
        "g_house_numbers": [g_house] if g_house else [],
        "d_house": d_house, "g_house": g_house,
        "d_street": d_street, "g_street": g_street,
        "d_locality": locality, "g_locality": locality,
        "d_phon": d_phon, "g_phon": g_phon,
        "d_vague": False, "d_e": None, "d_n": None,
        "g_e": None, "g_n": None,
        "g_status": "1", "g_source_type": "original",
    }
    schema = ("addr_id string, uprn string, methods array<string>, "
              "d_core string, g_core string, d_pc string, g_pc string, "
              "d_tokens array<string>, g_tokens array<string>, "
              "d_house_numbers array<string>, g_house_numbers array<string>, "
              "d_house string, g_house string, d_street string, "
              "g_street string, d_locality string, g_locality string, "
              "d_phon string, g_phon string, d_vague boolean, "
              "d_e double, d_n double, g_e double, g_n double, "
              "g_status string, g_source_type string")
    df = spark.createDataFrame([row], schema)
    # the per-side gram arrays attach_pair_attrs adds in the pipeline
    for grams, src in (("d_grams", "d_core"), ("g_grams", "g_core"),
                       ("d_street_grams", "d_street"),
                       ("g_street_grams", "g_street")):
        df = df.withColumn(grams, trigram_grams_expr(F.col(src)))
    df = S.with_column_features(df)
    df = S.with_pair_features(df)
    df = S.with_score(df)
    df = D.decide(D.keep_best_per_uprn(df))
    return df.select("score", "decision", "house_conflict",
                     "validator_ok").collect()[0]


def test_same_house_accepts(spark):
    r = _decide_pair(spark, "168", "168", "STATION ROAD", "STATION ROAD")
    assert r["decision"] in ("auto_accept", "accept")


def test_different_house_rejects(spark):
    # validator_test.go:28-34 — 168 != 147 MUST reject
    r = _decide_pair(spark, "168", "147", "STATION ROAD", "STATION ROAD")
    assert r["house_conflict"]
    assert r["decision"] == "reject"


def test_unit_number_mismatch_rejects(spark):
    # validator_test.go:36-41 — UNIT 10 != UNIT 7
    r = _decide_pair(spark, "UNIT 10", "UNIT 7",
                     "AMEY INDUSTRIAL ESTATE", "AMEY INDUSTRIAL ESTATE")
    assert r["decision"] == "reject"


def test_unit_punctuation_variation_accepts(spark):
    # validator_test.go:43-49 — 'UNIT 2' == 'UNIT, 2'
    r = _decide_pair(spark, "UNIT 2", "UNIT, 2",
                     "AMEY INDUSTRIAL ESTATE", "AMEY INDUSTRIAL ESTATE")
    assert not r["house_conflict"]
    assert r["decision"] in ("auto_accept", "accept")


def test_proximate_house_number_rejects(spark):
    # validator_test.go:76-82 — 168 vs 169 must NOT match
    r = _decide_pair(spark, "168", "169", "STATION ROAD", "STATION ROAD")
    assert r["decision"] == "reject"


def test_street_mismatch_rejects(spark):
    r = _decide_pair(spark, "12", "12", "STATION ROAD", "HIGH STREET")
    assert r["decision"] == "reject"


def test_alpha_suffix_conflict_rejects(spark):
    r = _decide_pair(spark, "12A", "12B", "HIGH STREET", "HIGH STREET")
    assert r["house_conflict"]
    assert r["decision"] == "reject"


def test_decide_backfills_missing_house_conflict_as_false(spark):
    """decide() on pairs that never computed house features: the
    rule-confidence rung must still fire (absence of house info is not
    a house conflict). With a NULL backfill, ~NULL is NULL and the
    rung silently never accepted (round-5 review finding)."""
    from ehdc_llpg_address_matching_spark.operators.decision import decide
    pairs = spark.createDataFrame(
        [("a1", "U1", 0.75, ["rule_court"], 0.90, True, False,
          False, False, False),
         ("a1", "U2", 0.55, ["trigram"], None, True, False,
          False, False, False)],
        "addr_id string, uprn string, score double, methods array<string>, "
        "method_conf double, validator_ok boolean, d_vague boolean, "
        "house_match boolean, house_exact boolean, pc_match boolean")
    out = {r["uprn"]: r["decision"] for r in decide(pairs).collect()}
    assert out["U1"] == "accept"
