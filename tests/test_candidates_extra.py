"""Round-2 operator tests: J7 full rule matcher, J5 hierarchical
cascade, J4 strategies (c)/(d), F4 token-frequency cosine, F11 meta
flags, N7 locality fallback."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.functions.normalize import _parse_one
from ehdc_llpg_address_matching_spark.functions.similarity import (
    token_cosine_batch, trigram_sim_batch)
from ehdc_llpg_address_matching_spark.operators import candidates as C
from ehdc_llpg_address_matching_spark.pipeline import normalize_documents


def _gaz(spark, rows):
    """rows: list of full_address strings -> prepared gazetteer."""
    pdf = pd.DataFrame({
        "uprn": [str(100 + i) for i in range(len(rows))],
        "full_address": rows,
        "usrn": [str(20000 + i) for i in range(len(rows))],
        "blpu_class": ["RD02"] * len(rows),
        "status_code": ["1"] * len(rows),
        "easting": [470000.0 + i for i in range(len(rows))],
        "northing": [120000.0 + i for i in range(len(rows))],
    })
    return C.prepare_gazetteer(spark.createDataFrame(pdf)).cache()


def _uaddr(spark, raws):
    pdf = pd.DataFrame({
        "doc_id": [f"T{i}" for i in range(len(raws))],
        "spans": [[{"kind": "text", "text": r, "media_ref": None,
                    "offset": 0}] for r in raws],
    })
    docs = spark.createDataFrame(
        pdf, schema="doc_id string, spans array<struct<kind:string,"
                    "text:string,media_ref:string,offset:int>>")
    dn = normalize_documents(docs, None)
    from ehdc_llpg_address_matching_spark.operators.blocking import \
        with_blocking_keys
    return with_blocking_keys(C.prepare_unique_addresses(dn)).cache()


# ------------------------------------------------------------------ J7

def test_rule_rewrite_former_site(spark):
    gaz = _gaz(spark, ["ROSE COTTAGE, HIGH ROAD, ALTON, GU34 1AA"])
    ua = _uaddr(spark, ["FORMER SITE OF ROSE COTTAGE, HIGH ROAD, ALTON"])
    out = C.cand_rule_rewrite(ua, gaz).collect()
    assert len(out) >= 1
    r = out[0]
    assert r["method"] == "rule_former_site_prefix"
    # base 0.75, sim >= 0.90 on the clean rewrite -> +0.10
    assert r["method_conf"] == pytest.approx(0.85)


def test_rule_first_match_wins(spark):
    gaz = _gaz(spark, ["12 HIGH ROAD, ALTON, GU34 1AA"])
    # matches former_site (id 5) before land_at (id 6)
    ua = _uaddr(spark, ["FORMER SITE OF LAND AT 12 HIGH ROAD, ALTON"])
    out = C.cand_rule_rewrite(ua, gaz, min_sim=0.3).collect()
    assert out and all(r["method"] == "rule_former_site_prefix" for r in out)


def test_rule_lucky_lite(spark):
    gaz = _gaz(spark,
               ["LUCKYLITE FARM, CATHERINGTON LANE, HORNDEAN, PO8 1AA"])
    ua = _uaddr(spark, ["LUCKY LITE FARM BARN 2, HORNDEAN"])
    out = C.cand_rule_rewrite(ua, gaz).collect()
    assert out and out[0]["method"] == "rule_lucky_lite_farm"
    assert out[0]["method_conf"] >= 0.95


# ------------------------------------------------------------------ J5

def test_hierarchical_stop_at_first(spark):
    gaz = _gaz(spark, [
        "12 CHURCH LANE, ALTON, GU34 1AA",
        "14 CHURCH LANE, ALTON, GU34 1AB",
    ])
    ua = _uaddr(spark, [
        "12 CHURCH LANE, ALTON, GU34 1AA",   # level 1: pc + house
        "SOMEWHERE UNPARSEABLE, ALTON",      # level 5: locality only
    ])
    out = C.cand_hierarchical(ua, gaz).toPandas()
    ids = ua.select("addr_id", "addr_can").toPandas()
    m = out.merge(ids, on="addr_id")
    lvl1 = m[m.addr_can.str.startswith("12 CHURCH")]
    assert set(lvl1.method) == {"hier_postcode_house"}
    assert (lvl1.method_conf == 0.95).all()
    # stop-at-first: the pc+house doc must NOT also carry lower levels
    assert len(lvl1) == 1
    lvl5 = m[~m.addr_can.str.startswith("12 CHURCH")]
    assert set(lvl5.method) == {"hier_locality_only"}
    assert (lvl5.method_conf == 0.70).all()
    assert len(lvl5) == 2  # both ALTON gazetteer rows


def test_hierarchical_street_house(spark):
    gaz = _gaz(spark, ["7 GREEN LANE, LISS, GU33 7AB"])
    ua = _uaddr(spark, ["7 GREEN LANE, LISS"])  # no postcode -> level 2
    out = C.cand_hierarchical(ua, gaz).collect()
    assert out and out[0]["method"] == "hier_street_house_locality"
    assert out[0]["method_conf"] == pytest.approx(0.90)


def test_hierarchical_builds_without_jobs_or_pins(spark):
    """Building the cascade plans one keyed join: it runs no Spark job
    and leaves no checkpoint beyond its inputs' for a caller to
    release."""
    from ehdc_llpg_address_matching_spark.session import checkpoint_rdds
    gaz = _gaz(spark, ["7 GREEN LANE, LISS, GU33 7AB"])
    ua = _uaddr(spark, ["7 GREEN LANE, LISS"])
    sc = spark.sparkContext
    sc.setJobGroup("hier_build", "build cand_hierarchical")
    try:
        out = C.cand_hierarchical(ua, gaz)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("hier_build") == []
    inputs = {r.id() for df in (ua, gaz) for r in checkpoint_rdds(df)}
    assert {r.id() for r in checkpoint_rdds(out)} <= inputs


# ------------------------------------------------------------- J4 c/d

def test_fuzzy_road_with_house(spark):
    gaz = _gaz(spark, ["9 GREEN LANES EAST, ALTON, GU34 2AA"])
    ua = _uaddr(spark, ["9 GREEN LANE EAST, ALTON"])
    out = C.cand_component_joins(ua, gaz).toPandas()
    assert "comp_fuzzy_road" in set(out.method)


def test_fuzzy_road_requires_house_equality(spark):
    gaz = _gaz(spark, ["11 GREEN LANES EAST, ALTON, GU34 2AA"])
    ua = _uaddr(spark, ["9 GREEN LANE EAST, ALTON"])
    out = C.cand_component_joins(ua, gaz).toPandas()
    assert "comp_fuzzy_road" not in set(out.method)


def test_business_name_match(spark):
    gaz = _gaz(spark, ["ROSE COTTAGE, HIGH ROAD, ALTON, GU34 1AA"])
    ua = _uaddr(spark, ["ROSE COTTAGES, ALTON"])  # name-led, small typo
    out = C.cand_component_joins(ua, gaz).toPandas()
    assert "business_name" in set(out.method)


# ------------------------------------------------------------- F4/F11

def test_token_cosine_semantics():
    a = pd.Series([["HIGH", "ROAD"], ["HIGH", "HIGH", "ROAD"], [], [],
                   ["A", "B"]])
    b = pd.Series([["HIGH", "ROAD"], ["HIGH", "ROAD"], [], ["X"],
                   ["C", "D"]])
    out = token_cosine_batch(a, b)
    assert out[0] == pytest.approx(1.0)
    # repeated token changes the tf vector: (2,1)·(1,1)/(sqrt5*sqrt2)
    assert out[1] == pytest.approx(3 / (np.sqrt(5) * np.sqrt(2)))
    assert out[2] == pytest.approx(1.0)   # both empty
    assert out[3] == pytest.approx(0.0)   # one empty
    assert out[4] == pytest.approx(0.0)   # disjoint


def test_meta_flags_usrn_blpu(spark):
    from ehdc_llpg_address_matching_spark.operators.scoring import (
        attach_pair_attrs, with_column_features)
    gaz = _gaz(spark, ["12 CHURCH LANE, ALTON, GU34 1AA"])
    ua = _uaddr(spark, ["12 CHURCH LANE, ALTON, GU34 1AA"]) \
        .withColumn("usrn", F.lit("20000"))
    cands = C.union_candidates(C.cand_exact_canonical(ua, gaz))
    pairs = with_column_features(attach_pair_attrs(cands, ua, gaz))
    row = pairs.select("usrn_match", "blpu_class_compat").collect()[0]
    assert row["usrn_match"] is True      # both sides usrn 20000
    assert row["blpu_class_compat"] is True  # RD02 residential


# ------------------------------------------------------------------ N7

def test_locality_fallback_multiword():
    house, street, loc, name = _parse_one("2 HIGH STREET FOUR MARKS")
    assert house == "2"
    assert street == "HIGH STREET"
    assert loc == "FOUR MARKS"


def test_locality_fallback_single():
    _, street, loc, _ = _parse_one("14 MILL LANE PETERSFIELD")
    assert loc == "PETERSFIELD"
    assert street == "MILL LANE"


def test_name_led_parse():
    house, street, loc, name = _parse_one("ROSE COTTAGE, ALTON")
    assert name == "ROSE COTTAGE"
    assert loc == "ALTON"


# ------------------------------------------------- decision integration

def test_method_conf_accept_rung(spark):
    """A high-confidence rule/cascade match accepts even when the
    fuzzy score alone would only reach review."""
    from ehdc_llpg_address_matching_spark.operators.decision import (
        Thresholds, decide)
    pdf = pd.DataFrame([
        # rank-1 row: mediocre fuzzy score, strong method_conf
        dict(addr_id="a", uprn="1", methods=["rule_lucky_lite_farm"],
             score=0.72, validator_ok=False, d_vague=False,
             house_match=False, house_exact=False, house_conflict=False,
             pc_match=False, g_source_type="original", method_conf=0.95),
        dict(addr_id="a", uprn="2", methods=["blocked_fuzzy"],
             score=0.40, validator_ok=False, d_vague=False,
             house_match=False, house_exact=False, house_conflict=False,
             pc_match=False, g_source_type="original", method_conf=None),
    ])
    out = decide(spark.createDataFrame(pdf), Thresholds()).toPandas()
    top = out[out["rank"] == 1].iloc[0]
    assert top["decision"] == "accept"
    assert top["confidence"] == pytest.approx(0.95)


# ------------------------------------------------- hot-token df cap

def _toy_gaz(spark, n=30):
    rows = [dict(uprn=str(100 + i),
                 addr_core=f"NAME{i} HOUSE{i} STREET",
                 tokens=[f"NAME{i}", f"HOUSE{i}", "STREET"])
            for i in range(n)]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_gaz_hot_tokens_cap(spark):
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        gaz_hot_tokens
    hot = {r["tok"] for r in gaz_hot_tokens(_toy_gaz(spark), 5).collect()}
    assert hot == {"STREET"}
    assert gaz_hot_tokens(_toy_gaz(spark), 10000).count() == 0


def _hot_token_case(spark, which, **kw):
    """The rule matcher or the group rescue over _toy_gaz (STREET is
    in every row, so hot at cap 5) for two queries: a1 shares two rare
    tokens and STREET with uprn 103, a2 shares only STREET."""
    from ehdc_llpg_address_matching_spark.operators.rescue import \
        group_fuzzy_rescue
    gaz = _toy_gaz(spark)
    if which == "rule":
        docs = spark.createDataFrame(pd.DataFrame([
            dict(addr_id="a1", addr_can="LAND AT NAME3 HOUSE3 STREET"),
            dict(addr_id="a2", addr_can="FORMER SITE OF UNKNOWN STREET"),
        ]))
        return C.cand_rule_rewrite(docs, gaz, **kw)
    docs = spark.createDataFrame(pd.DataFrame([
        dict(doc_id="a1", group_key="G1", addr_core="NAME3 HOUSE3 STREET",
             tokens=["NAME3", "HOUSE3", "STREET"]),
        dict(doc_id="a2", group_key="G2", addr_core="UNKNOWN STREET",
             tokens=["UNKNOWN", "STREET"]),
    ]))
    return group_fuzzy_rescue(docs, docs.select("doc_id").limit(0), gaz,
                              **kw)


@pytest.mark.parametrize("which", ["rule", "rescue"])
def test_rule_rewrite_hot_token_capped_same_output(spark, which):
    """Every gazetteer row shares the hot suffix token; dropping it
    from the join key must not change the rule matcher's or the group
    rescue's output (pairs still connect through >=2 rare tokens)
    while bounding the join."""
    capped = _hot_token_case(spark, which, token_df_cap=5).toPandas()
    uncapped = _hot_token_case(spark, which, token_df_cap=10**9).toPandas()
    assert sorted(map(tuple, capped.values.tolist())) == \
        sorted(map(tuple, uncapped.values.tolist()))
    ids = capped.iloc[:, 0]
    assert set(capped[ids == "a1"].uprn) == {"103"}
    assert (ids != "a2").all()


@pytest.mark.parametrize("which", ["rule", "rescue"])
def test_rule_rewrite_plan_has_hot_token_anti_join(spark, which):
    """The hot-token drop must be a broadcast anti-join (map-side
    filter) applied to BOTH explode sides before the token equi-join."""
    plan = _hot_token_case(spark, which)._jdf \
        .queryExecution().executedPlan().toString()
    assert len(re.findall(r"\[tok#\d+\], \[tok#\d+\], LeftAnti", plan)) >= 2


def test_rescue_best_below_min_sim_emits_nothing(spark):
    """The rescue keeps sim >= min_sim before its top-1 window: a group
    whose best candidate is below min_sim gets no row (G2), while a
    group whose best clears it is rescued (G1)."""
    from ehdc_llpg_address_matching_spark.operators.rescue import \
        group_fuzzy_rescue
    gaz = _toy_gaz(spark)
    docs = spark.createDataFrame(pd.DataFrame([
        dict(doc_id="d1", group_key="G1", addr_core="NAME3 HOUSE3 STREET",
             tokens=["NAME3", "HOUSE3", "STREET"]),
        dict(doc_id="d2", group_key="G2",
             addr_core="NAME4 HOUSE4 QUAYSIDE WHARF BUILDINGS",
             tokens=["NAME4", "HOUSE4", "QUAYSIDE", "WHARF", "BUILDINGS"]),
    ]))
    best = {r["group_key"]: r["sim"] for r in C.rare_token_trigram_join(
        docs.select("group_key", "addr_core", "tokens"), gaz, "group_key",
        "addr_core", "tokens", min_sim=0.0, top_k=1,
        token_df_cap=10**9).collect()}
    assert best["G1"] == 1.0 and 0.0 < best["G2"] < 0.5
    out = group_fuzzy_rescue(docs, docs.select("doc_id").limit(0), gaz,
                             min_sim=0.5).toPandas()
    assert list(zip(out.doc_id, out.uprn)) == [("d1", "103")]


# ------------------------------------------------------------------ J9

_VEC_DIM = 64
_VEC_GAZ = ["10 HIGH STREET ALTON", "12 HIGH STREET ALTON",
            "14 HIGH STREET ALTON", "3 MILL LANE ALTON",
            "5 MILL LANE ALTON", "7 CHURCH ROAD ROPLEY",
            "9 CHURCH ROAD ROPLEY", "1 THE GREEN ROPLEY",
            "2 STATION ROAD ALTON", "4 STATION ROAD ALTON",
            "FLAT 1 12 HIGH STREET ALTON", "HILL FARM ROPLEY"]
_VEC_QUERIES = ["10 HIGH STREET ALTON", "12 HIGH ST ALTON",
                "5 MILL LANE", "CHURCH ROAD ROPLEY 7",
                "2 STATION RD ALTON", "HILL FARM"]


def _vec_frames(spark, gaz_rows):
    """(uaddr, gazp) carrying only the columns cand_vector reads.
    gaz_rows: (uprn, address) in matrix order; the addresses are one
    partition so the engine's GEMM has the reference's shape."""
    from ehdc_llpg_address_matching_spark.functions.embed import \
        hash_embed_batch
    emb = hash_embed_batch(pd.Series([a for _, a in gaz_rows]), _VEC_DIM)
    gazp = spark.createDataFrame(
        [(u, "original", [float(x) for x in e])
         for (u, _), e in zip(gaz_rows, emb)],
        "uprn string, source_type string, embedding array<float>")
    uaddr = spark.createDataFrame(
        [(f"a{i}", q) for i, q in enumerate(_VEC_QUERIES)],
        "addr_id string, addr_core string").coalesce(1)
    return uaddr, gazp


def _vec_pairs(df):
    return {(r["addr_id"], r["uprn"]): r["vec_sim"] for r in df.collect()}


def test_vector_broadcast_vec_sim_is_the_gemm(spark):
    """The broadcast route's vec_sim is bit-identical to one float32
    GEMM of the hash-embedded addresses against the row-normalized
    gazetteer matrix, and it keeps exactly the pairs at or above the
    keep-gate when top_k covers the gazetteer."""
    from ehdc_llpg_address_matching_spark.functions.embed import \
        hash_embed_batch
    rows = [(str(100 + i), a) for i, a in enumerate(_VEC_GAZ)]
    uaddr, gazp = _vec_frames(spark, rows)
    got = _vec_pairs(C.cand_vector(uaddr, gazp, top_k=len(rows)))
    mat = hash_embed_batch(pd.Series(_VEC_GAZ), _VEC_DIM)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                           1e-12)
    sims = hash_embed_batch(pd.Series(_VEC_QUERIES), _VEC_DIM) @ mat.T
    want = {(f"a{i}", u): (float(sims[i, j]) + 1.0) / 2.0
            for i in range(len(_VEC_QUERIES))
            for j, (u, _) in enumerate(rows)
            if sims[i, j] >= 2 * C.VECTOR_MIN_SIM - 1}
    assert got == want
    assert len(want) > len(_VEC_QUERIES)


def test_vector_ties_break_by_uprn(spark):
    """Two UPRNs with one address tie at the k-th cosine: the one with
    the smaller uprn is kept whatever the gazetteer's row order."""
    rows = [("300", "10 HIGH STREET ALTON"),
            ("200", "12 HIGH STREET ALTON"),
            ("100", "12 HIGH STREET ALTON")] + \
        [(str(400 + i), a) for i, a in enumerate(_VEC_GAZ[3:])]
    got = []
    for order in (rows, rows[::-1]):
        uaddr, gazp = _vec_frames(spark, order)
        got.append(set(_vec_pairs(
            C.cand_vector(uaddr.filter(F.col("addr_id") == "a0"), gazp,
                          top_k=2))))
    assert got[0] == got[1] == {("a0", "300"), ("a0", "100")}


@pytest.mark.parametrize("cap_rows,collected",
                         [(12, 12), (11, 12), (3, 4), (None, None)],
                         ids=["fits", "one_row_over", "small", "off"])
def test_vector_route_from_size(spark, monkeypatch, request, cap_rows,
                                collected):
    """cand_vector broadcasts iff the gazetteer's float32 matrix fits
    under autoBroadcastJoinThreshold, and collects at most cap + 1 rows
    to find out. The exact IVF route gives the broadcast route's pairs."""
    from ehdc_llpg_address_matching_spark.operators import ann
    rows = [(str(100 + i), a) for i, a in enumerate(_VEC_GAZ)]
    uaddr, gazp = _vec_frames(spark, rows)
    want = _vec_pairs(C.cand_vector(uaddr, gazp, top_k=3))
    ivf_calls = request.getfixturevalue("ivf_route")
    seen, collect_matrix = [], ann._collect_matrix

    def collect(*a):
        ids, mat = collect_matrix(*a)
        seen.append(len(ids))
        return ids, mat

    monkeypatch.setattr(ann, "_collect_matrix", collect)
    if cap_rows:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(cap_rows * _VEC_DIM * 4))
    got = _vec_pairs(C.cand_vector(uaddr, gazp, top_k=3))
    assert seen == ([collected] if collected else [])
    assert len(ivf_calls) == (0 if cap_rows == len(rows) else 1)
    assert got.keys() == want.keys()
    assert all(abs(got[p] - want[p]) < 1e-6 for p in want)
