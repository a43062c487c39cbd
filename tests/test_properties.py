"""Property-based invariants (hypothesis) + warehouse upsert."""

import math
import re

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ehdc_llpg_address_matching_spark.functions.normalize import (
    canonicalize_series, extract_postcode)
from ehdc_llpg_address_matching_spark.functions.phonetic import phonetic_series
from ehdc_llpg_address_matching_spark.functions.similarity import (
    jaro_sim_batch, levenshtein_sim_batch, trigram_sim_batch)

addr_text = st.text(
    alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 ,.&-'",
    max_size=80)


@given(st.lists(addr_text, min_size=1, max_size=20))
@settings(max_examples=30, deadline=None)
def test_canonicalize_idempotent(raws):
    s = pd.Series(raws)
    once = canonicalize_series(s)
    twice = canonicalize_series(once["addr_can"])
    assert (twice["addr_can"] == once["addr_can"]).all()
    # canonical form never contains a postcode or double spaces
    assert (extract_postcode(once["addr_can"]) == "").all()
    assert (~once["addr_can"].str.contains("  ", regex=False)).all()


@given(st.lists(addr_text, min_size=1, max_size=20))
@settings(max_examples=30, deadline=None)
def test_similarity_bounds_and_identity(raws):
    s = pd.Series([r.upper() for r in raws])
    for fn in (trigram_sim_batch, jaro_sim_batch, levenshtein_sim_batch):
        self_sim = fn(s, s)
        assert ((self_sim >= 0) & (self_sim <= 1)).all()
        nonempty = s.str.strip().str.len() > 0
        assert (self_sim[list(nonempty)] == 1.0).all() or fn is trigram_sim_batch
        # trigram of a string against itself is 1 unless no grams
        if fn is trigram_sim_batch:
            has_word = s.str.contains(r"\S")
            assert (self_sim[list(has_word)] == 1.0).all()


@given(st.lists(st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ", max_size=15),
                min_size=1, max_size=20))
@settings(max_examples=30, deadline=None)
def test_phonetic_deterministic_and_bounded(words):
    s = pd.Series(words)
    a = phonetic_series(s)
    b = phonetic_series(s)
    assert (a == b).all()
    assert (a.str.len() <= 6).all()


def test_warehouse_upsert(spark, tmp_path):
    from ehdc_llpg_address_matching_spark.sources.catalog import Warehouse
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df1 = spark.createDataFrame(
        [("d1", "U1", 0.8), ("d2", "U2", 0.9)],
        "doc_id string, uprn string, confidence double")
    wh.upsert(df1, "matches", ["doc_id"])
    df2 = spark.createDataFrame(
        [("d2", "U9", 0.95), ("d3", "U3", 0.7)],
        "doc_id string, uprn string, confidence double")
    wh.upsert(df2, "matches", ["doc_id"])
    out = {r["doc_id"]: (r["uprn"], r["confidence"])
           for r in wh.load("matches").collect()}
    assert out == {"d1": ("U1", 0.8), "d2": ("U9", 0.95), "d3": ("U3", 0.7)}


@given(st.lists(st.lists(st.text(alphabet="ABCDE", min_size=1, max_size=4),
                         max_size=8), min_size=1, max_size=15))
@settings(max_examples=30, deadline=None)
def test_token_cosine_bounds_and_identity(token_lists):
    from ehdc_llpg_address_matching_spark.functions.similarity import \
        token_cosine_batch
    a = pd.Series(token_lists)
    out = token_cosine_batch(a, a)
    assert ((out >= 0.0) & (out <= 1.0 + 1e-9)).all()
    # self-cosine is exactly 1 (also for the both-empty convention)
    assert (abs(out - 1.0) < 1e-9).all()
    # symmetry against a shifted copy
    b = pd.Series(token_lists[1:] + token_lists[:1])
    ab = token_cosine_batch(a, b)
    ba = token_cosine_batch(b, a)
    assert (abs(ab - ba) < 1e-9).all()


def _union_find_components(edges):
    """Reference labeling: each node of a non-self edge -> the minimum
    node id of its component (a node seen only in self-edges has no
    edge, so no label)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# each path is a chain of edges; a one-node path is a self-edge, and
# repeated or reversed steps give duplicate edges
_paths = st.lists(st.lists(st.integers(0, 30).map(lambda i: f"n{i}"),
                           min_size=1, max_size=8),
                  min_size=1, max_size=8)


@given(_paths)
@settings(max_examples=12, deadline=None)
def test_connected_components_match_union_find(spark, paths):
    from ehdc_llpg_address_matching_spark.operators.cluster import \
        connected_components
    edges = [e for p in paths
             for e in (zip(p, p[1:]) if len(p) > 1 else [(p[0], p[0])])]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == _union_find_components(edges)


def _nudge(x, ulps):
    """x moved by |ulps| representable doubles, up or down."""
    for _ in range(abs(ulps)):
        x = math.nextafter(x, math.inf if ulps > 0 else -math.inf)
    return x


def _boundary_points(r, base):
    """Every coordinate within 2 ulps of (base + k)·R + eps, k in
    {-1, 0, 1}, eps a tiny offset, once on each axis: the pairs ~R
    apart sit on the filter's edge and, across 0 or a cell boundary,
    two cells apart."""
    xs = {_nudge((base + k) * r + eps, ulps)
          for k in (-1, 0, 1)
          for eps in (0.0, 1e-15, -1e-15, 1e-13, -1e-13, 5e-324, -5e-324)
          for ulps in range(-2, 3)}
    return [(x, 0.0) for x in sorted(xs)] + [(0.0, x) for x in sorted(xs)]


@given(st.one_of(st.sampled_from([100.0, 1.0, 0.3, 37.5]),
                 st.floats(0.01, 1000.0)),
       st.one_of(st.just(0), st.integers(-10**6, 10**6)))
@example(100.0, 0)
@settings(max_examples=10, deadline=None)
def test_cand_spatial_matches_cross_join(spark, r, base):
    """cand_spatial's grid join returns exactly the pairs a cross join
    keeps under the same float filter, over near-boundary doubles:
    R = 100, base 0 holds doc (-1e-15, 0) vs gazetteer (100.0, 0), the
    pair a fixed 3x3 neighbourhood missed."""
    from pyspark.sql import functions as F

    from ehdc_llpg_address_matching_spark.operators.candidates import \
        cand_spatial
    pts = _boundary_points(r, base)
    uaddr = spark.createDataFrame([(f"a{i}", *p) for i, p in enumerate(pts)],
                                  "addr_id string, easting double, "
                                  "northing double")
    gazp = spark.createDataFrame([(f"u{i}", *p) for i, p in enumerate(pts)],
                                 "uprn string, easting double, "
                                 "northing double")
    got = {(x["addr_id"], x["uprn"])
           for x in cand_spatial(uaddr, gazp, radius_m=r).collect()}
    g = gazp.select("uprn", F.col("easting").alias("g_e"),
                    F.col("northing").alias("g_n"))
    dist2 = (F.col("easting") - F.col("g_e")) ** 2 + \
        (F.col("northing") - F.col("g_n")) ** 2
    want = {(x["addr_id"], x["uprn"])
            for x in uaddr.crossJoin(g).filter(dist2 <= r * r).collect()}
    assert got == want


def _hier_reference(docs, gaz, top_k):
    """The J5 cascade as the j5_hier_engine oracle SQL writes it: per
    address the first level with a hit, its distinct uprns, the top_k
    by uprn. Rows are (id, postcode, house, street, locality,
    phonetic)."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        HIER_BASE
    levels = [
        lambda d, g: d[1] != "" and d[2] != "" and
        d[1] == g[1] and d[2] == g[2],
        lambda d, g: d[3] != "" and d[2] != "" and
        d[3] == g[3] and d[2] == g[2] and
        (d[4] == "" or g[4] == "" or d[4] == g[4]),
        lambda d, g: d[3] != "" and d[4] != "" and
        d[3] == g[3] and d[4] == g[4],
        lambda d, g: d[5] != "" and d[5] == g[5],
        lambda d, g: d[4] != "" and d[4] == g[4],
    ]
    house = lambda r: (r[0], r[1], re.sub(r"[^0-9A-Z]", "", r[2].upper()),
                       *r[3:])
    docs, gaz = [house(r) for r in docs], [house(r) for r in gaz]
    out = set()
    for d in docs:
        for name, hit in zip(HIER_BASE, levels):
            uprns = sorted({g[0] for g in gaz if hit(d, g)})
            if uprns:
                out |= {(d[0], u, f"hier_{name}", HIER_BASE[name])
                        for u in uprns[:top_k]}
                break
    return out


# small alphabets plus '' so that keys collide. No nulls: with_normalized
# emits '' for a missing component, so cand_hierarchical never sees one.
_comp = lambda *vals: st.sampled_from(["", *vals])
_hier_row = st.tuples(_comp("P1", "P2"), _comp("1", "1a", "1 A", "2"),
                      _comp("S1", "S2"), _comp("L1", "L2"),
                      _comp("PH1", "PH2"))
# fixed rows on every draw: L1 has more gazetteer rows than any top_k,
# and the street-house docs cover each level-2 locality case (doc
# locality empty; gazetteer locality empty, equal, different)
_HIER_GAZ = [("P9", "9", "S9", "L1", "PH9")] * 6 + [
    ("", "7", "S7", "", ""), ("", "7", "S7", "L1", "")]
_HIER_DOCS = [("", "", "", "L1", ""), ("", "7", "S7", "", ""),
              ("", "7", "S7", "L1", ""), ("", "7", "S7", "L2", "")]


@given(st.lists(_hier_row, max_size=12),
       st.lists(st.tuples(st.integers(0, 9), _hier_row), max_size=16),
       st.sampled_from([1, 2, 5]))
@settings(max_examples=15, deadline=None)
def test_cand_hierarchical_matches_cascade_reference(spark, docs, gaz,
                                                      top_k):
    """cand_hierarchical equals a pure-Python stop-at-first-hit cascade
    over colliding components, duplicate uprns (a range-expanded
    gazetteer) and a locality hotter than top_k."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        cand_hierarchical
    docs = [(f"a{i}", *r) for i, r in enumerate(_HIER_DOCS + docs)]
    gaz = ([(f"u{90 + i}", *r) for i, r in enumerate(_HIER_GAZ)] +
           [(f"u{i}", *r) for i, r in gaz])
    cols = "postcode string, c_house string, c_street string, " \
           "c_locality string, street_phonetic string"
    ua = spark.createDataFrame(docs, "addr_id string, " + cols)
    gazp = spark.createDataFrame(gaz, "uprn string, " + cols)
    got = {(r["addr_id"], r["uprn"], r["method"], r["method_conf"])
           for r in cand_hierarchical(ua, gazp, top_k=top_k).collect()}
    assert got == _hier_reference(docs, gaz, top_k)


def _trigram_sim(a, b):
    """Set Jaccard of pg_trgm 3-grams: per word, pad '  w ' and slide 3."""
    grams = lambda s: {f"  {w} "[i:i + 3] for w in s.split(" ") if w
                       for i in range(len(w) + 1)}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb) if ga and gb else 0.0


def _comp_reference(docs, gaz):
    """Strategies (a)-(e) of cand_component_joins, pair by pair. Rows
    are (id, postcode, house, street, locality, phonetic, name)."""
    from ehdc_llpg_address_matching_spark.operators.candidates import (
        FUZZY_STREET_SIM, NAME_SIM)
    house = lambda r: (r[0], r[1], re.sub(r"[^0-9A-Z]", "", r[2].upper()),
                       *r[3:])
    strategies = {
        "comp_pc_house": lambda d, g: d[1] != "" and d[2] != "" and
        d[1] == g[1] and d[2] == g[2],
        "comp_street_loc": lambda d, g: "" not in (d[3], d[2], d[4]) and
        (d[3], d[2], d[4]) == (g[3], g[2], g[4]),
        "comp_fuzzy_road": lambda d, g: "" not in (d[3], d[2], d[5]) and
        "" not in (g[3], g[2], g[5]) and (d[5], d[2]) == (g[5], g[2]) and
        d[3] != g[3] and _trigram_sim(d[3], g[3]) >= FUZZY_STREET_SIM,
        "business_name": lambda d, g: d[6] != "" and g[6] != "" and
        d[6].split(" ")[0] == g[6].split(" ")[0] and
        (d[4] == "" or g[4] == "" or d[4] == g[4]) and
        _trigram_sim(d[6], g[6]) >= NAME_SIM,
        "postcode_block": lambda d, g: d[1] != "" and d[1] == g[1],
    }
    return {(d[0], g[0], m)
            for d in map(house, docs) for g in map(house, gaz)
            for m, hit in strategies.items() if hit(d, g)}


# streets and names whose trigram similarity is above (LANE/LANES EAST:
# 0.83), exactly at (ROSE COTTAGE/COTTAGES: 0.8) and below the 0.8 gates,
# with shared first name tokens; phonetic codes are drawn independently
# of the street, so equal and different streets share a code
_comp_row = st.tuples(
    _comp("P1", "P2"), _comp("1", "1a", "1 A", "2"),
    _comp("GREEN LANE EAST", "GREEN LANES EAST", "GREEN LANE"),
    _comp("L1", "L2"), _comp("PH1", "PH2"),
    _comp("ROSE COTTAGE", "ROSE COTTAGES", "ROSE COTTAGE EAST",
          "ROSE FARM"))
# fixed rows on every draw: one name under each case of the locality
# rule (doc locality empty; gazetteer locality empty, equal, different)
# and a fuzzy street pair under one phonetic code
_COMP_GAZ = [("", "", "", "", "", "ROSE COTTAGES"),
             ("", "", "", "L1", "", "ROSE COTTAGE"),
             ("", "7", "GREEN LANES EAST", "", "PH1", "")]
_COMP_DOCS = [("", "", "", "", "", "ROSE COTTAGE"),
              ("", "", "", "L1", "", "ROSE COTTAGE"),
              ("", "", "", "L2", "", "ROSE COTTAGES"),
              ("", "7", "GREEN LANE EAST", "L1", "PH1", "")]


@given(st.lists(_comp_row, max_size=12),
       st.lists(st.tuples(st.integers(0, 9), _comp_row), max_size=16))
@settings(max_examples=15, deadline=None)
def test_cand_component_joins_matches_reference(spark, docs, gaz):
    """cand_component_joins equals a pure-Python statement of its five
    strategies over colliding components, duplicate uprns, fuzzy
    streets under one phonetic code, names sharing a first token and
    every case of the locality rule."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        cand_component_joins
    docs = [(f"a{i}", *r) for i, r in enumerate(_COMP_DOCS + docs)]
    gaz = ([(f"u{90 + i}", *r) for i, r in enumerate(_COMP_GAZ)] +
           [(f"u{i}", *r) for i, r in gaz])
    cols = "postcode string, c_house string, c_street string, " \
           "c_locality string, street_phonetic string, c_name string"
    ua = spark.createDataFrame(docs, "addr_id string, " + cols)
    gazp = spark.createDataFrame(gaz, "uprn string, " + cols)
    got = {(r["addr_id"], r["uprn"], r["method"])
           for r in cand_component_joins(ua, gazp).collect()}
    assert got == _comp_reference(docs, gaz)
