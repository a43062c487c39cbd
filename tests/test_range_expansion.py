"""J10 range expansion: expand_ranges against a pure-Python statement of
the rule, and the prepared gazetteer's plan and pins."""

import re

import pandas as pd

from ehdc_llpg_address_matching_spark.operators import candidates as C
from ehdc_llpg_address_matching_spark.plans.inspect import physical_plan
from ehdc_llpg_address_matching_spark.session import (checkpoint_rdds,
                                                      release_checkpoint)

INT_MAX = 2 ** 31 - 1

# c_house: numeric, reversed, degenerate, over-span, alpha,
# zero-padded, null, empty, single and past-int-range cases
HOUSES = ["10-11", "10-10", "11-10", "1-51", "1-52", "10-11A", "007-009",
          "0-2", None, "", "5", "99999999999-1", "3000000000-3000000001"]


def _expected(uprn, c_house, addr_can):
    """The rule: a numeric 'lo-hi' house with hi > lo, a span of at most
    MAX_RANGE_UNITS and both ends in int range adds one row per number
    lo..hi, the range in addr_can/addr_core replaced by the number."""
    core = addr_can.split(",")[0]
    out = [(uprn, c_house, addr_can, core, "original")]
    m = re.fullmatch(r"([0-9]+)-([0-9]+)", c_house or "")
    if m:
        lo, hi = int(m[1]), int(m[2])
        if hi <= INT_MAX and lo < hi <= lo + C.MAX_RANGE_UNITS:
            for n in map(str, range(lo, hi + 1)):
                sub = lambda s: re.sub(r"\b[0-9]+-[0-9]+\b", n, s,
                                       flags=re.ASCII)
                out.append((uprn, n, sub(addr_can), sub(core), "expanded"))
    return out


def test_expand_ranges_matches_rule(spark):
    rows = [(str(100 + i), h, f"{h or ''} HIGH STREET, ALTON".strip(),
             [h] if h else [])
            for i, h in enumerate(HOUSES)]
    pdf = pd.DataFrame(rows, columns=["uprn", "c_house", "addr_can",
                                      "house_numbers"])
    pdf["addr_core"] = pdf.addr_can.str.split(",").str[0]
    out = C.expand_ranges(spark.createDataFrame(pdf)).toPandas()
    got = sorted(zip(out.uprn, out.c_house, out.addr_can, out.addr_core,
                     out.source_type), key=str)
    want = sorted((r for u, h, a, _ in rows for r in _expected(u, h, a)),
                  key=str)
    assert got == want
    exp = out[out.source_type == "expanded"]
    assert (exp.house_numbers.map(list)
            == exp.c_house.map(lambda h: [h])).all()
    orig = out[out.source_type == "original"].set_index("uprn")
    assert orig.house_numbers.map(list).to_dict() == \
        pdf.set_index("uprn").house_numbers.to_dict()


def _gaz(spark, houses):
    rows = [f"{h} HIGH STREET, ALTON, GU34 1AA" for h in houses]
    return spark.createDataFrame(pd.DataFrame({
        "uprn": [str(100 + i) for i in range(len(rows))],
        "full_address": rows,
        "usrn": ["20000"] * len(rows),
        "blpu_class": ["RD02"] * len(rows),
        "status_code": ["1"] * len(rows),
        "easting": [470000.0 + i for i in range(len(rows))],
        "northing": [120000.0 + i for i in range(len(rows))],
    }))


def test_prepare_gazetteer_keeps_past_int_ranges_original(spark):
    """Under ANSI mode a range number past int range must not abort
    the run: its row stays original-only."""
    out = C.prepare_gazetteer(_gaz(spark, ["99999999999-1",
                                           "3000000000-3000000001",
                                           "10-11"])).toPandas()
    assert sorted(zip(out.uprn, out.source_type)) == [
        ("100", "original"), ("101", "original"), ("102", "expanded"),
        ("102", "expanded"), ("102", "original")]


def test_prepare_gazetteer_pins_nothing_and_runs_the_udf_once(spark):
    """prepare_gazetteer pins nothing beyond its input's checkpoints
    (the caller's materialization is the gazetteer's one pin), and its
    plan runs the normalization UDF once."""
    g = _gaz(spark, ["10-11", "12", "1-3"]).localCheckpoint(eager=True)
    try:
        gp = C.prepare_gazetteer(g)
        assert ({r.id() for r in checkpoint_rdds(gp)}
                <= {r.id() for r in checkpoint_rdds(g)})
        assert physical_plan(gp).count("ArrowEvalPython") == 1
        assert gp.count() == 3 + 2 + 3
    finally:
        release_checkpoint(g)
