"""Focused tests for the round-6 optimization changes: each one pins
the behavior an optimization altered internally (CC convergence
detection, per-side gram re-attach, the tightened simhash gate, the
UDF input spreader)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------- CC

def test_cc_star_input_zero_rounds_output(spark):
    """An already-star-shaped input (the customer->orders /
    doc->uprn case) must label correctly through the zero-round
    fast path: component = the min-side parent."""
    from ehdc_llpg_address_matching_spark.operators.cluster import \
        connected_components
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("x", "y")], "src string, dst string")
    got = {(r["node"], r["component"])
           for r in connected_components(edges).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"),
                   ("x", "x"), ("y", "x")}


def test_cc_multi_parent_and_chain_still_converge(spark):
    """Graphs that are NOT disjoint stars (shared child, chains,
    cycles, reversed src/dst) must run star rounds and converge to the
    min-label component — the fixpoint test must not fire early."""
    from ehdc_llpg_address_matching_spark.operators.cluster import \
        connected_components
    edges = spark.createDataFrame(
        [("5", "1"), ("3", "5"),            # shared child, reversed
         ("7", "8"), ("8", "9"), ("9", "7"),  # cycle
         ("p", "q"), ("q", "r"), ("r", "s")],  # chain
        "src string, dst string")
    got = {(r["node"], r["component"])
           for r in connected_components(edges).collect()}
    assert got == {("1", "1"), ("5", "1"), ("3", "1"),
                   ("7", "7"), ("8", "7"), ("9", "7"),
                   ("p", "p"), ("q", "p"), ("r", "p"), ("s", "p")}


def test_cc_duplicate_and_self_edges(spark):
    """The round-6 path drops the upfront distinct — duplicate and
    self edges must still label correctly."""
    from ehdc_llpg_address_matching_spark.operators.cluster import \
        connected_components
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("c", "c")],
        "src string, dst string")
    got = {(r["node"], r["component"])
           for r in connected_components(edges).collect()}
    assert got == {("a", "a"), ("b", "a")}


# ------------------------------------------- per-side gram re-attach

def test_rule_rewrite_sim_matches_python_kernel(spark):
    """cand_rule_rewrite now joins per-side gram arrays instead of
    computing trigram_grams_expr per pair; the similarity values (and
    therefore method_conf adjustment + top-k order) must stay
    bit-identical to the Python trigram kernel."""
    from ehdc_llpg_address_matching_spark.functions.similarity import \
        trigram_sim_batch
    from ehdc_llpg_address_matching_spark.operators.blocking import \
        with_blocking_keys
    from ehdc_llpg_address_matching_spark.operators.candidates import (
        cand_rule_rewrite, prepare_gazetteer)

    gaz = spark.createDataFrame(
        [("100", "LUCKYLITE FARM CATHERINGTON LANE HORNDEAN GU31 4AA"),
         ("101", "LASHAM AERODROME LASHAM ALTON GU34 5SS"),
         ("102", "COOPERATIVE STORE HIGH STREET ALTON GU34 1AA")],
        "uprn string, full_address string")
    gazp = prepare_gazetteer(gaz)
    uaddr = spark.createDataFrame(
        [("d1", "LUCKY LITE FARM HORNDEAN"),
         ("d2", "LASHAM AIRFIELD HANGAR 2"),
         ("d3", "CO-OP HIGH STREET ALTON")],
        "addr_id string, addr_can string")
    out = cand_rule_rewrite(
        uaddr.withColumn("addr_core", F.col("addr_can")),
        gazp, keep_sim=True).toPandas()
    assert len(out) > 0
    # replay each pair's sim with the Python kernel over the SAME
    # rewritten string the generator derives
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        REWRITE_RULES
    import re
    gmap = {r["uprn"]: r["addr_core"] for r in gazp.collect()}

    def rewrite(addr):
        for name, pat, rep, conf in REWRITE_RULES:
            if re.search(pat, addr):
                if rep is None:
                    rw = re.sub(r"\bN\b", "NORTH", addr)
                    rw = re.sub(r"\bS\b", "SOUTH", rw)
                    rw = re.sub(r"\bE\b", "EAST", rw)
                    rw = re.sub(r"\bW\b", "WEST", rw)
                else:
                    rw = re.sub(pat, rep.replace("$1", r"\1"), addr)
                return re.sub(r"\s+", " ", rw).strip()
        return addr

    amap = {"d1": "LUCKY LITE FARM HORNDEAN",
            "d2": "LASHAM AIRFIELD HANGAR 2",
            "d3": "CO-OP HIGH STREET ALTON"}
    for _, row in out.iterrows():
        rw = rewrite(amap[row["addr_id"]])
        expect = trigram_sim_batch(pd.Series([rw]),
                                   pd.Series([gmap[row["uprn"]]]))[0]
        assert abs(row["sim"] - expect) < 1e-12


# ------------------------------------------------ simhash gate parity

def test_simhash_supplemented_gate_keeps_exact_output(spark):
    """Tightening the supplemented prefilter (hamming 8 -> 5) must not
    change the entry's exact-verified output: with the 32x2-band LSH
    supplement ORed in, the gate-5 and gate-15 runs produce the same
    verified pair set on a corpus with planted near-dups."""
    import numpy as np
    rng = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(300)]
    docs = []
    for i in range(120):
        toks = [vocab[rng.randint(300)] for _ in range(40)]
        docs.append((i, " ".join(toks)))
        if i % 3 == 0:  # planted near-dup: small edit
            toks2 = list(toks)
            toks2[5] = vocab[rng.randint(300)]
            docs.append((1000 + i, " ".join(toks2)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from ehdc_llpg_address_matching_spark.operators.dedup import \
        simhash_near_dup
    tight = {(r["id_a"], r["id_b"])
             for r in simhash_near_dup(df, jaccard_threshold=0.5,
                                       prefilter_hamming=5).collect()}
    loose = {(r["id_a"], r["id_b"])
             for r in simhash_near_dup(df, jaccard_threshold=0.5,
                                       prefilter_hamming=15).collect()}
    assert tight == loose
    assert len(tight) >= 30  # the planted pairs actually surfaced


# ------------------------------------------------------ spread_for_udf

def test_spread_for_udf_spreads_and_noops(spark):
    from ehdc_llpg_address_matching_spark.session import spread_for_udf
    small = spark.createDataFrame([(i,) for i in range(100)],
                                  "x long").coalesce(1)
    p = spark.sparkContext.defaultParallelism
    spread = spread_for_udf(small)
    assert spread.rdd.getNumPartitions() == p
    assert spread.count() == 100
    wide = spark.range(1000).repartition(p + 4)
    assert spread_for_udf(wide).rdd.getNumPartitions() == p + 4


def test_prepare_gazetteer_builds_without_jobs(spark, tmp_path):
    """prepare_gazetteer decides its compaction from partition counts
    known before anything runs: building it over a one-file parquet
    gazetteer (spread to the default parallelism for the UDF) submits
    no job, and the small frame is still compacted to one partition
    wherever the spread leaves more than two."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        prepare_gazetteer
    from ehdc_llpg_address_matching_spark.synth import (SynthConfig,
                                                        synth_tables)
    gaz, _, _ = synth_tables(SynthConfig(seed=3, n_gazetteer=40, n_docs=1))
    path = str(tmp_path / "gaz.parquet")
    spark.createDataFrame(gaz).coalesce(1).write.parquet(path)
    raw = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("gaz_build", "build prepare_gazetteer")
    try:
        gazp = prepare_gazetteer(raw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("gaz_build") == []
    p = sc.defaultParallelism
    assert gazp.rdd.getNumPartitions() == (1 if p > 2 else p)


# ------------------------------------------- J5 level resolution

def test_hierarchical_probe_fetch_mid_levels(spark):
    """cand_hierarchical resolves each address's stop-at-first level
    as the minimum level among its keyed-join hits. Guard the
    mid-level selection the older tests don't reach: an address
    hitting levels 3 AND 5 must surface ONLY level-3 rows, and a
    phonetic-only typo must land on level 4."""
    from ehdc_llpg_address_matching_spark.operators import candidates as C
    from tests.test_candidates_extra import _gaz, _uaddr

    gaz = _gaz(spark, [
        "5 MILL LANE, LIPHOOK, GU30 7AA",
        "OAK BARN, LIPHOOK, GU30 7AB",
    ])
    ua = _uaddr(spark, [
        # street+locality match (level 3: no postcode, no house number
        # on the gaz street? house differs -> l1/l2 miss) AND a
        # locality-only match vs the second gaz row (level 5)
        "MILL LANE, LIPHOOK",
        # phonetic street: MILL -> MYLL keeps the metaphone skeleton
        # but breaks exact street equality; house differs so l2 misses
        "MYLL LANE, LIPHOOK",
    ])
    out = C.cand_hierarchical(ua, gaz).toPandas()
    ids = ua.select("addr_id", "addr_can").toPandas()
    m = out.merge(ids, on="addr_id")
    exact = m[m.addr_can.str.startswith("MILL")]
    assert set(exact.method) == {"hier_street_locality"}
    assert (exact.method_conf == 0.80).all()
    # stop-at-first: the level-5 locality hit vs OAK BARN must NOT
    # appear for the level-3 address
    assert len(exact) == 1
    phon = m[m.addr_can.str.startswith("MYLL")]
    assert set(phon.method) == {"hier_street_phonetic"}
    assert (phon.method_conf == 0.75).all()


# ------------------------------------------- fused normalization UDF

def test_with_normalized_matches_unfused_chain(spark):
    """The fused single-ArrowEvalPython normalization (with_normalized)
    must be column-for-column identical to the unfused chain of pandas
    kernels (canonicalize_series, parse_components_series,
    clean_uprn_series, SymSpell corrections, phonetic_series, and
    tokens_series / house_numbers_series / is_vague_series for the
    Catalyst columns) — including the in-place SymSpell-corrected
    addr_core/c_street, the pre-correction tokens/house_numbers, and
    the phonetic of the CORRECTED street."""
    import numpy as np

    from ehdc_llpg_address_matching_spark.functions.normalize import (
        STREET_SUFFIX_WORDS, canonicalize_series, clean_uprn_series,
        house_numbers_series, is_vague_series, parse_components_series,
        tokens_series, with_normalized)
    from ehdc_llpg_address_matching_spark.functions.phonetic import \
        phonetic_series
    from ehdc_llpg_address_matching_spark.functions.symspell import SymSpell

    sym = SymSpell()
    for w in ("CHURCH", "ROAD", "PETERSFIELD", "HIGH", "STREET",
              "ALTON", "LANE", "COTTAGE", "FARM", "MARKS"):
        sym.add(w, 10)
    rows = [
        ("1", "Flat 3, 45 Chruch Rd, Petersfeild, GU31 4HX", "10001.00"),
        ("2", "LAND ADJACENT TO 2 HIGH ST FOUR MARKS GU34 5AA", None),
        ("3", "10-12 Hgih Street, Alton", "bad-uprn"),
        ("4", "Rose Cottage, Selborne", "20002"),
        ("5", "", ""),
        ("6", None, None),
        # stop tokens (THE, AND, AT, OF) in the matching core
        ("7", "The Old Forge, 7 Mill Lane & Church Rd, Liss GU33 7AA", "7"),
        ("8", "Rear of 14b Station Road at the Green, Alton", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, raw_address string, raw_uprn string")
    inp = pd.DataFrame(rows, columns=["doc_id", "raw_address", "raw_uprn"])

    def expected(symspell, with_uprn):
        c = canonicalize_series(inp["raw_address"])
        p = parse_components_series(inp["raw_address"])
        core, street = c["addr_core"], p["street"]
        if symspell is not None:
            core = symspell.correct_tokens_series(core,
                                                  skip=STREET_SUFFIX_WORDS)
            street = symspell.correct_tokens_series(street,
                                                    skip=STREET_SUFFIX_WORDS)
        out = inp.assign(
            addr_can=c["addr_can"], postcode=c["postcode"],
            addr_core=core,
            tokens=tokens_series(c["addr_core"]),
            house_numbers=house_numbers_series(c["addr_core"]),
            is_vague=is_vague_series(c["addr_can"]),
            c_house=p["house_number"], c_street=street,
            c_locality=p["locality"], c_name=p["name"],
            c_postcode=p["postcode"],
            parse_confidence=p["parse_confidence"].astype(float),
            parse_valid=p["parse_valid"].astype(bool))
        if with_uprn:
            out = out.assign(uprn_clean=clean_uprn_series(inp["raw_uprn"]))
        first = street.fillna("").str.split().str[0].fillna("")
        return out.assign(street_phonetic=phonetic_series(first))

    def cells(pdf):
        def norm(v):
            if isinstance(v, (list, np.ndarray)):
                return list(v)
            return None if v is None or v != v else v
        return {c: [norm(v) for v in pdf[c]] for c in pdf.columns}

    def check(got, want):
        got = got.toPandas().sort_values("doc_id").reset_index(drop=True)
        assert list(got.columns) == list(want.columns)
        assert cells(got) == cells(want)

    # documents shape: UPRN clean + SymSpell
    check(with_normalized(df, raw_col="raw_address", uprn_col="raw_uprn",
                          symspell=sym), expected(sym, True))
    # gazetteer shape (prepare_gazetteer): neither
    check(with_normalized(df, raw_col="raw_address"), expected(None, False))


def test_with_normalized_single_arrow_node(spark):
    """The fused path must plan exactly ONE ArrowEvalPython node (the
    unfused chain planned three for documents)."""
    import re
    from ehdc_llpg_address_matching_spark.functions.normalize import \
        with_normalized
    from ehdc_llpg_address_matching_spark.functions.symspell import SymSpell
    df = spark.createDataFrame(
        [("1", "45 CHURCH ROAD GU31 4HX", "1.00")],
        "doc_id string, raw_address string, raw_uprn string")
    sym = SymSpell()
    sym.add("CHURCH", 10)
    sym.add("ROAD", 10)
    plan = with_normalized(df, raw_col="raw_address",
                           uprn_col="raw_uprn", symspell=sym) \
        ._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1
