"""Candidate generation — every reference "query per row" re-expressed
as a Spark join (SURVEY.md §2.3).

Contracts:
  uaddr : one row per UNIQUE dirty address (the J11 dedup-join input):
          addr_id, addr_can, addr_core, postcode, tokens,
          house_numbers, c_house, c_street, c_locality, street_phonetic,
          is_vague, easting, northing, block_keys
  gazp  : prepared gazetteer (original ∪ range-expanded):
          uprn, addr_can, addr_core, postcode, tokens, house_numbers,
          c_house, c_street, c_locality, street_phonetic, easting,
          northing, status_code, source_type, embedding

Every generator returns (addr_id, uprn, method). The gazetteer is
broadcast-sized per blocking partition in the local tests; at 100 TB
the doc side is the big side and each join below is either an
equi-join on a blocking key (shuffle both sides on the key — AQE skew
split + explicit salting) or a broadcast of the 72K-row gazetteer.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.normalize import norm_house_expr
from ..functions.similarity import trigram_grams_expr, trigram_sim_expr
from .blocking import explode_keys, salt_hot_keys, with_blocking_keys

# reference guard, internal/llpg/range_expander.go:174: reject when
# (end - start) > 50 — i.e. a SPAN of at most 50, which expands to up
# to 51 inclusive house numbers ('47-93' passes, '47-98' does not)
MAX_RANGE_UNITS = 50

# J9 keep-gate: a vector candidate survives when its (dot+1)/2 similarity
# is >= this, i.e. cosine >= 2*VECTOR_MIN_SIM - 1. The j9 oracle fixture
# reads it too, so the engine and its oracle share one value.
VECTOR_MIN_SIM = 0.70

# cand_component_joins' trigram gates: (c) the fuzzy street with a
# house match, (d) the business/property name
FUZZY_STREET_SIM = 0.8
NAME_SIM = 0.8

# cand_vector's IVF route: each address probes IVF_PROBE of IVF_CELLS
# k-means cells (probing every cell makes the route exact)
IVF_CELLS = 64
IVF_PROBE = 8


def expand_ranges(gazp: DataFrame) -> DataFrame:
    """Gazetteer densification (J10; reference:
    internal/llpg/range_expander.go:78-210): '10-11 HIGH ST' spawns
    rows for 10 and 11 (same UPRN) next to its original row. One
    explode_outer per row of [null] + the range's numbers: the null
    element is the 'original' row, each number an 'expanded' row. Span
    ≤ 50 guard (see MAX_RANGE_UNITS); numeric-numeric ranges only
    (alpha ranges are <0.1% of LLPG and fall back to the fuzzy path);
    a number past int range stays original-only (try_cast). An
    explode_outer, not an explode: Catalyst infers a size() > 0 filter
    from explode and pushes it under the normalization UDF
    (blocking.explode_keys)."""
    lo, hi = (F.split("c_house", "-")[i].try_cast("int") for i in (0, 1))
    strs = "array<string>"
    nums = F.when(F.col("c_house").rlike(r"^\d+-\d+$") & (hi > lo)
                  & (hi - lo <= MAX_RANGE_UNITS),
                  F.sequence(lo, hi).cast(strs)
                  ).otherwise(F.array().cast(strs))
    ns = F.col("_ns")
    orig = ns.isNull()

    def sub(c):
        return F.when(orig, F.col(c)).otherwise(
            F.regexp_replace(c, r"\b\d+-\d+\b", ns))
    return (gazp
            .withColumn("_ns", F.explode_outer(
                F.concat(F.array(F.lit(None).cast("string")), nums)))
            .withColumns({
                "addr_can": sub("addr_can"),
                "addr_core": sub("addr_core"),
                "c_house": F.coalesce(ns, "c_house"),
                "house_numbers": F.when(orig, F.col("house_numbers"))
                                  .otherwise(F.array(ns)),
                "source_type": F.when(orig, F.lit("original"))
                                .otherwise(F.lit("expanded"))})
            .drop("_ns"))


def prepare_gazetteer(gaz: DataFrame) -> DataFrame:
    """Normalize + parse + phonetic + blocking keys + range expansion.
    Mirrors the reference's combined original∪expanded address table
    (cmd/matcher-v2/optimize_layer2.go:23-57). The result holds no
    checkpoint and runs the normalization UDF once; the caller's one
    materialization of it is the gazetteer's only pin."""
    # derive everything from full_address (the reference re-parses via
    # gopostal too); drop any pre-parsed source columns that would
    # collide with the derived names
    drop = [c for c in ("postcode", "house_number", "street", "locality",
                        "tokens", "house_numbers")
            if c in gaz.columns]
    from ..functions.normalize import with_normalized
    from ..session import compact_reference_frame, spread_for_udf
    src = gaz.drop(*drop)
    g = with_normalized(spread_for_udf(src), raw_col="full_address")
    # compact the reference frame before callers cache it: the UDF
    # spread leaves a small gazetteer as near-empty partitions that
    # every downstream broadcast build re-scans
    # (session.compact_reference_frame — size-derived, no-op at scale).
    # Every step after the spread is narrow, so the frame keeps the
    # spread's partitions: the scan's, or at least the default
    # parallelism
    parts = max(src.rdd.getNumPartitions(),
                src.sparkSession.sparkContext.defaultParallelism)
    return compact_reference_frame(with_blocking_keys(expand_ranges(g)),
                                   parts)


def prepare_unique_addresses(docs_norm: DataFrame) -> DataFrame:
    """J11 dedup-join: match once per unique dirty address, fan results
    back to documents later (reference: cmd/matcher-v2/enhanced_layer3.go:50-97).

    The representative row per (addr_can, postcode) is the one from the
    min doc_id (min_by, NOT F.first — first is partition-order-dependent
    and made repeated runs disagree near decision thresholds); the
    representative coordinates come from the min doc_id that HAS
    coordinates (min_by skips rows whose ordering key is null)."""
    rep = F.min_by(
        F.struct("addr_core", "tokens", "house_numbers", "c_house",
                 "c_street", "c_locality", "c_name", "c_postcode",
                 "street_phonetic", "is_vague"),
        F.col("doc_id")).alias("_rep")
    coord = F.min_by(
        F.struct("easting", "northing"),
        F.when(F.col("easting").isNotNull() &
               F.col("northing").isNotNull(), F.col("doc_id"))).alias("_coord")
    return (docs_norm
            # postcode is part of the identity: '12 HIGH ST' with and
            # without 'GU34 1AA' are different match problems (the
            # postcode disambiguates twin canonical strings)
            .groupBy("addr_can", "postcode")
            .agg(rep, coord)
            .select("addr_can", "postcode", "_rep.*",
                    F.col("_coord.easting").alias("easting"),
                    F.col("_coord.northing").alias("northing"))
            .withColumn("addr_id", F.sha2(
                F.concat_ws("|", "addr_can", "postcode"), 256)))


def legacy_uprn_matches(docs_norm: DataFrame, gazp: DataFrame) -> DataFrame:
    """J1: validate the document's legacy UPRN against the gazetteer
    ('.00' suffix already stripped into uprn_clean). Broadcast join —
    gazetteer is the small side. Returns doc-level direct matches."""
    gaz_uprns = gazp.filter(F.col("source_type") == "original") \
                    .select("uprn").distinct()
    return (docs_norm
            .filter(F.col("uprn_clean").isNotNull())
            .join(F.broadcast(gaz_uprns),
                  F.col("uprn_clean") == F.col("uprn"), "inner")
            .select("doc_id", "uprn",
                    F.lit("legacy_uprn").alias("method"),
                    F.lit(1.0).alias("score")))


def missing_legacy_uprns(docs_norm: DataFrame, gazp: DataFrame) -> DataFrame:
    """Documents whose cleaned legacy UPRN is plausibly valid (6-12
    digits — production UPRNs are 9-12; the lower bound guards against
    digit fragments surviving clean_uprn_series) but absent from the
    gazetteer. Anti-join on uprn; the gazetteer side is the distinct
    UPRN projection, so at 10^8 gazetteer rows this is one narrow
    shuffled anti-join Spark can also turn into a broadcast under AQE."""
    gaz_uprns = gazp.filter(F.col("source_type") == "original") \
                    .select("uprn").distinct()
    return (docs_norm
            .filter(F.col("uprn_clean").isNotNull()
                    & F.length("uprn_clean").between(6, 12))
            .select("doc_id", "raw_address",
                    F.col("uprn_clean").alias("uprn"))
            .join(gaz_uprns, "uprn", "left_anti"))


def historic_uprn_records(docs_norm: DataFrame, gazp: DataFrame,
                          missing: DataFrame | None = None) -> DataFrame:
    """Bulk historic-UPRN creation — the reference's single largest
    correction bucket (5,119 of 10,015 production corrections,
    ADDRESS_MATCHING_PROCESS.md:239-249): a legacy UPRN that is valid
    but not in the LLPG becomes a NEW gazetteer record flagged
    is_historic, carrying the document's address (reference:
    internal/matcher/engine_components_fixed.go:73-92,765-790, bulk
    path cmd/bulk-historic-uprns/main.go:80-104, schema
    migrations/029_add_historic_uprn_support.sql:8-13).

    One row per missing UPRN; the representative full_address is the
    most common raw_address for that UPRN (the bulk tool's ORDER BY
    document_count DESC), ties broken lexicographically for
    determinism. Output is appendable to the raw gazetteer table
    (Iceberg append at scale).

    `missing` (optional): a precomputed missing_legacy_uprns frame —
    pipeline callers compute it ONCE (cache/localCheckpoint) and feed
    it to both this and historic_uprn_matches, so the gazetteer-UPRN
    distinct + anti-join never executes per consumer."""
    if missing is None:
        missing = missing_legacy_uprns(docs_norm, gazp)
    per_addr = (missing
                .groupBy("uprn", "raw_address")
                .agg(F.count("*").alias("n_docs"),
                     F.min("doc_id").alias("sample_doc")))
    return (per_addr.groupBy("uprn")
            .agg(F.max_by(F.struct("raw_address", "sample_doc"),
                          F.struct("n_docs", "raw_address")).alias("_r"),
                 F.sum("n_docs").alias("n_source_docs"))
            .select("uprn",
                    F.col("_r.raw_address").alias("full_address"),
                    F.lit(True).alias("is_historic"),
                    F.col("_r.sample_doc").alias("source_document_id"),
                    "n_source_docs"))


def historic_uprn_matches(docs_norm: DataFrame, gazp: DataFrame,
                          missing: DataFrame | None = None) -> DataFrame:
    """Doc-level direct matches for the historic path: every document
    whose legacy UPRN triggered historic creation auto-accepts against
    that UPRN at confidence 1.0 (reference decision 'auto_accept',
    engine_components_fixed.go:76-90). Runs BEFORE fuzzy precedence-
    wise — the pipeline's deterministic-beats-fuzzy rule applies.
    `missing`: see historic_uprn_records."""
    if missing is None:
        missing = missing_legacy_uprns(docs_norm, gazp)
    return (missing
            .select("doc_id", "uprn",
                    F.lit("historic_uprn").alias("method"),
                    F.lit(1.0).alias("score")))


def cand_exact_canonical(uaddr: DataFrame, gazp: DataFrame) -> DataFrame:
    """J2: equi-join on the descriptor-stripped canonical string."""
    g = gazp.select(F.col("addr_core").alias("g_core"), "uprn")
    return (uaddr.select("addr_id", "addr_core")
            .join(g, F.col("addr_core") == F.col("g_core"), "inner")
            .select("addr_id", "uprn", F.lit("exact_canonical").alias("method")))


def cand_blocked(uaddr: DataFrame, gazp: DataFrame) -> DataFrame:
    """J3: the main fuzzy candidate source. Explode blocking keys on
    both sides, salt hot keys (blocking.HOT_KEY_THRESHOLD, N_SALT),
    equi-join on (kind, key, salt). The similarity filter happens
    downstream in the scoring UDF."""
    dk = explode_keys(uaddr, ["addr_id"])
    gk = explode_keys(gazp, ["uprn"])
    dk, gk = salt_hot_keys(dk, gk, doc_id_col="addr_id")
    # no distinct here: a pair meeting under several keys is collapsed
    # by union_candidates' groupBy — one shuffle instead of two
    return (dk.join(gk, ["block_kind", "block_key", "salt"], "inner")
            .select("addr_id", "uprn")
            .withColumn("method", F.lit("blocked_fuzzy")))


def _kind_key(kind: int, parts: list, *tail) -> "F.Column":
    """A (kind, key) struct, key = array(*parts, *tail), or null unless
    every part is non-empty (tail parts are not checked). Arrays of
    different lengths never compare equal, so no separator is needed."""
    ok = F.lit(True)
    for p in parts:
        ok = ok & (p != "")
    return F.when(ok, F.struct(F.lit(kind).alias("kind"),
                               F.array(*parts, *tail).alias("key")))


def _kind_keys(df: DataFrame, cols: list, *keys) -> DataFrame:
    """cols of df, one row per non-null _kind_key struct of keys, with
    its kind and key columns."""
    return (df.select(*cols, F.explode(F.array_compact(F.array(*keys)))
                      .alias("_k"))
            .select("*", "_k.kind", "_k.key").drop("_k"))


def _by_kind(vals) -> "F.Column":
    """The kind-th of vals (kinds count from 1)."""
    return F.element_at(F.array(*map(F.lit, vals)), F.col("kind"))


def cand_component_joins(uaddr: DataFrame, gazp: DataFrame) -> DataFrame:
    """J4 component-equality strategies + J8 postcode-block join
    (reference: internal/matcher/engine_components_fixed.go:201-241,
    322-599 + internal/engine/postcode_matcher.go:143-248), as one
    equi-join on (kind, key). A side row emits a kind's key only when
    its key parts and the "needs" column are non-empty
    (h = norm_house_expr(c_house)); the kind's check runs after the
    join:

      kind  key               needs   check                  method
      1 (a) [postcode, h]                                    comp_pc_house
      2 (b) [street, h, loc]                                 comp_street_loc
      3 (c) [phonetic, h]     street  d_st != g_st, street   comp_fuzzy_road
                                      trigram >= FUZZY_STREET_SIM
      4 (d) [name's first     name    d_loc = '' OR g_loc =  business_name
             token]                   '' OR d_loc = g_loc,
                                      name trigram >= NAME_SIM
      5 (e) [postcode]                                       postcode_block

    (c) is the fuzzy street with MANDATORY house equality
    (engine_components_fixed.go:525-599's fix): a street typo that
    changes the phonetic skeleton still meets via the J3 blocked join.
    (d) matches business/property names (engine_components_fixed.go:
    378-448), e.g. 'ROSE COTTAGE'. The strict validator downstream
    enforces the house rule. Gram arrays are computed once per
    exploded side row of kinds 3 and 4 (trigram_grams_expr), and the
    trigram checks run in whole-stage codegen (trigram_sim_expr).
    c_name and street_phonetic may be absent: they read as ''."""
    kind = F.col("kind")

    def side(df, id_col, p):
        pc, st, loc = (F.col(c) for c in ("postcode", "c_street",
                                          "c_locality"))
        name, phon = (F.col(c) if c in df.columns else F.lit("")
                      for c in ("c_name", "street_phonetic"))
        h = norm_house_expr(F.col("c_house"))
        text = F.when(kind == 3, F.col(p + "st")).otherwise(F.col("_name"))
        return (_kind_keys(df, [id_col, st.alias(p + "st"),
                                loc.alias(p + "loc"), name.alias("_name")],
                           _kind_key(1, [pc, h]), _kind_key(2, [st, h, loc]),
                           F.when(st != "", _kind_key(3, [phon, h])),
                           F.when(name != "", _kind_key(
                               4, [], F.split(name, " ").getItem(0))),
                           _kind_key(5, [pc]))
                .withColumn(p + "g", F.when(kind.isin(3, 4),
                                            trigram_grams_expr(text)))
                .drop("_name"))

    sim = trigram_sim_expr(F.col("d_g"), F.col("g_g"))
    d_loc, g_loc = F.col("d_loc"), F.col("g_loc")
    check = (F.when(kind == 3, (F.col("d_st") != F.col("g_st"))
                    & (sim >= FUZZY_STREET_SIM))
             .when(kind == 4, ((d_loc == "") | (g_loc == "") |
                               (d_loc == g_loc)) & (sim >= NAME_SIM))
             .otherwise(True))
    return (side(uaddr, "addr_id", "d_")
            .join(side(gazp, "uprn", "g_"), ["kind", "key"])
            .filter(check)
            .select("addr_id", "uprn", _by_kind(
                ["comp_pc_house", "comp_street_loc", "comp_fuzzy_road",
                 "business_name", "postcode_block"]).alias("method")))


def cand_spatial(uaddr: DataFrame, gazp: DataFrame,
                 radius_m: float = 100.0) -> DataFrame:
    """J6 spatial proximity as a grid-cell range join (reference:
    internal/engine/spatial_matcher.go:158-248, ST_DWithin R=100m).
    A gazetteer row sits in cell floor(fl(coord/R)) per axis; the doc
    explodes into floor(q - pad) .. floor(q + pad), q = fl(coord/R),
    pad = 1 + (|q| + 2)·2^-48: 3 cells per axis, 4 near a boundary.
    Equi-join on the cell, then the exact float filter dist² <= R².

    Cover proof (u = 2^-53, |coord/R| < 2^48): an accepted pair has
    fl(d)^2 <= fl(R·R) up to Math.pow's 1 ulp, so |x - y| <= R(1 + 4u)
    and, with t = x/R, the gazetteer's fl(y/R) <= t + 1 + u(|t| + 6).
    q >= t - u|t| and the <= 3 roundings in q + pad cost u(|q| + 2)
    each, so pad - 1 >= 32u(|q| + 2)(1 - u) gives fl(q + pad) >=
    fl(y/R); floor is monotone (the lower end is symmetric). A fixed
    3x3 block misses doc (-1e-15, 0) vs gazetteer (100.0, 0) at
    R = 100: dist² rounds to 10000, floor(-1e-17) = -1, floor(1.0) = 1."""
    def cells(c):  # floor(q - pad) .. floor(q + pad) along one axis
        q = F.col(c) / radius_m
        pad = 1 + (F.abs(q) + 2) * 2.0 ** -48
        return F.explode(F.sequence(F.floor(q - pad), F.floor(q + pad)))

    d = (uaddr
         .filter(F.col("easting").isNotNull() & F.col("northing").isNotNull())
         .select("addr_id", "easting", "northing",
                 cells("easting").alias("cell_x"))
         .withColumn("cell_y", cells("northing")))
    g = (gazp
         .filter(F.col("easting").isNotNull() & F.col("northing").isNotNull())
         .select("uprn",
                 F.col("easting").alias("g_e"), F.col("northing").alias("g_n"),
                 F.floor(F.col("easting") / radius_m).alias("cell_x"),
                 F.floor(F.col("northing") / radius_m).alias("cell_y")))
    dist2 = (F.col("easting") - F.col("g_e")) ** 2 + \
            (F.col("northing") - F.col("g_n")) ** 2
    # no distinct: a (doc, gaz-row) pair meets in exactly one of the
    # doc's cells; (addr_id, uprn) duplicates from expanded gazetteer
    # variants are collapsed by union_candidates' groupBy anyway
    return (d.join(g, ["cell_x", "cell_y"], "inner")
            .filter(dist2 <= radius_m * radius_m)
            .select("addr_id", "uprn")
            .withColumn("method", F.lit("spatial")))


# Rule rewrites (J7; reference: internal/engine/rule_matcher.go:50-153):
# (name, pattern, replacement, base_confidence). Applied to addr_can
# (descriptors still present); FIRST matching rule wins (list order);
# the rewritten string feeds a TRIGRAM join (sim >= 0.70, top 5), and
# the rule confidence is adjusted by similarity (+0.10 at sim>=0.90,
# +0.05 at sim>=0.80 — rule_matcher.go:364-377).
REWRITE_RULES = [
    ("lucky_lite_farm", r"LUCKY LITE FARM.*",
     "LUCKYLITE FARM CATHERINGTON LANE HORNDEAN", 0.95),
    ("lasham_airfield", r"LASHAM AIRFIELD.*", "LASHAM AERODROME LASHAM", 0.90),
    ("four_marks_spacing", r"FOUR MARKS", "FOURMARKS", 0.85),
    ("co_op_variations", r"(?:CO-OP|COOP|CO OP)", "COOPERATIVE", 0.80),
    ("former_site_prefix", r"FORMER SITE OF (.+)", "$1", 0.75),
    ("land_at_prefix", r"LAND AT (.+)", "$1", 0.70),
    ("rear_of_references", r"REAR OF (\d+[A-Z]?\s.+)", "$1A", 0.65),
    ("adjacent_to", r"ADJ(?:ACENT)? TO (.+)", "$1", 0.60),
    ("opposite_references", r"OPP(?:OSITE)? (.+)", "$1", 0.60),
    ("compass_expansion", r"\b[NSEW]\b", None, 0.75),  # special-cased
]


def _compass_expand(col):
    out = col
    for a, b in (("N", "NORTH"), ("S", "SOUTH"), ("E", "EAST"), ("W", "WEST")):
        out = F.regexp_replace(out, rf"\b{a}\b", b)
    return out


def gaz_hot_tokens(gazp: DataFrame, token_df_cap: int) -> DataFrame:
    """Tokens whose gazetteer document-frequency exceeds the cap.
    STOP_TOKENS drops THE/OF/AND but NOT street suffixes: at a 10^8-row
    gazetteer a bare ROAD/LANE token joins every document against
    millions of rows before any >=2-shared-tokens aggregation can
    prune. The hot set is tiny (a handful of suffixes/localities), so
    both join sides drop it with a broadcast anti-join — a map-side
    filter, no extra shuffle. With the cap, token-blocked join output
    is bounded by sum_over_rare_tokens df_docs(t) * df_gaz(t) with
    df_gaz(t) <= cap — linear in the doc side, never quadratic."""
    return (gazp.select(F.explode(F.array_distinct("tokens")).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > token_df_cap)
            .select("tok"))


def rare_token_trigram_join(q: DataFrame, gazp: DataFrame, id_col: str,
                            text_col: str, tokens_col: str, min_sim: float,
                            top_k: int, token_df_cap: int) -> DataFrame:
    """The token-blocked trigram join of the J7 rule matcher and the G2
    group rescue (the reference's per-row pg_trgm GIN lookups,
    migrations/002_normalized_schema.sql:416-440). q: one row per
    id_col with a text, a token array and any columns to carry.
    Candidates share >= 2 distinct tokens once both sides drop those
    above token_df_cap gazetteer df (gaz_hot_tokens). Only ids ride the
    token join and the count; the carried columns re-attach with q's
    grams, and grams are computed per side (see trigram_grams_expr).
    Keeps sim >= min_sim, then the top_k per id by (sim desc, uprn asc).
    Returns (id_col, uprn, sim, *carried), carried being every other
    column of q."""
    carried = [c for c in q.columns if c not in (id_col, text_col, tokens_col)]
    hot = F.broadcast(gaz_hot_tokens(gazp, token_df_cap))
    q_tok = (q.select(id_col, F.explode(F.array_distinct(tokens_col))
                      .alias("tok"))
             .join(hot, "tok", "left_anti"))
    g_tok = (gazp.select("uprn", F.col("addr_core").alias("g_core"),
                         F.explode(F.array_distinct("tokens")).alias("tok"))
             .join(hot, "tok", "left_anti"))
    cand = (q_tok.join(g_tok, "tok")
            .groupBy(id_col, "uprn", "g_core")
            .agg(F.count("*").alias("_n_common"))
            .filter(F.col("_n_common") >= 2))
    q_grams = q.select(id_col, *carried,
                       trigram_grams_expr(F.col(text_col)).alias("_qg"))
    g_grams = (gazp.select(F.col("addr_core").alias("g_core")).distinct()
               .select("g_core",
                       trigram_grams_expr(F.col("g_core")).alias("_gg")))
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("uprn"))
    return (cand
            .join(q_grams, id_col)
            .join(g_grams, "g_core")
            .withColumn("sim", trigram_sim_expr(F.col("_qg"), F.col("_gg")))
            .filter(F.col("sim") >= min_sim)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .select(id_col, "uprn", "sim", *carried))


def cand_rule_rewrite(uaddr: DataFrame, gazp: DataFrame,
                      min_sim: float = 0.70, top_k: int = 5,
                      token_df_cap: int = 10000,
                      keep_sim: bool = False) -> DataFrame:
    """J7 full rule matcher: first-matching-rule rewrite (single
    when-chain projection — no per-rule pass over the corpus), then
    rare_token_trigram_join of the rewritten string (>= 2 shared rare
    tokens, trigram sim >= min_sim, top-k per address), per-rule
    confidence +-adjusted by similarity.
    Returns (addr_id, uprn, method, method_conf); keep_sim=True
    appends the raw trigram sim (audit / oracle slicing)."""
    from ..functions.normalize import STOP_TOKENS

    # first matching rule wins: one nested CASE expression, built
    # innermost-last so the FIRST rule is the outermost WHEN
    chain = None
    for name, pat, rep, conf in reversed(REWRITE_RULES):
        rw = (_compass_expand(F.col("addr_can")) if rep is None
              else F.regexp_replace("addr_can", pat, rep))
        rw = F.trim(F.regexp_replace(rw, r"\s+", " "))
        hit = F.col("addr_can").rlike(pat)
        branch = F.struct(F.lit(name).alias("rule"),
                          F.lit(conf).alias("base_conf"), rw.alias("rw"))
        chain = (F.when(hit, branch) if chain is None
                 else F.when(hit, branch).otherwise(chain))

    rw = (uaddr.select("addr_id", "addr_can")
          .withColumn("_r", chain)
          .filter(F.col("_r").isNotNull() &
                  (F.col("_r.rw") != F.col("addr_can")))
          .select("addr_id", "_r.*",
                  F.filter(F.split(F.col("_r.rw"), " "),
                           lambda t: (F.length(t) >= 2) &
                           ~t.isin(*STOP_TOKENS)).alias("_toks")))
    adj = (F.when(F.col("sim") >= 0.90, F.col("base_conf") + 0.10)
           .when(F.col("sim") >= 0.80, F.col("base_conf") + 0.05)
           .otherwise(F.col("base_conf")))
    return (rare_token_trigram_join(rw, gazp, "addr_id", "rw", "_toks",
                                    min_sim, top_k, token_df_cap)
            .select("addr_id", "uprn",
                    F.concat(F.lit("rule_"), "rule").alias("method"),
                    F.least(adj, F.lit(1.0)).alias("method_conf"),
                    *([F.col("sim")] if keep_sim else [])))


# J5 hierarchical cascade levels (reference:
# internal/engine/hierarchical_matcher.go:51-107): most -> least
# specific with base scores 0.95 -> 0.70; stop at the FIRST level that
# yields hits for an address; keep <= 5 candidates per level.
HIER_BASE = {
    "postcode_house": 0.95,
    "street_house_locality": 0.90,
    "street_locality": 0.80,
    "street_phonetic": 0.75,
    "locality_only": 0.70,
}


def cand_hierarchical(uaddr: DataFrame, gazp: DataFrame,
                      top_k: int = 5) -> DataFrame:
    """J5: 5-level component cascade with stop-at-first-hit semantics,
    as one equi-join on (kind, key), a key's kind being its level. A
    level's key is emitted only when every part is non-empty:

      1 [postcode, house]   3 [street, locality]
      4 [street_phonetic]   5 [locality]

    Level 2 (street + house, and d_loc = '' OR g_loc = '' OR
    d_loc = g_loc) is keys too: a gazetteer row emits [st, h] and
    [st, h, g_loc]; a doc emits [st, h] when d_loc = '', else
    [st, h, d_loc] and [st, h, ''] (_kind_key).

    The gazetteer side keeps only the top_k smallest uprns per
    (level, key) (dense_rank: a range-expanded uprn's rows share a
    rank). The output is the cascade's: an address hits a level
    exactly when one of its keys has a non-empty list, and the top_k
    smallest uprns of a union of keys are among each key's own top_k.
    So the join emits, per (address, key), at most top_k distinct
    uprns, each at most once per gazetteer row that carries it, even
    for a town-sized locality key (SCALE.md lesson 2). Each address
    keeps its minimum level, then the top_k uprns of it.

    Returns (addr_id, uprn, method='hier_<level>', method_conf=base).
    """
    h = norm_house_expr(F.col("c_house"))
    pc, st, loc, phon = (F.col(c) for c in ("postcode", "c_street",
                                            "c_locality", "street_phonetic"))
    key = _kind_key  # a key's kind is its level
    g = (_kind_keys(gazp, ["uprn"], key(1, [pc, h]), key(2, [st, h]),
                    key(2, [st, h], loc), key(3, [st, loc]), key(4, [phon]),
                    key(5, [loc]))
         .withColumn("_rn", F.dense_rank().over(
             Window.partitionBy("kind", "key").orderBy("uprn")))
         .filter(F.col("_rn") <= top_k))
    d = _kind_keys(uaddr, ["addr_id"], key(1, [pc, h]),
                   F.when(loc == "", key(2, [st, h]))
                    .otherwise(key(2, [st, h], F.lit(""))),
                   key(2, [st, h, loc]), key(3, [st, loc]), key(4, [phon]),
                   key(5, [loc]))
    w = Window.partitionBy("addr_id")
    return (d.join(g, ["kind", "key"])
            .withColumn("_min", F.min("kind").over(w))
            .filter(F.col("kind") == F.col("_min"))
            .select("addr_id", "uprn", "kind").distinct()
            .withColumn("_rn", F.row_number().over(w.orderBy("uprn")))
            .filter(F.col("_rn") <= top_k)
            .select("addr_id", "uprn",
                    _by_kind(["hier_" + n for n in HIER_BASE]).alias("method"),
                    _by_kind(HIER_BASE.values()).alias("method_conf")))


def cand_vector(uaddr: DataFrame, gazp: DataFrame, top_k: int = 10,
                min_sim: float = VECTOR_MIN_SIM) -> DataFrame:
    """J9: embedding ANN without a vector service, replacing Qdrant HNSW
    (reference: internal/vector/qdrant.go:45-110) and the brute-force
    store (vector_db.go:68-118). Addresses are hash-embedded at the
    width of the gazetteer's embeddings, read from one row. The route
    follows the size of the original rows' float32 matrix:

      broadcast — rows x dim x 4 B fits under the session's
          spark.sql.autoBroadcastJoinThreshold (the reference's 72K x 64
          gazetteer is 18 MB): the matrix is broadcast and each Arrow
          batch of addresses is scored with one GEMM and ann's top-k
          kernel. Nothing shuffles.
      IVF — it does not, or the threshold is -1 (10^8 x 384 is ~150 GB):
          ann.ivf_topk, each address probing IVF_PROBE of IVF_CELLS
          k-means cells; the only shuffle is on the cell id.

    The size is counted, not taken from Catalyst, which sizes array
    columns ~3x low: at most threshold // (dim x 4) + 1 rows are
    collected. Both routes keep the top_k by (cosine desc, uprn asc)
    and return (addr_id, uprn, vec_sim, method='vector'), vec_sim being
    the reference's (dot+1)/2 in [0, 1] (internal/engine/
    vector_db.go:171-193), kept when >= min_sim."""
    from .ann import _collect_matrix, _topk, ivf_topk
    from ..functions.embed import hash_embed_batch

    spark = uaddr.sparkSession
    orig = gazp.filter(F.col("source_type") == "original")
    dim = len(gazp.select("embedding").first()[0])
    cap = (spark._jsparkSession.sessionState().conf()
           .autoBroadcastJoinThreshold()) // (dim * 4)
    matrix = (_collect_matrix(orig.limit(cap + 1), "uprn", "embedding")
              if cap > 0 else None)
    if matrix is not None and len(matrix[0]) <= cap:
        b_matrix = spark.sparkContext.broadcast(matrix)

        def score_batches(it):
            uprns, mat = b_matrix.value
            for pdf in it:
                if len(pdf):
                    sims = hash_embed_batch(pdf["addr_core"], dim) @ mat.T
                    row, col, _ = _topk(sims, uprns, top_k)
                    yield pd.DataFrame({
                        "query_id": pdf["addr_id"].to_numpy()[row],
                        "neighbor_id": uprns[col],
                        "cosine": sims[row, col].astype(float)})

        out = uaddr.select("addr_id", "addr_core").mapInPandas(
            score_batches,
            schema="query_id string, neighbor_id string, cosine double")
    else:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, FloatType

        @pandas_udf(ArrayType(FloatType()))
        def _embed(texts: pd.Series) -> pd.Series:
            return pd.Series([r.tolist() for r in
                              hash_embed_batch(texts, dim)])

        q = uaddr.select(F.col("addr_id").alias("vec_id"),
                         _embed(F.col("addr_core")).alias("embedding"))
        c = orig.select(F.col("uprn").alias("vec_id"), "embedding")
        out = ivf_topk(q, c, k=top_k, n_cells=IVF_CELLS, n_probe=IVF_PROBE,
                       exclude_self=False)
    return (out.filter(F.col("cosine") >= 2 * min_sim - 1)
            .select(F.col("query_id").alias("addr_id"),
                    F.col("neighbor_id").alias("uprn"),
                    ((F.col("cosine") + 1.0) / 2.0).alias("vec_sim"),
                    F.lit("vector").alias("method")))


def union_candidates(*cands: DataFrame) -> DataFrame:
    """D7 union + dedupe keep-all-methods: one row per (addr_id, uprn)
    with the set of generating methods and the max method-carried
    confidence (rule/hierarchical base scores; null for the purely
    similarity-scored generators)."""
    withc = []
    for c in cands:
        if c is None:
            continue
        for col in ("method_conf", "vec_sim"):
            if col not in c.columns:
                c = c.withColumn(col, F.lit(None).cast("double"))
        withc.append(c)
    allc = withc[0]
    for c in withc[1:]:
        allc = allc.unionByName(c)
    return (allc.groupBy("addr_id", "uprn")
            .agg(F.collect_set("method").alias("methods"),
                 F.max("method_conf").alias("method_conf"),
                 F.max("vec_sim").alias("vec_sim")))
