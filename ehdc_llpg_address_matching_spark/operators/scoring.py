"""Pair feature computation + weighted scoring + conservative validation
(SURVEY.md §2.4 F1-F11, §2.5 D1-D4).

One Arrow pandas UDF computes all string-similarity features for a
candidate-pair batch at once (trigram / Jaro / Levenshtein on the
canonical strings plus street-level similarity); everything else —
house-number logic, locality overlap, spatial boost, liveness, the
weighted sum and the conservative validator — is plain column algebra
that stays inside whole-stage codegen.

Weights follow the reference's production fuzzy engine
(internal/engine/fuzzy.go:287-331); the conservative validator's
house-number-mandatory rule follows internal/validation/validator.go:
25-96 (house mismatch => reject, not just a penalty — this is the rule
that fixed the reference's '168 vs 147' false positives,
validator_test.go:28-34).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.normalize import norm_house_expr
from ..functions.similarity import (jaro_sim_batch, levenshtein_sim_batch,
                                    trigram_grams_expr, trigram_sim_expr)

# trigram / street similarity moved JVM-side (trigram_sim_expr over
# per-side hashed gram arrays) — the Arrow UDF now carries only the
# kernels that genuinely need Python (char-DP Jaro, tf-cosine)
PAIR_FEATURES_SCHEMA = StructType([
    StructField("jaro", DoubleType()),
    StructField("tok_cos", DoubleType()),
])

# below this trigram similarity a pair cannot reach the decision floor
# regardless of Jaro (D1 weights), so Jaro is skipped — the in-batch
# analog of the reference's cheap-first cascade
JARO_GATE = 0.10

# D1 weights (reference: internal/engine/fuzzy.go:287-331)
W = dict(trgm=0.50, jaro=0.40, locality=0.05, street=0.05, house=0.08,
         alpha=0.02, phonetic=0.03, spatial=0.05, live=0.02,
         nophon_penalty=0.03)

# D2 spec-engine weights (reference: internal/match/types.go:61-89 +
# scorer.go:52-139): 0.45 trigram + 0.45 embedding-cosine core, token
# overlaps, boolean boosts, linear-decay spatial boost capped 0.10
# (generator.go:428-441), -0.05 descriptor / -0.03 phonetic-miss
# penalties. LegacyUPRNValid (+0.20) is intentionally absent: legacy
# UPRNs match through the deterministic J1 path here, never through
# pair scoring. Selected via PipelineConfig.scorer = "spec".
W_SPEC = dict(trgm=0.45, embed=0.45, locality=0.05, street=0.05,
              house=0.08, alpha=0.02, usrn=0.04, live=0.03,
              descriptor=0.05, nophon=0.03, spatial_max=0.10)


def attach_pair_attrs(cands: DataFrame, uaddr: DataFrame,
                      gazp: DataFrame) -> DataFrame:
    """cands(addr_id, uprn, methods) x uaddr x gazp -> wide pair rows.
    gazp may hold several variants per uprn (range expansion); all are
    scored and the best survives the keep-best dedupe downstream."""
    def opt(df, col, alias):
        return (F.col(col) if col in df.columns
                else F.lit(None).cast("string")).alias(alias)

    d = uaddr.select(
        "addr_id",
        F.col("addr_core").alias("d_core"),
        # hashed 3-gram sets per side, before the join fan-out (see
        # trigram_grams_expr; VERDICT r3: the per-pair Python trigram
        # loop was the hottest kernel in the engine)
        trigram_grams_expr(F.col("addr_core")).alias("d_grams"),
        trigram_grams_expr(F.col("c_street")).alias("d_street_grams"),
        F.col("postcode").alias("d_pc"),
        F.col("tokens").alias("d_tokens"),
        F.col("house_numbers").alias("d_house_numbers"),
        F.col("c_house").alias("d_house"),
        F.col("c_street").alias("d_street"),
        F.col("c_locality").alias("d_locality"),
        opt(uaddr, "c_name", "d_name"),
        opt(uaddr, "usrn", "d_usrn"),
        F.col("street_phonetic").alias("d_phon"),
        F.col("is_vague").alias("d_vague"),
        F.col("easting").alias("d_e"), F.col("northing").alias("d_n"))
    g = gazp.select(
        "uprn",
        F.col("addr_core").alias("g_core"),
        trigram_grams_expr(F.col("addr_core")).alias("g_grams"),
        trigram_grams_expr(F.col("c_street")).alias("g_street_grams"),
        F.col("postcode").alias("g_pc"),
        F.col("tokens").alias("g_tokens"),
        F.col("house_numbers").alias("g_house_numbers"),
        F.col("c_house").alias("g_house"),
        F.col("c_street").alias("g_street"),
        F.col("c_locality").alias("g_locality"),
        opt(gazp, "usrn", "g_usrn"),
        opt(gazp, "blpu_class", "g_blpu"),
        F.col("street_phonetic").alias("g_phon"),
        F.col("status_code").alias("g_status"),
        F.col("source_type").alias("g_source_type"),
        F.col("easting").alias("g_e"), F.col("northing").alias("g_n"))
    return cands.join(d, "addr_id").join(g, "uprn")


def with_pair_features(pairs: DataFrame) -> DataFrame:
    """Hot-path pair features, over attach_pair_attrs ->
    with_column_features output. Trigram + street similarity are PURE
    JVM: the per-side hashed 3-gram arrays attach_pair_attrs computes
    once per side row, intersected with whole-stage-codegen set ops.
    The Arrow UDF carries only Jaro (char DP) and token-frequency
    cosine (F4, reference: internal/match/features.go:184-228), and
    both are gated on the JVM trigram clearing JARO_GATE — below it
    the pair can't reach the decision floor, so no Python runs at all
    for hopeless pairs. locality_sim is finalized here because its
    token fallback is the tf-cosine."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..functions.similarity import token_cosine_batch

    pairs = (pairs
             .withColumn("trgm", trigram_sim_expr(F.col("d_grams"),
                                                  F.col("g_grams")))
             .withColumn("street_sim",
                         trigram_sim_expr(F.col("d_street_grams"),
                                          F.col("g_street_grams"))))

    @pandas_udf(PAIR_FEATURES_SCHEMA)
    def _feat(trgm: pd.Series, d_core: pd.Series, g_core: pd.Series,
              d_tokens: pd.Series, g_tokens: pd.Series) -> pd.DataFrame:
        jaro = np.zeros(len(trgm))
        tok_cos = np.zeros(len(trgm))
        m = trgm.to_numpy() >= JARO_GATE
        if m.any():
            jaro[m] = jaro_sim_batch(d_core[m], g_core[m])
            tok_cos[m] = token_cosine_batch(
                d_tokens[m].to_numpy(), g_tokens[m].to_numpy())
        return pd.DataFrame({"jaro": jaro, "tok_cos": tok_cos})

    pairs = pairs.withColumn(
        "_f", _feat("trgm", "d_core", "g_core", "d_tokens", "g_tokens"))
    return (pairs
            .withColumn("jaro", F.col("_f.jaro"))
            .withColumn("tok_cos", F.col("_f.tok_cos"))
            .withColumn("locality_sim",
                        F.greatest("locality_sim",
                                   F.col("_f.tok_cos") * F.lit(0.5)))
            .drop("_f", "d_grams", "g_grams",
                  "d_street_grams", "g_street_grams"))


def prefilter_pairs(pairs: DataFrame) -> DataFrame:
    """JVM-side cheap gate BEFORE the Arrow UDF: a blocked-join pair is
    worth string-scoring only if it shares >=2 matching tokens, or a
    house number, or the full postcode, or came from a non-blocking
    generator (exact / rule / vector / spatial are already selective).
    Cuts the Arrow-shipped pair count several-fold; whole-stage codegen
    does the filtering next to the join."""
    tok_cnt = F.size(F.array_intersect("d_tokens", "g_tokens"))
    keep = (
        (tok_cnt >= 2)
        | F.coalesce(F.arrays_overlap("d_house_numbers", "g_house_numbers"),
                     F.lit(False))
        | ((F.col("d_pc") != "") & (F.col("d_pc") == F.col("g_pc")))
        | (F.size(F.array_remove("methods", "blocked_fuzzy")) > 0))
    return pairs.filter(keep)


def with_audit_levenshtein(pairs: DataFrame) -> DataFrame:
    """Normalized Levenshtein (F3) for the audit table — computed after
    keep-best/top-k truncation, so the DP runs on survivors only."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _lev(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(levenshtein_sim_batch(a, b))

    return pairs.withColumn("lev", _lev("d_core", "g_core"))


def with_column_features(pairs: DataFrame) -> DataFrame:
    """F6-F11: pure column expressions (whole-stage codegen), over
    attach_pair_attrs output and before with_pair_features."""
    for c in ("d_name", "d_usrn", "g_usrn", "g_blpu"):
        if c not in pairs.columns:
            pairs = pairs.withColumn(c, F.lit(None).cast("string"))
    house_overlap = F.when(
        (F.size("d_house_numbers") > 0) & (F.size("g_house_numbers") > 0),
        F.arrays_overlap("d_house_numbers", "g_house_numbers"))
    norm_house = norm_house_expr
    same_house_exact = norm_house(F.col("d_house")) == norm_house(F.col("g_house"))
    both_house = (F.col("d_house") != "") & (F.col("g_house") != "") & \
        F.col("d_house").isNotNull() & F.col("g_house").isNotNull()
    loc_overlap = F.when(
        (F.col("d_locality") != "") & (F.col("g_locality") != ""),
        F.size(F.array_intersect(F.split("d_locality", " "),
                                 F.split("g_locality", " "))) /
        F.greatest(F.least(F.size(F.split("d_locality", " ")),
                           F.size(F.split("g_locality", " "))), F.lit(1))
    ).otherwise(F.lit(0.0))
    dist = F.sqrt((F.col("d_e") - F.col("g_e")) ** 2 +
                  (F.col("d_n") - F.col("g_n")) ** 2)
    spatial_boost = F.when(
        F.col("d_e").isNotNull() & F.col("g_e").isNotNull(),
        F.exp(-dist / F.lit(300.0))).otherwise(F.lit(0.0))
    pc_match = F.when((F.col("d_pc") != "") & (F.col("g_pc") != ""),
                      F.col("d_pc") == F.col("g_pc"))
    pc_district = F.when(
        (F.col("d_pc") != "") & (F.col("g_pc") != ""),
        F.substring_index("d_pc", " ", 1) == F.substring_index("g_pc", " ", 1))
    return (pairs
            .withColumn("house_match", F.coalesce(house_overlap, F.lit(False)))
            .withColumn("house_exact", F.coalesce(both_house & same_house_exact,
                                                  F.lit(False)))
            .withColumn("house_conflict",
                        F.coalesce(both_house & ~same_house_exact &
                                   ~F.col("house_match"), F.lit(False)))
            # with_pair_features raises it to the tf-cosine fallback
            .withColumn("locality_sim", F.coalesce(loc_overlap, F.lit(0.0)))
            .withColumn("phonetic_hit",
                        F.coalesce((F.col("d_phon") != "") &
                                   (F.col("d_phon") == F.col("g_phon")),
                                   F.lit(False)))
            .withColumn("spatial_boost", spatial_boost)
            .withColumn("dist_m", F.when(F.col("d_e").isNotNull() &
                                         F.col("g_e").isNotNull(), dist))
            .withColumn("pc_match", F.coalesce(pc_match, F.lit(False)))
            .withColumn("pc_district_match", F.coalesce(pc_district, F.lit(False)))
            .withColumn("live", F.col("g_status") == "1")
            # F11 meta flags (reference: internal/match/features.go:
            # 128-143 — the reference STUBS usrn_match=false and
            # blpu_class_compat=true for lack of data; here both are
            # computed for real when the columns are populated, and
            # surfaced as audit features, not score terms — the D1
            # production weights don't use them, same as the reference)
            .withColumn("usrn_match",
                        F.coalesce(F.col("d_usrn").isNotNull() &
                                   (F.col("d_usrn") == F.col("g_usrn")),
                                   F.lit(False)))
            .withColumn("blpu_class_compat",
                        # a plain house-numbered residential doc vs a
                        # commercial-class BLPU is the one clear conflict
                        F.coalesce(
                            ~((F.col("d_house") != "") &
                              (F.coalesce(F.col("d_name"), F.lit("")) == "") &
                              F.col("g_blpu").startswith("C")),
                            F.lit(True))))


def _with_embed_cos(pairs: DataFrame, dim: int = 64) -> DataFrame:
    """Pair embedding cosine in the reference's (dot+1)/2-in-[0,1]
    convention (internal/engine/vector_db.go:171-193) for the D2 spec
    scorer: reuse vec_sim where the vector generator supplied it,
    hash-embed both canonical strings otherwise (the same deterministic
    embedder the J9 path uses)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..functions.embed import hash_embed_batch

    @pandas_udf(DoubleType())
    def _ecos(a: pd.Series, b: pd.Series) -> pd.Series:
        ea = hash_embed_batch(a, dim)
        eb = hash_embed_batch(b, dim)
        dot = (ea * eb).sum(axis=1)
        return pd.Series(np.clip((dot + 1.0) / 2.0, 0.0, 1.0).astype(float))

    have = (F.col("vec_sim") if "vec_sim" in pairs.columns
            else F.lit(None).cast("double"))
    return pairs.withColumn("embed_cos",
                            F.coalesce(have, _ecos("d_core", "g_core")))


def with_score(pairs: DataFrame, scorer: str = "fuzzy") -> DataFrame:
    """Weighted linear score, clamped to [0,1], then the conservative
    house gate (D3/D4): both-present-and-different house numbers crush
    the score x0.1 (engine_components_fixed.go:665-668 semantics).

    scorer='fuzzy' (default) uses the production fuzzy-engine weights
    W (D1, fuzzy.go:287-331); scorer='spec' uses the spec-engine
    weights W_SPEC (D2, scorer.go:52-139) where embedding cosine is a
    first-class 0.45-weight core term — the config switch lets users
    A/B the two reference scorers. The exact-canonical floor, the
    house-conflict crush and the strict validator (D3/D4) are separate
    reference components and apply under both."""
    if scorer == "spec":
        return _with_score_spec(pairs)
    raw = (F.lit(W["trgm"]) * F.col("trgm")
           + F.lit(W["jaro"]) * F.col("jaro")
           + F.lit(W["locality"]) * F.col("locality_sim")
           + F.lit(W["street"]) * F.col("street_sim")
           + F.when(F.col("house_match") | F.col("house_exact"),
                    F.lit(W["house"])).otherwise(F.lit(0.0))
           + F.when(F.col("house_exact"), F.lit(W["alpha"])).otherwise(F.lit(0.0))
           + F.when(F.col("phonetic_hit"), F.lit(W["phonetic"])).otherwise(F.lit(0.0))
           + F.lit(W["spatial"]) * F.col("spatial_boost")
           + F.when(F.col("live"), F.lit(W["live"])).otherwise(F.lit(0.0))
           - F.when(~F.col("phonetic_hit") & (F.col("trgm") < 0.85),
                    F.lit(W["nophon_penalty"])).otherwise(F.lit(0.0))
           + F.when(F.col("pc_match"), F.lit(0.05)).otherwise(F.lit(0.0)))
    score = F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0))
    if "vec_sim" in pairs.columns:
        # J9/F5 combined vector score (reference:
        # internal/engine/vector_matcher.go:322-361): 0.7*semantic +
        # 0.3*trigram + token bonus <= 0.10 — an alternative score path
        # for pairs the ANN generator surfaced; the house gate below
        # still applies (combined runs BEFORE the conflict crush)
        combined = (F.lit(0.7) * F.col("vec_sim")
                    + F.lit(0.3) * F.col("trgm")
                    + F.least(F.col("tok_cos") * F.lit(0.1), F.lit(0.10)))
        score = F.when(F.col("vec_sim").isNotNull(),
                       F.greatest(score, F.least(combined, F.lit(1.0)))) \
                 .otherwise(score)
    return _finalize_score(pairs, score)


def _finalize_score(pairs: DataFrame, score) -> DataFrame:
    """Shared D3/D4 tail for both scorers: house-conflict crush, the
    exact-canonical 0.99 floor, the strict validator."""
    score = F.when(F.col("house_conflict"), score * F.lit(0.1)).otherwise(score)
    # exact-canonical candidates score 0.99 regardless of fuzz
    score = F.when(F.array_contains("methods", "exact_canonical"),
                   F.greatest(score, F.lit(0.99))).otherwise(score)
    valid = (~F.col("house_conflict")) & (
        (F.col("street_sim") >= 0.90) | (F.col("trgm") >= 0.90) |
        F.array_contains("methods", "exact_canonical"))
    return (pairs
            .withColumn("score", score)
            .withColumn("validator_ok", valid))


def _with_score_spec(pairs: DataFrame) -> DataFrame:
    """D2 spec-engine score (scorer.go:52-139): core similarities
    (0.45 trigram + 0.45 embedding cosine), token overlaps, boolean
    boosts (house / house-alpha / USRN / live), linear-decay spatial
    boost capped at 0.10 over 2 km (generator.go:428-441), descriptor
    and phonetic-miss penalties; clamped to [0,1]."""
    pairs = _with_embed_cos(pairs)
    for c, typ in (("usrn_match", "boolean"), ("dist_m", "double")):
        if c not in pairs.columns:
            pairs = pairs.withColumn(c, F.lit(None).cast(typ))
    spatial = F.when(
        F.col("dist_m").isNotNull(),
        F.greatest(F.lit(0.0),
                   F.lit(W_SPEC["spatial_max"]) *
                   (F.lit(1.0) - F.col("dist_m") / F.lit(2000.0)))) \
        .otherwise(F.lit(0.0))
    raw = (F.lit(W_SPEC["trgm"]) * F.col("trgm")
           + F.lit(W_SPEC["embed"]) * F.col("embed_cos")
           + F.lit(W_SPEC["locality"]) * F.col("locality_sim")
           + F.lit(W_SPEC["street"]) * F.col("street_sim")
           + F.when(F.col("house_match") | F.col("house_exact"),
                    F.lit(W_SPEC["house"])).otherwise(F.lit(0.0))
           + F.when(F.col("house_exact"),
                    F.lit(W_SPEC["alpha"])).otherwise(F.lit(0.0))
           + F.when(F.coalesce(F.col("usrn_match"), F.lit(False)),
                    F.lit(W_SPEC["usrn"])).otherwise(F.lit(0.0))
           + F.when(F.col("live"), F.lit(W_SPEC["live"])).otherwise(F.lit(0.0))
           + spatial
           - F.when(F.col("d_vague"),
                    F.lit(W_SPEC["descriptor"])).otherwise(F.lit(0.0))
           - F.when(~F.col("phonetic_hit"),
                    F.lit(W_SPEC["nophon"])).otherwise(F.lit(0.0)))
    score = F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0))
    return _finalize_score(pairs, score)
