"""G2 group fuzzy rescue (reference: cmd/matcher-v2/main.go:1367-1594).

Groups (planning-app clusters) where NO member matched get one more
chance: the group's longest address is re-matched against the
gazetteer with relaxed thresholds, and a sufficiently-strong winner is
fanned out to every member with confidence banded by similarity
(0.65 / 0.75 / 0.85 — reference banding at :1538-1543).

Spark shape: groupBy max_by(addr, length) -> candidates.
rare_token_trigram_join at top_k=1 (>= 2 shared rare tokens, JVM
trigram verify with per-side grams, top-1 window) -> join back to
members. Runs on the (small) residue after the main cascade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .candidates import rare_token_trigram_join


def group_fuzzy_rescue(docs_n: DataFrame, doc_matches: DataFrame,
                       gazp: DataFrame, group_col: str = "group_key",
                       min_sim: float = 0.5,
                       token_df_cap: int = 10000) -> DataFrame:
    """(doc_id, uprn, confidence, method='group_rescue') for members of
    previously-unmatched groups. token_df_cap bounds the token join
    (candidates.gaz_hot_tokens) so one hot suffix token can't make it
    quadratic at a 10^8-row gazetteer."""
    members = docs_n.filter(F.col(group_col).isNotNull()) \
        .select(group_col, "doc_id", "addr_core", "tokens")
    matched_groups = (members.join(doc_matches.select("doc_id"), "doc_id")
                      .select(group_col).distinct())
    unmatched = members.join(matched_groups, group_col, "left_anti")
    # representative: longest core address in the group (reference
    # picks the longest "real" address, :1388-1420). Length ties break
    # toward the lexicographically-max addr_core — max_by with a bare
    # length key left the tied case partition-order-dependent, which
    # violates the resume/snapshot contract (two runs of the same
    # input must emit identical rescues) and blocks oracle checking
    rep = (unmatched
           .groupBy(group_col)
           .agg(F.max_by(F.struct("addr_core", "tokens"),
                         F.struct(F.length("addr_core").alias("_l"),
                                  F.col("addr_core").alias("_a")))
                .alias("_r"))
           .select(group_col, F.col("_r.addr_core").alias("addr_core"),
                   F.col("_r.tokens").alias("tokens")))
    # one top-1 rare_token_trigram_join per group: keeping sim >=
    # min_sim before the top-1 window keeps the same rows as after it,
    # since a group whose best candidate is below min_sim has no
    # candidate at or above it
    winner = rare_token_trigram_join(rep, gazp, group_col, "addr_core",
                                     "tokens", min_sim, 1, token_df_cap)
    conf = (F.when(F.col("sim") >= 0.8, 0.85)
            .when(F.col("sim") >= 0.65, 0.75)
            .otherwise(0.65))
    return (unmatched.select(group_col, "doc_id")
            .join(winner, group_col)
            .select("doc_id", "uprn", conf.alias("confidence"),
                    F.lit("group_rescue").alias("method")))
