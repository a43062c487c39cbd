"""Data-integrity checks + threshold self-tuning (SURVEY.md §2.7 A4,
§5.4).

integrity_checks — the reference validates FK consistency and
UPRN-coordinate uniqueness after rebuild (cmd/matcher-v2/main.go:
1254-1364); ours returns one row per check with a violation count
(anti-join / groupBy-HAVING shapes).

tune_thresholds — the reference's threshold tuner uses already-
accepted deterministic matches as pseudo-gold and sweeps the accept
threshold, picking best F1 subject to a precision floor
(internal/engine/threshold_tuner.go:37-271). Ours computes the whole
confusion matrix for EVERY candidate threshold in a single aggregation
pass (conditional sums), not one scan per threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_SWEEP = [0.50, 0.55, 0.60, 0.65, 0.70, 0.75, 0.80, 0.85, 0.90]


def integrity_checks(result: DataFrame, gazp: DataFrame) -> DataFrame:
    """Returns (check string, violations long)."""
    spark = result.sparkSession
    gaz_uprns = gazp.filter(F.col("source_type") == "original") \
        .select("uprn").distinct()
    fk_bad = (result.filter(F.col("uprn").isNotNull())
              .join(gaz_uprns, "uprn", "left_anti").count())
    dup_docs = (result.groupBy("doc_id").count()
                .filter(F.col("count") > 1).count())
    multi_coord = (gazp.filter(F.col("source_type") == "original")
                   .groupBy("uprn")
                   .agg(F.countDistinct("easting", "northing").alias("n"))
                   .filter(F.col("n") > 1).count())
    conf_range = (result.filter(
        F.col("confidence").isNotNull() &
        ((F.col("confidence") < 0) | (F.col("confidence") > 1))).count())
    rows = [("matched_uprn_in_gazetteer", fk_bad),
            ("one_row_per_document", dup_docs),
            ("uprn_single_coordinate", multi_coord),
            ("confidence_in_unit_range", conf_range)]
    return spark.createDataFrame(rows, "check string, violations long")


def tune_thresholds(decided: DataFrame, pseudo_gold: DataFrame,
                    sweep: list[float] | None = None,
                    min_precision: float = 0.95) -> dict:
    """decided: scored top-1 candidates (addr_id, uprn, score, rank);
    pseudo_gold: (addr_id, uprn) trusted labels. Returns
    {'sweep': [{threshold, tp, fp, fn, precision, recall, f1}...],
     'best': {...}} — best F1 with precision >= min_precision.
    One Spark aggregation for the entire sweep.

    Approximation: tp/fp count rank-1 rows purely by score >= t,
    ignoring decide()'s margin / validator / vague / house gates, so
    the sweep's precision-recall curve slightly overstates what the
    pipeline accepts at the adopted threshold. That bias is shared by
    every sweep point (the gates are threshold-independent), so the
    argmax is stable; the adopted tau is then applied through the full
    gate ladder, never raw."""
    sweep = sweep or DEFAULT_SWEEP
    top1 = decided.filter(F.col("rank") == 1) \
        .select("addr_id", F.col("uprn").alias("pred_uprn"), "score")
    j = pseudo_gold.select("addr_id", F.col("uprn").alias("gold_uprn")) \
        .join(top1, "addr_id", "left")
    aggs = [F.count(F.lit(1)).alias("n_gold")]
    for i, t in enumerate(sweep):
        accept = F.col("score") >= F.lit(t)
        correct = F.col("pred_uprn") == F.col("gold_uprn")
        aggs += [
            F.sum((accept & correct).cast("long")).alias(f"tp_{i}"),
            F.sum((accept & ~correct).cast("long")).alias(f"fp_{i}"),
        ]
    row = j.agg(*aggs).collect()[0]
    out = []
    for i, t in enumerate(sweep):
        tp, fp = row[f"tp_{i}"] or 0, row[f"fp_{i}"] or 0
        # fn = gold rows NOT matched correctly at this threshold — an
        # accepted-but-wrong prediction is both a FP and a FN (pairwise-F1
        # definition, same as tools/eval_f1.py); counting only
        # not-accepted rows overstated recall across the sweep
        fn = (row["n_gold"] or 0) - tp
        p = tp / max(tp + fp, 1)
        r = tp / max(tp + fn, 1)
        f1 = 2 * p * r / max(p + r, 1e-12)
        out.append({"threshold": t, "tp": tp, "fp": fp, "fn": fn,
                    "precision": round(p, 4), "recall": round(r, 4),
                    "f1": round(f1, 4)})
    eligible = [o for o in out if o["precision"] >= min_precision]
    best = max(eligible or out, key=lambda o: o["f1"])
    return {"sweep": out, "best": best}

