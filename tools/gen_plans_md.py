"""Capture the engine's key physical plans into PLANS.md.
Run: PYTHONPATH=/root/repo python3 tools/gen_plans_md.py
"""

import re
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.operators import candidates as C
from ehdc_llpg_address_matching_spark.operators import decision as D
from ehdc_llpg_address_matching_spark.operators import scoring as S
from ehdc_llpg_address_matching_spark.operators.blocking import \
    with_blocking_keys
from ehdc_llpg_address_matching_spark.pipeline import normalize_documents
from ehdc_llpg_address_matching_spark.plans.inspect import (formatted_plan,
                                                            physical_plan,
                                                            plan_report)
from ehdc_llpg_address_matching_spark.session import get_spark
from ehdc_llpg_address_matching_spark.synth import SynthConfig, synth_tables

OUT = "/root/repo/PLANS.md"


def trim(text: str, limit: int = 40) -> str:
    lines = [ln[:160] for ln in text.splitlines()]
    if len(lines) > limit:
        lines = lines[:limit] + [f"... ({len(lines) - limit} more lines)"]
    return "\n".join(lines)


def main():
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    gaz, docs, _ = synth_tables(SynthConfig(seed=2, n_gazetteer=300,
                                            n_docs=400))
    gp = "/tmp/plansmd_gaz.parquet"
    spark.createDataFrame(gaz).write.mode("overwrite").parquet(gp)
    gazp = C.prepare_gazetteer(spark.read.parquet(gp)).cache()
    docs_n = normalize_documents(spark.createDataFrame(docs), None).cache()
    uaddr = with_blocking_keys(C.prepare_unique_addresses(docs_n)).cache()
    gazp.count(), docs_n.count(), uaddr.count()

    sections = []

    def add(title, df, note, excerpt_re=None):
        rep = plan_report(df)
        fp = formatted_plan(df)
        excerpt = ""
        if excerpt_re:
            hits = [ln.strip()[:160] for ln in physical_plan(df).splitlines()
                    if re.search(excerpt_re, ln)][:6]
            excerpt = "\n".join(hits)
        sections.append(
            f"## {title}\n\n{note}\n\n"
            f"Plan features: `{rep}`\n\n"
            + (f"Key nodes:\n```\n{excerpt}\n```\n\n" if excerpt else "")
            + f"<details><summary>formatted plan</summary>\n\n```\n"
              f"{trim(fp)}\n```\n</details>\n")

    # 1. pushdown + pruning
    scan = (spark.read.parquet(gp)
            .filter(F.col("status_code") == "1")
            .select("uprn", "postcode"))
    add("Parquet scan: filter pushdown + column pruning", scan,
        "A filtered two-column projection must reach the scan as "
        "`PushedFilters` with a pruned `ReadSchema` — full-row reads at "
        "100 TB are disqualifying.",
        r"PushedFilters|ReadSchema")

    # 2. legacy UPRN broadcast join
    legacy = C.legacy_uprn_matches(docs_n, gazp)
    add("J1 legacy-UPRN validation join", legacy,
        "The 72K-row gazetteer UPRN set is broadcast; the document side "
        "streams. No shuffle of the big side.",
        r"BroadcastHashJoin|BroadcastExchange")

    # 3. blocked candidate join
    blocked = C.cand_blocked(uaddr, gazp)
    add("J3 blocked candidate join (with salting)", blocked,
        "Both sides exploded to (block_kind, block_key, salt) and "
        "equi-joined; hot keys salted (doc side pmod(xxhash64), gaz side "
        "exploded xS). AQE skew-join is enabled on top.",
        r"Join|Exchange hashpartitioning")

    # 4. scoring chain
    cands = C.union_candidates(C.cand_exact_canonical(uaddr, gazp),
                               C.cand_blocked(uaddr, gazp))
    pairs = S.prefilter_pairs(S.with_column_features(
        S.attach_pair_attrs(cands, uaddr, gazp)))
    decided = D.decide(D.keep_best_per_uprn(D.narrow_for_decision(
        S.with_score(S.with_pair_features(pairs)))))
    add("Scoring + decision chain", decided,
        "Exactly ONE ArrowEvalPython for the pair-scoring UDF (`_feat`); "
        "the cheap JVM prefilter sits below it; keep-best is a partial-"
        "aggregatable HashAggregate (max_by), not a window; the decision "
        "rank+margin share a single window spec.",
        r"ArrowEvalPython \[_feat|HashAggregate|Window \[row_number")

    # 5. J6 spatial grid join (engine-side 2-D variant)
    spatial = C.cand_spatial(uaddr, gazp)
    add("J6 spatial proximity grid join", spatial,
        "ST_DWithin(R=100m) as a grid-cell equi-join: the doc side "
        "explodes, per axis, into the cells floor(q - pad) .. "
        "floor(q + pad) (3, or 4 at a cell boundary; see cand_spatial's "
        "cover proof), both sides join on (cell_x, cell_y), exact "
        "Euclidean filter after. No cartesian "
        "product, no UDF; the bench's denser 1-D variant uses a "
        "half-plane d in {0,+1} explode to halve the pair volume.",
        r"Join \w+join|Generate explode|CartesianProduct")

    # 6. MinHash banded-LSH near-dup candidates
    texts = spark.range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        F.expr("concat_ws(' ', transform(sequence(1, 30), "
               "i -> conv(pmod(xxhash64(id % 40, i), 1000), 10, 36)))")
        .alias("text"))
    from ehdc_llpg_address_matching_spark.operators.dedup import \
        minhash_band_candidates
    bands = minhash_band_candidates(texts)
    add("MinHash banded-LSH near-dup candidates", bands,
        "Signatures band into (band_idx, band_hash) keys; candidates "
        "come from an equi-join on those keys (band index in the key = "
        "built-in salting), never an all-pairs comparison. One Arrow "
        "eval computes the 64-hash signature per doc.",
        r"Join \w+join|ArrowEvalPython|CartesianProduct")

    # 7. LSH ANN top-k: ids-only dedupe shuffle (round-4 advice fix)
    from ehdc_llpg_address_matching_spark.operators.ann import lsh_topk
    vecs = spark.range(150).select(
        F.col("id").cast("string").alias("vec_id"),
        F.expr("transform(sequence(1, 16), "
               "i -> cast(pmod(xxhash64(id, i), 1000) as double)/1000.0)")
        .alias("embedding"))
    ann = lsh_topk(vecs, vecs, k=5, dim=16)
    add("LSH ANN top-k: ids-only dedupe shuffle", ann,
        "Bucket-collision candidates are deduped on (q_id, c_id) ONLY "
        "— the HashAggregate below shuffles two id columns, never the "
        "embedding payloads (dim x 8 bytes per row per bucket "
        "collision; ~100x shuffle cut at 384 dims). Vectors re-attach "
        "by equi-join on the surviving pairs, each exactly once.",
        r"HashAggregate\(keys=\[q_id|Join \w+join")

    body = (
        "# PLANS — physical-plan audit\n\n"
        "Generated by `tools/gen_plans_md.py`; invariants asserted in "
        "`tests/test_plans.py` so they cannot silently regress. The plan "
        "features dict counts: shuffles (`exchanges`), broadcasts, join "
        "strategies, Arrow UDF evaluations, windows, aggregates, codegen "
        "spans, pushed filters.\n\n"
        "Note: `InMemoryTableScan` nodes print their cached child plans, "
        "so raw node counts include cached-plan text; the load-bearing "
        "assertions match specific node signatures (e.g. "
        "`ArrowEvalPython [_feat`).\n\n" + "\n".join(sections))
    with open(OUT, "w") as f:
        f.write(body)
    print(f"wrote {OUT} ({len(body)} bytes)")


if __name__ == "__main__":
    main()
