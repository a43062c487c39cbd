"""Capture the engine's key physical plans into PLANS.md.

Run from the repository root:

    python3 tools/gen_plans_md.py                      # rewrite PLANS.md
    python3 tools/gen_plans_md.py --section J5 --section J6

With --section, only the frames whose titles start with one of the
given prefixes are built, and their sections replace the sections of
the same title in PLANS.md (a new title goes in at its place in
SECTIONS). Every other section's text is kept as it is, so its
expression ids are not renumbered.
"""

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

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

OUT = os.path.join(ROOT, "PLANS.md")
GAZ_PARQUET = "/tmp/plansmd_gaz.parquet"

HEADER = (
    "# PLANS — physical-plan audit\n\n"
    "Generated by `tools/gen_plans_md.py`; invariants asserted in "
    "`tests/test_plans.py` so they cannot silently regress. The plan "
    "features dict counts: shuffles (`exchanges`), broadcasts, join "
    "strategies, Arrow UDF evaluations, windows, aggregates, codegen "
    "spans, pushed filters.\n\n"
    "Note: `InMemoryTableScan` nodes print their cached child plans, "
    "so raw node counts include cached-plan text; the load-bearing "
    "assertions match specific node signatures (e.g. "
    "`ArrowEvalPython [_feat`).\n\n")


def trim(text: str, limit: int = 40) -> str:
    lines = [ln[:160] for ln in text.splitlines()]
    if len(lines) > limit:
        lines = lines[:limit] + [f"... ({len(lines) - limit} more lines)"]
    return "\n".join(lines)


def _scan(ctx):
    return (ctx["spark"].read.parquet(GAZ_PARQUET)
            .filter(F.col("status_code") == "1")
            .select("uprn", "postcode"))


def _scoring(ctx):
    uaddr, gazp = ctx["uaddr"], ctx["gazp"]
    cands = C.union_candidates(C.cand_exact_canonical(uaddr, gazp),
                               C.cand_blocked(uaddr, gazp))
    pairs = S.prefilter_pairs(S.with_column_features(
        S.attach_pair_attrs(cands, uaddr, gazp)))
    return D.decide(D.keep_best_per_uprn(D.narrow_for_decision(
        S.with_score(S.with_pair_features(pairs)))))


def _minhash(ctx):
    from ehdc_llpg_address_matching_spark.operators.dedup import \
        minhash_band_candidates
    texts = ctx["spark"].range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        F.expr("concat_ws(' ', transform(sequence(1, 30), "
               "i -> conv(pmod(xxhash64(id % 40, i), 1000), 10, 36)))")
        .alias("text"))
    return minhash_band_candidates(texts)


def _lsh(ctx):
    from ehdc_llpg_address_matching_spark.operators.ann import lsh_topk
    vecs = ctx["spark"].range(150).select(
        F.col("id").cast("string").alias("vec_id"),
        F.expr("transform(sequence(1, 16), "
               "i -> cast(pmod(xxhash64(id, i), 1000) as double)/1000.0)")
        .alias("embedding"))
    return lsh_topk(vecs, vecs, k=5, dim=16)


# (title, build(ctx) -> frame, note, key-node regex), in PLANS.md order
SECTIONS = [
    ("Parquet scan: filter pushdown + column pruning", _scan,
     "A filtered two-column projection must reach the scan as "
     "`PushedFilters` with a pruned `ReadSchema` — full-row reads at "
     "100 TB are disqualifying.",
     r"PushedFilters|ReadSchema"),
    ("J1 legacy-UPRN validation join",
     lambda ctx: C.legacy_uprn_matches(ctx["docs_n"], ctx["gazp"]),
     "The 72K-row gazetteer UPRN set is broadcast; the document side "
     "streams. No shuffle of the big side.",
     r"BroadcastHashJoin|BroadcastExchange"),
    ("J3 blocked candidate join (with salting)",
     lambda ctx: C.cand_blocked(ctx["uaddr"], ctx["gazp"]),
     "Both sides exploded to (block_kind, block_key, salt) and "
     "equi-joined; hot keys salted (doc side pmod(xxhash64), gaz side "
     "exploded xS). AQE skew-join is enabled on top.",
     r"Join|Exchange hashpartitioning"),
    ("J4/J8 component joins: one keyed join",
     lambda ctx: C.cand_component_joins(ctx["uaddr"], ctx["gazp"]),
     "The five component strategies, (a) postcode + house, (b) street "
     "+ house + locality, (c) phonetic street + house, (d) the name's "
     "first token and (e) the postcode, are (kind, key) structs that "
     "both sides explode and meet in ONE equi-join on (kind, key). "
     "Trigram gram arrays are built once per exploded side row, for "
     "kinds 3 and 4 only; one CASE condition on the join runs the "
     "fuzzy-street check, the business-name check and its locality "
     "rule, and the method comes from the kind by element_at. No "
     "union of per-strategy joins, no nested-loop join.",
     r"HashJoin \[kind|SortMergeJoin \[kind|Filter CASE|CartesianProduct"),
    ("Scoring + decision chain", _scoring,
     "Exactly ONE ArrowEvalPython for the pair-scoring UDF (`_feat`); "
     "the cheap JVM prefilter sits below it; keep-best is a partial-"
     "aggregatable HashAggregate (max_by), not a window; the decision "
     "rank+margin share a single window spec.",
     r"ArrowEvalPython \[_feat|HashAggregate|Window \[row_number"),
    ("J5 hierarchical cascade: one keyed join",
     lambda ctx: C.cand_hierarchical(ctx["uaddr"], ctx["gazp"]),
     "Both sides explode (level, key) structs and meet in ONE equi-join "
     "on (level, key). The gazetteer side keeps the top_k smallest "
     "uprns per key with a dense_rank window (a range-expanded uprn's "
     "rows share a rank); Spark cuts each key to its top_k uprns' "
     "rows in a WindowGroupLimit below it (and in a partial one "
     "before the shuffle when the join is not broadcast), so a "
     "town-sized locality key joins at most top_k uprns per address. "
     "The address side's windows (minimum "
     "level, then top_k by uprn) share one addr_id partitioning. No "
     "semi-join probes, and no checkpoint leaf of its own: any "
     "`Scan ExistingRDD` node belongs to the inputs' cached plans.",
     r"HashJoin \[kind|SortMergeJoin \[kind|WindowGroupLimit \[kind|"
     r"LeftSemi|ExistingRDD"),
    ("J6 spatial proximity grid join",
     lambda ctx: C.cand_spatial(ctx["uaddr"], ctx["gazp"]),
     "ST_DWithin(R=100m) as a grid-cell equi-join: the doc side "
     "explodes, per axis, into the cells floor(q - pad) .. "
     "floor(q + pad) (3, or 4 at a cell boundary; see cand_spatial's "
     "cover proof), both sides join on (cell_x, cell_y), exact "
     "Euclidean filter after. No cartesian "
     "product, no UDF; the bench's denser 1-D variant uses a "
     "half-plane d in {0,+1} explode to halve the pair volume.",
     r"Join \w+join|Generate explode|CartesianProduct"),
    ("MinHash banded-LSH near-dup candidates", _minhash,
     "Signatures band into (band_idx, band_hash) keys; candidates "
     "come from an equi-join on those keys (band index in the key = "
     "built-in salting), never an all-pairs comparison. One Arrow "
     "eval computes the 64-hash signature per doc.",
     r"Join \w+join|ArrowEvalPython|CartesianProduct"),
    ("LSH ANN top-k: ids-only dedupe shuffle", _lsh,
     "Bucket-collision candidates are deduped on (q_id, c_id) ONLY "
     "— the HashAggregate below shuffles two id columns, never the "
     "embedding payloads (dim x 8 bytes per row per bucket "
     "collision; ~100x shuffle cut at 384 dims). Vectors re-attach "
     "by equi-join on the surviving pairs, each exactly once.",
     r"HashAggregate\(keys=\[q_id|Join \w+join"),
]


def render(title, df, note, excerpt_re):
    rep = plan_report(df)
    hits = [ln.strip()[:160] for ln in physical_plan(df).splitlines()
            if re.search(excerpt_re, ln)][:6]
    excerpt = "\n".join(hits)
    return (f"## {title}\n\n{note}\n\n"
            f"Plan features: `{rep}`\n\n"
            + (f"Key nodes:\n```\n{excerpt}\n```\n\n" if excerpt else "")
            + f"<details><summary>formatted plan</summary>\n\n```\n"
              f"{trim(formatted_plan(df))}\n```\n</details>\n")


def splice(text: str, fresh: dict) -> str:
    """PLANS.md text with the sections titled in ``fresh`` replaced or
    added, in SECTIONS order; every other section verbatim."""
    head, *parts = re.split(r"^(?=## )", text, flags=re.M)
    have = {p.splitlines()[0][3:]: p for p in parts}
    body = [fresh.get(t) or have[t] for t, *_ in SECTIONS
            if t in fresh or t in have]
    # one blank line between sections, as a full rewrite writes them
    return head + "\n".join(s.rstrip("\n") + "\n" for s in body)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--section", action="append", default=[],
                    help="title prefix of a section to rebuild "
                         "(repeatable); default: every section")
    args = ap.parse_args()
    wanted = [s for s in SECTIONS
              if not args.section
              or any(s[0].startswith(p) for p in args.section)]
    if not wanted:
        ap.error(f"no section title starts with {args.section}")

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    gaz, docs, _ = synth_tables(SynthConfig(seed=2, n_gazetteer=300,
                                            n_docs=400))
    spark.createDataFrame(gaz).write.mode("overwrite").parquet(GAZ_PARQUET)
    gazp = C.prepare_gazetteer(spark.read.parquet(GAZ_PARQUET)).cache()
    docs_n = normalize_documents(spark.createDataFrame(docs), None).cache()
    uaddr = with_blocking_keys(C.prepare_unique_addresses(docs_n)).cache()
    gazp.count(), docs_n.count(), uaddr.count()
    ctx = {"spark": spark, "gazp": gazp, "docs_n": docs_n, "uaddr": uaddr}

    fresh = {title: render(title, build(ctx), note, excerpt_re)
             for title, build, note, excerpt_re in wanted}
    if args.section:
        with open(OUT) as f:
            body = splice(f.read(), fresh)
    else:
        body = HEADER + "\n".join(fresh.values())
    with open(OUT, "w") as f:
        f.write(body)
    print(f"wrote {OUT} ({len(body)} bytes; sections: {', '.join(fresh)})")


if __name__ == "__main__":
    main()
