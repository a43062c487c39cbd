"""Seeded workload inputs and output checks for the linkage benchmark.

Inputs are written once per (workload, seed) as parquet under the
benchmark's work directory, outside every timing. The engine only ever
sees those parquet files; the gold labels stay with the benchmark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

# Dirt mix weighted toward deterministic renders, so many documents
# repeat the same raw address string (distinct ratio ~0.35 at 2,000
# docs, against ~0.76 for the default mix).
REPEAT_DIRT = {"exact": 0.35, "abbrev": 0.30, "uprn_suffix": 0.15,
               "postcode_drop": 0.10, "typo": 0.05,
               "postcode_unspaced": 0.05}

# Sizes are set by the run budget on a 4-core box: every job is a fresh
# JVM, and the engine's fixed per-run cost (session start, plan
# compilation, ~250 Spark stages) is ~45 s before data size counts.
WORKLOADS = {
    # the nightly run_linkage.py shape: default dirt mix, every generator
    "bulk_link": {"kind": "batch",
                  "synth": {"n_gazetteer": 1000, "n_docs": 2000}},
    # repeat-heavy documents dropped as parquet files into a directory,
    # drained one file per micro-batch through the streaming candidate
    # front end against a gazetteer prepared once
    "stream_link": {"kind": "stream", "files": 4,
                    "synth": {"n_gazetteer": 1000, "n_docs": 2000,
                              "group_size_mean": 12,
                              "dirt_weights": REPEAT_DIRT}},
}

# Exact output counts at seed 42.
PINNED = {
    ("bulk_link", 42): {"matches": 1982, "candidate_pairs": 41963,
                        "audit_pairs": 9369},
    ("stream_link", 42): {"rows": 114431},
}
# Quality floors that every seed must meet: batch linkage holds the
# engine's 0.99 pairwise-F1 gate; the stream front end must put the
# labelled UPRN among a document's candidates.
QUALITY_FLOOR = {"bulk_link": ("f1", 0.99), "stream_link": ("recall", 0.75)}


def input_dir(work: str, workload: str, seed: int) -> str:
    spec = json.dumps(WORKLOADS[workload], sort_keys=True)
    tag = hashlib.sha1(spec.encode()).hexdigest()[:10]
    return os.path.join(work, "inputs", f"{workload}-s{seed}-{tag}")


def make_inputs(work: str, workload: str, seed: int) -> str:
    """Write the workload's gazetteer, documents and gold labels for
    ``seed`` (once; later calls reuse them) and return their directory."""
    dest = input_dir(work, workload, seed)
    if os.path.exists(os.path.join(dest, "DONE")):
        return dest
    from ehdc_llpg_address_matching_spark.synth import (
        SynthConfig, _docs_arrow_schema, synth_tables)
    w = WORKLOADS[workload]
    gaz, docs, gold = synth_tables(SynthConfig(seed=seed, **w["synth"]))
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "documents"))
    gaz.to_parquet(os.path.join(tmp, "gazetteer.parquet"), index=False)
    gold[["doc_id", "uprn"]].to_parquet(os.path.join(tmp, "gold.parquet"),
                                        index=False)
    n_files = w.get("files", 1)
    per = -(-len(docs) // n_files)
    for i in range(n_files):
        docs.iloc[i * per:(i + 1) * per].to_parquet(
            os.path.join(tmp, "documents", f"part-{i:04d}.parquet"),
            index=False, schema=_docs_arrow_schema())
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write(f"{len(docs)}\n")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


def pairwise_prf(gold, pred) -> tuple[float, float, float]:
    """Pairwise precision / recall / F1 of predicted (doc_id, uprn)
    against the generator's labels, counted as tools/eval_f1.py does: a
    wrong UPRN is a false positive, a missing one a false negative."""
    j = gold.merge(pred.rename(columns={"uprn": "uprn_pred"}),
                   on="doc_id", how="left")
    has_pred, has_gold = j.uprn_pred.notna(), j.uprn.notna()
    tp = int((has_pred & (j.uprn == j.uprn_pred)).sum())
    fp = int((has_pred & has_gold & (j.uprn != j.uprn_pred)).sum()
             + (has_pred & ~has_gold).sum())
    fn = int((has_gold & ~has_pred).sum())
    p = tp / max(tp + fp, 1)
    r = tp / max(tp + fn, 1)
    return p, r, 2 * p * r / max(p + r, 1e-12)


def check_outputs(workload: str, seed: int, inputs: str,
                  pred, counts: dict) -> tuple[dict, list[str]]:
    """Check one job's outputs: matched (doc_id, uprn) rows for batch,
    candidate rows for stream. Returns (quality figures, failures)."""
    import pandas as pd
    gold = pd.read_parquet(os.path.join(inputs, "gold.parquet"))
    errors = []
    if WORKLOADS[workload]["kind"] == "batch":
        dup = int(pred.doc_id.duplicated().sum())
        if dup:
            errors.append(f"{dup} documents matched more than once")
        p, r, f1 = pairwise_prf(gold, pred.drop_duplicates("doc_id"))
        quality = {"precision": p, "recall": r, "f1": f1}
    else:
        # exactly once: one micro-batch and one sink commit per input
        # file, no part file outside the commit log or in it twice, and
        # every document's rows committed by a single micro-batch
        files = WORKLOADS[workload].get("files", 1)
        if not counts["batches"] == counts["commits"] == files:
            errors.append(f"{counts['batches']} batches and "
                          f"{counts['commits']} commits for {files} files")
        for name in ("uncommitted_files", "files_committed_twice"):
            if counts[name]:
                errors.append(f"{name}: {counts[name]}")
        again = int((pred.groupby("doc_id").batch.nunique() > 1).sum())
        if again:
            errors.append(f"{again} documents in more than one micro-batch")
        labelled = gold[gold.uprn.notna()]
        hit = labelled.merge(pred[["doc_id", "uprn"]].drop_duplicates(),
                             on=["doc_id", "uprn"])
        quality = {"recall": len(hit) / max(len(labelled), 1)}
    stray = int((~pred.doc_id.isin(gold.doc_id)).sum())
    if stray:
        errors.append(f"{stray} output doc_ids are not input documents")
    if pred.uprn.isna().any():
        errors.append("an output row has no UPRN")
    key, floor = QUALITY_FLOOR[workload]
    if quality[key] < floor:
        errors.append(f"{key} {quality[key]:.4f} < {floor}")
    for name, want in PINNED.get((workload, seed), {}).items():
        if counts.get(name) != want:
            errors.append(f"{name} {counts.get(name)} != pinned {want}")
    quality["docs"] = len(gold)
    return quality, errors
