"""G3 LLM golden-record similarity (reference: cmd/matcher-v2/main.go
applyGroupLLMMatching :1992-2213 and askLLMAddressSimilarity
:2116-2213).

The reference finds planning groups that already hold a "golden
record" (2+ high-confidence matches to one UPRN), then asks a local
LLM (llama3.2:1b via Ollama) whether each still-unmatched member's raw
address refers to the same physical location as the golden address,
applying the correction at verdict SAME with confidence >= 0.8. In
production the whole phase is HARD-DISABLED (main.go:1651-1656:
"SKIPPING ALL LLM CORRECTIONS - they degrade data quality").

This module reproduces the complete Spark-side machinery — golden-
record election, candidate selection, batched mapInPandas fan-out,
the prompt contract and the SAME|0.85 verdict parser — with the LLM
client itself pluggable (`llm_fn`). The pipeline runs the phase iff
`PipelineConfig.llm_fn` is set, so it is OFF by default, for the
reference's own documented reason; calling
llm_golden_record_corrections without a client raises. No network
client ships here: in a deployment `llm_fn` wraps whatever serving endpoint is
available; in tests it is a deterministic fake.

Scale shape: golden election is two narrow groupBys on (group_key);
the LLM fan-out is a mapInPandas over ONLY the unmatched members of
qualifying groups (a small residue by construction — groups are
capped at 8 docs and need 2+ high-conf matches), so the expensive
per-pair LLM call count is bounded by the residue size, never the
corpus.
"""

from __future__ import annotations

import re
from typing import Callable, Optional

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

# the reference's prompt, verbatim contract (main.go:2117-2137); the
# {raw}/{golden} slots are the two addresses
PROMPT_TEMPLATE = """You are an address matching expert. Your task is to determine if two UK addresses refer to the same physical location.

IMPORTANT: Focus on whether these are the SAME PHYSICAL LOCATION, not just similar addresses.
The golden record shows the correct LLPG format for addresses in this area.

Address 1 (unmatched): {raw}
Address 2 (golden record from LLPG): {golden}

Consider:
1. Are these likely the same property/building?
2. Local area names (e.g., "Woodcock Bottom" might be a local name for an area on "Avenue Road")
3. Alternative descriptions of the same location
4. Minor formatting differences
5. Missing or additional location descriptors

Respond with exactly:
- "SAME" if they likely refer to the same physical location
- "DIFFERENT" if they are clearly different locations
- A confidence score from 0.0 to 1.0

Format: SAME|0.85 or DIFFERENT|0.30"""

_VERDICT_RE = re.compile(r"\b(SAME|DIFFERENT)\b[^0-9]*([01](?:\.\d+)?)",
                         re.IGNORECASE)


def build_prompt(raw_address: str, golden_address: str) -> str:
    return PROMPT_TEMPLATE.format(raw=raw_address, golden=golden_address)


def parse_llm_verdict(text: str) -> tuple[bool, float]:
    """Parse the model's 'SAME|0.85' / 'DIFFERENT|0.30' contract
    (reference parses the same format, main.go:2180-2213). Tolerant of
    case, surrounding prose and whitespace; anything unparseable is a
    conservative (False, 0.0) — an LLM that breaks format must never
    create a correction."""
    if not text:
        return False, 0.0
    m = _VERDICT_RE.search(text)
    if not m:
        return False, 0.0
    same = m.group(1).upper() == "SAME"
    try:
        conf = float(m.group(2))
    except ValueError:
        return False, 0.0
    return same, max(0.0, min(conf, 1.0))


def find_golden_records(doc_matches: DataFrame, docs_n: DataFrame,
                        gazp: DataFrame,
                        group_col: str = "group_key",
                        high_conf: float = 0.9,
                        min_group: int = 2, max_group: int = 8,
                        min_high: int = 2) -> DataFrame:
    """Golden record per qualifying group (the reference's groupsSQL,
    main.go:1995-2028): groups of min_group..max_group docs with >=
    min_high matches at confidence >= high_conf and >= 1 unmatched
    member. The golden UPRN is the most-voted high-confidence match
    (votes desc, max conf desc, min uprn — the reference orders by
    COUNT desc, MAX(confidence) desc); its display address comes from
    the gazetteer. Returns (group_key, golden_uprn, golden_address)."""
    members = docs_n.filter(F.col(group_col).isNotNull()) \
        .select(group_col, "doc_id")
    joined = members.join(
        doc_matches.select("doc_id", "uprn", "confidence"),
        "doc_id", "left")
    stats = (joined.groupBy(group_col)
             .agg(F.count("*").alias("n_docs"),
                  F.sum((F.col("confidence") >= high_conf)
                        .cast("long")).alias("n_high"),
                  F.sum(F.col("uprn").isNull().cast("long"))
                  .alias("n_unmatched"))
             .filter((F.col("n_docs") >= min_group) &
                     (F.col("n_docs") <= max_group) &
                     (F.col("n_high") >= min_high) &
                     (F.col("n_unmatched") >= 1)))
    gaz_addr = (gazp.filter(F.col("source_type") == "original")
                .groupBy("uprn")
                .agg(F.min("full_address").alias("golden_address")))
    # elect only among UPRNs that HAVE a gazetteer display address: a
    # historic-UPRN vote leader (matched at confidence 1.0, absent
    # from the original gazetteer) would otherwise win the window and
    # then vanish at the address join, silently dropping the whole
    # group — the next-best addressable UPRN must win instead.
    votes = (joined.filter(F.col("confidence") >= high_conf)
             .join(gaz_addr.select("uprn"), "uprn", "left_semi")
             .groupBy(group_col, "uprn")
             .agg(F.count("*").alias("votes"),
                  F.max("confidence").alias("max_conf")))
    w = Window.partitionBy(group_col).orderBy(
        F.desc("votes"), F.desc("max_conf"), F.asc("uprn"))
    golden = (votes.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .join(stats.select(group_col), group_col, "left_semi")
              .select(group_col, F.col("uprn").alias("golden_uprn")))
    return golden.join(gaz_addr,
                       golden.golden_uprn == gaz_addr.uprn) \
        .select(group_col, "golden_uprn", "golden_address")


def llm_golden_record_corrections(
        doc_matches: DataFrame, docs_n: DataFrame, gazp: DataFrame,
        llm_fn: Optional[Callable[[pd.Series], pd.Series]] = None,
        group_col: str = "group_key",
        min_conf: float = 0.8,
        batch_size: int = 16) -> DataFrame:
    """G3: ask the injected LLM whether each unmatched member of a
    golden-record group matches the golden address; corrections at
    SAME with confidence >= min_conf (reference main.go:2086-2100).

    llm_fn: pd.Series[str prompt] -> pd.Series[str response] — one
    call per Arrow batch (the serving-endpoint analog of the
    reference's per-row Ollama POST, but batched: at 10^12 docs the
    residue streams through executors and each partition issues
    bounded batch calls instead of one HTTP round-trip per row).
    Required: this operator has no default model. The reference ships
    this phase hard-disabled (main.go:1651-1656) — the pipeline runs it
    only when PipelineConfig.llm_fn injects a client.

    Returns (doc_id, uprn, confidence, method='llm_golden')."""
    if llm_fn is None:
        raise NotImplementedError(
            "G3 llm_golden_record_corrections needs an injected llm_fn; "
            "the reference hard-disables this phase in production "
            "(cmd/matcher-v2/main.go:1651-1656) and no LLM client is "
            "bundled here")
    golden = find_golden_records(doc_matches, docs_n, gazp,
                                 group_col=group_col)
    unmatched = (docs_n.filter(F.col(group_col).isNotNull() &
                               F.col("raw_address").isNotNull() &
                               (F.col("raw_address") != ""))
                 .join(doc_matches.select("doc_id"), "doc_id",
                       "left_anti")
                 .select("doc_id", group_col, "raw_address"))
    cand = unmatched.join(golden, group_col) \
        .select("doc_id", "raw_address", "golden_uprn", "golden_address")

    def _ask(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            out = []
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start:start + batch_size]
                prompts = pd.Series([
                    build_prompt(r, g) for r, g in
                    zip(chunk["raw_address"], chunk["golden_address"])])
                responses = llm_fn(prompts)
                parsed = [parse_llm_verdict(t) for t in responses]
                out.append(pd.DataFrame({
                    "doc_id": chunk["doc_id"].to_numpy(),
                    "uprn": chunk["golden_uprn"].to_numpy(),
                    "same": [p[0] for p in parsed],
                    "confidence": [p[1] for p in parsed],
                }))
            yield pd.concat(out, ignore_index=True)

    verdicts = cand.mapInPandas(
        _ask, schema=("doc_id string, uprn string, same boolean, "
                      "confidence double"))
    return (verdicts
            .filter(F.col("same") & (F.col("confidence") >= min_conf))
            .select("doc_id", "uprn", "confidence",
                    F.lit("llm_golden").alias("method")))
