"""Deterministic synthetic gazetteer / documents / gold-pairs generator.

Produces the exact input shape demanded by BASELINE.json's input_hint:

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

plus the LLPG-style gazetteer dimension and a labeled gold-pairs table
for the pairwise-F1 gate (FIXTURES.md §§1-3). Everything is seeded —
same (seed, sizes) => byte-identical tables — because the sandbox has
no external data and the correctness gate needs reproducible labels.

Corruption profiles mirror the reference's observed dirt
(FIXTURES.md §1): inverse abbreviation (ROAD->RD), Damerau<=2 typos,
dropped/unspaced postcodes (GU341AA), descriptor prefixes
(LAND AT / REAR OF ...), legacy UPRN with a ``.00`` suffix
(reference: internal/matcher/engine_components_fixed.go:253-257),
coordinate jitter, and a deliberately hot postcode sector for skew
tests.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- vocab

STREET_NAMES = [
    "HIGH", "CHURCH", "STATION", "MILL", "GREEN", "PARK", "LONDON",
    "WINCHESTER", "FARNHAM", "QUEENS", "KINGS", "VICTORIA", "ALBERT",
    "ORCHARD", "MEADOW", "SCHOOL", "CHAPEL", "BROOK", "OAK", "ELM",
    "WILLOW", "CEDAR", "MANOR", "GRANGE", "RECTORY", "VICARAGE",
    "FOREST", "HEATH", "DOWNS", "VALLEY", "RIVER", "BRIDGE", "MARKET",
    "CASTLE", "TOWER", "ABBEY", "PRIORY", "GARDEN", "SPRING", "SUMMER",
]
STREET_SUFFIXES = ["ROAD", "STREET", "LANE", "CLOSE", "AVENUE", "DRIVE",
                   "WAY", "GARDENS", "CRESCENT", "PLACE", "COURT", "HILL"]
LOCALITIES = [
    "ALTON", "PETERSFIELD", "ALRESFORD", "BORDON", "LIPHOOK", "LISS",
    "HORNDEAN", "CLANFIELD", "ROWLANDS CASTLE", "FOUR MARKS",
    "GRAYSHOTT", "HEADLEY", "BENTLEY", "SELBORNE", "EAST MEON",
    "WEST TISTED", "MEDSTEAD", "BEECH", "BINSTED", "KINGSLEY",
]
POSTCODE_AREAS = ["GU", "SO", "PO"]
PROPERTY_NAMES = [
    "THE OLD RECTORY", "ROSE COTTAGE", "OAKLEIGH", "THE WILLOWS",
    "HILLCREST", "FAIRVIEW", "SUNNYSIDE", "THE GABLES", "IVY COTTAGE",
    "THE COACH HOUSE", "MEADOW VIEW", "THE BARN", "YEW TREE COTTAGE",
]
# inverse of the reference's expansion table
# (internal/normalize/address.go:25-59) — used to dirty documents
ABBREV = {
    "ROAD": "RD", "STREET": "ST", "AVENUE": "AVE", "LANE": "LN",
    "CLOSE": "CL", "DRIVE": "DR", "GARDENS": "GDNS", "CRESCENT": "CRES",
    "PLACE": "PL", "COURT": "CT", "SAINT": "ST.",
}
DESCRIPTORS = ["LAND AT", "REAR OF", "FORMER SITE OF", "LAND ADJACENT TO",
               "PLOT 2", "SITE OF"]
PROSE_SNIPPETS = [
    "Planning application for development at",
    "Decision notice issued in respect of",
    "Enforcement action concerning the property known as",
    "Land charge registered against",
    "Agreement under section 106 relating to",
]

EMBED_DIM_DEFAULT = 64


def _hash_embed(text: str, dim: int) -> np.ndarray:
    """Deterministic hash embedder (analog of the reference's fallback
    embedder, internal/embeddings/simple.go:21-98 — reimplemented, not
    copied): each token seeds a PRNG vector; sum then L2-normalize."""
    v = np.zeros(dim, dtype=np.float64)
    for tok in text.split():
        seed = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
        rs = np.random.RandomState(seed % (2**32))
        v += rs.standard_normal(dim)
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v.astype(np.float32)


@dataclass
class SynthConfig:
    seed: int = 42
    n_gazetteer: int = 2000
    n_docs: int = 3000
    embed_dim: int = EMBED_DIM_DEFAULT
    unmatchable_frac: float = 0.05
    hot_sector_frac: float = 0.20   # share of gazetteer in ONE postcode sector (skew)
    media_span_frac: float = 0.5    # docs that carry interleaved media spans
    group_size_mean: int = 4        # docs per planning-group (cluster layer)
    historic_frac: float = 0.03     # groups whose legacy UPRN is valid but absent
    #                                 from the gazetteer (historic-UPRN creation,
    #                                 reference cmd/bulk-historic-uprns)
    dirt_weights: dict = field(default_factory=lambda: {
        "exact": 0.15, "abbrev": 0.25, "typo": 0.20, "postcode_drop": 0.10,
        "postcode_unspaced": 0.08, "descriptor": 0.08, "uprn_suffix": 0.10,
        "multi": 0.04,
    })
    # share of groups rendered as J7-rule-DECISIVE variants (the named
    # rewrites — LUCKY LITE FARM, LASHAM AIRFIELD, FOUR MARKS spacing —
    # where canonicalization alone cannot reach the gazetteer string, so
    # only the rule matcher can win). 0.0 = off and BYTE-IDENTICAL
    # output to older corpora for every existing seed (no extra rng
    # draws, no extra gazetteer rows).
    rule_special_frac: float = 0.0
    # share of groups rendered as G2-rescue-DECISIVE street fragments:
    # every member of the group carries the SAME house-number-less,
    # postcode-less render of the target (street words + locality
    # only), so no member clears the decision ladder (no house_match
    # for the medium rung, near-zero margins against same-street
    # neighbours for the high/method-conf rungs) and the whole group
    # goes unmatched — only the group-rescue trigram path
    # (operators/rescue.py, reference cmd/matcher-v2/main.go:1367-1594)
    # can assign it. Same 0.0 = byte-identical-seeds contract as
    # rule_special_frac.
    rescue_frac: float = 0.0


# J7-decisive gazetteer rows + the doc-side variant that only the
# rewrite rule chain maps onto them (candidates.REWRITE_RULES 1-3; the
# descriptor rules are NOT decisive here because addr_core strips
# descriptors, and CO-OP/compass are handled by N5/N3 normalization).
SPECIAL_RULE_ROWS = [
    ("999100001", "LUCKYLITE FARM CATHERINGTON LANE", "HORNDEAN",
     "PO8 0TB", "LUCKY LITE FARM"),
    ("999100002", "LASHAM AERODROME", "LASHAM", "GU34 5SX",
     "LASHAM AIRFIELD"),
    ("999100003", "FOURMARKS GARAGE WINCHESTER ROAD", "MEDSTEAD",
     "GU34 5HZ", "FOUR MARKS GARAGE WINCHESTER ROAD"),
]


def _typo(rng: random.Random, word: str) -> str:
    """One Damerau edit (sub/del/ins/transpose) on an alpha token."""
    if len(word) < 4:
        return word
    i = rng.randrange(1, len(word) - 1)
    op = rng.choice(["sub", "del", "ins", "swap"])
    c = rng.choice("ABCDEFGHIKLMNOPRSTUW")
    if op == "sub":
        return word[:i] + c + word[i + 1:]
    if op == "del":
        return word[:i] + word[i + 1:]
    if op == "ins":
        return word[:i] + c + word[i:]
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


def build_gazetteer(cfg: SynthConfig) -> pd.DataFrame:
    rng = random.Random(cfg.seed)
    rows = []
    # locality -> postcode district + planar center (EPSG:27700-ish)
    loc_meta = {}
    for li, loc in enumerate(LOCALITIES):
        area = POSTCODE_AREAS[li % len(POSTCODE_AREAS)]
        district = f"{area}{10 + li}"
        loc_meta[loc] = (district, 460000 + li * 2500, 110000 + (li * 1731) % 40000)
    hot_sector = "GU10 1"  # deliberately hot postcode sector
    uprn_base = 100000000
    n = cfg.n_gazetteer
    n_hot = int(n * cfg.hot_sector_frac)
    seen_addr: set[str] = set()  # no twin addresses with different UPRNs
    for i in range(n):
        uprn = str(uprn_base + i * 7)
        if i < n_hot:
            loc = "ALTON"
            district, ex, ny = loc_meta[loc]
            sector = hot_sector
        else:
            loc = rng.choice(LOCALITIES)
            district, ex, ny = loc_meta[loc]
            sector = f"{district} {rng.randrange(1, 10)}"
        postcode = f"{sector}{rng.choice('ABDEFGHJLNPQRSTUWXYZ')}{rng.choice('ABDEFGHJLNPQRSTUWXYZ')}"
        # distinct (house, street, locality) per row: real gazetteers
        # don't hold two UPRNs for the same rendered address, and twin
        # addresses make gold labels unverifiable (ambiguity is correct
        # engine behavior, not a match miss)
        for _attempt in range(50):
            street = f"{rng.choice(STREET_NAMES)} {rng.choice(STREET_SUFFIXES)}"
            r = rng.random()
            if r < 0.05:
                house = None
                pname = rng.choice(PROPERTY_NAMES)
                full = f"{pname}, {street}, {loc}, {postcode}"
                key = f"{pname}|{street}|{loc}"
            elif r < 0.08:
                lo = rng.randrange(1, 80)
                hi = lo + rng.randrange(1, 3)
                house = f"{lo}-{hi}"  # range (J10 input)
                full = f"{house} {street}, {loc}, {postcode}"
                # a range owns every expanded number on that street
                key = [f"{k}|{street}|{loc}" for k in range(lo, hi + 1)]
            elif r < 0.15:
                house = f"{rng.randrange(1, 200)}{rng.choice('ABC')}"
                full = f"{house} {street}, {loc}, {postcode}"
                key = f"{house}|{street}|{loc}"
            else:
                house = str(rng.randrange(1, 200))
                full = f"{house} {street}, {loc}, {postcode}"
                key = f"{house}|{street}|{loc}"
            keys = key if isinstance(key, list) else [key]
            if not any(k in seen_addr for k in keys):
                seen_addr.update(keys)
                break
        rows.append({
            "uprn": uprn,
            "full_address": full,
            "house_number": house,
            "street": street,
            "locality": loc,
            "postcode": postcode,
            "usrn": str(20000000 + (i % 500)),
            "blpu_class": rng.choice(["RD02", "RD04", "CO01", "RH01"]),
            "status_code": "1" if rng.random() < 0.9 else "8",
            "postal_flag": rng.random() < 0.95,
            "easting": ex + rng.uniform(-1200, 1200),
            "northing": ny + rng.uniform(-1200, 1200),
        })
    if cfg.rule_special_frac > 0:
        for si, (uprn, body, loc, pc, _variant) in \
                enumerate(SPECIAL_RULE_ROWS):
            rows.append({
                "uprn": uprn, "full_address": f"{body}, {loc}, {pc}",
                "house_number": None, "street": body, "locality": loc,
                "postcode": pc, "usrn": str(20900000 + si),
                "blpu_class": "CO01", "status_code": "1",
                "postal_flag": True,
                "easting": 472000.0 + si * 500,
                "northing": 121000.0 + si * 500,
            })
    gaz = pd.DataFrame(rows)
    addr_for_embed = gaz["full_address"].str.upper().str.replace(",", "", regex=False)
    # plain Python list[float] — numpy float32 ndarrays break
    # spark.createDataFrame schema inference on sessions without Arrow
    # (the round-1 driver-harness failure: CANNOT_INFER_TYPE_FOR_FIELD)
    gaz["embedding"] = [
        [float(x) for x in _hash_embed(a, cfg.embed_dim)] for a in addr_for_embed
    ]
    return gaz


def _dirty_address(rng: random.Random, grow, profile: str) -> tuple[str, str | None]:
    """Render a dirty raw address for gazetteer row ``grow``.
    Returns (raw_address, raw_uprn_or_None)."""
    full = grow.full_address
    parts = [p.strip() for p in full.split(",")]
    body, loc, pc = parts[0], parts[1], parts[2]
    raw_uprn = None
    if profile == "exact":
        raw = f"{body}, {loc}, {pc}"
    elif profile == "abbrev":
        toks = body.split()
        toks = [ABBREV.get(t, t) for t in toks]
        body2 = " ".join(toks)
        raw = f"{body2}, {loc}, {pc}"
    elif profile == "typo":
        toks = body.split()
        cand = [i for i, t in enumerate(toks) if t.isalpha() and len(t) >= 4]
        if cand:
            i = rng.choice(cand)
            toks[i] = _typo(rng, toks[i])
        raw = f"{' '.join(toks)}, {loc}, {pc}"
    elif profile == "postcode_drop":
        raw = f"{body}, {loc}"
    elif profile == "postcode_unspaced":
        raw = f"{body}, {loc}, {pc.replace(' ', '')}"
    elif profile == "descriptor":
        raw = f"{rng.choice(DESCRIPTORS)} {body}, {loc}, {pc}"
    elif profile == "uprn_suffix":
        raw = f"{body}, {loc}, {pc}"
        raw_uprn = grow.uprn + ".00"
    else:  # multi: abbrev + typo + unspaced postcode
        toks = [ABBREV.get(t, t) for t in body.split()]
        cand = [i for i, t in enumerate(toks) if t.isalpha() and len(t) >= 4]
        if cand:
            i = rng.choice(cand)
            toks[i] = _typo(rng, toks[i])
        raw = f"{' '.join(toks)}, {loc}, {pc.replace(' ', '')}"
    if rng.random() < 0.3:
        raw = raw.title()  # mixed case like real scanned docs
    return raw, raw_uprn


def _make_spans(rng: random.Random, doc_id: str, raw_address: str,
                with_media: bool) -> list[dict]:
    """Interleave the address text with prose and media spans.

    The text spans, concatenated in offset order, must reproduce
    ``prose + ' ' + raw_address`` pieces; media spans carry
    text=None + a media_ref. The per-row invariant the engine must
    preserve is (kind, text, media_ref, order)."""
    spans = []
    off = 0

    def add(kind, text=None, media_ref=None):
        nonlocal off
        spans.append({"kind": kind, "text": text,
                      "media_ref": media_ref, "offset": off})
        off += 1

    add("text", text=rng.choice(PROSE_SNIPPETS))
    if with_media and rng.random() < 0.5:
        add("image", media_ref=f"media://img/{doc_id}-0.jpg")
    # sometimes split the address across two text spans
    if rng.random() < 0.3 and "," in raw_address:
        cut = raw_address.index(",") + 1
        add("text", text=raw_address[:cut])
        if with_media and rng.random() < 0.5:
            add("pdf_page", media_ref=f"media://pdf/{doc_id}-1.pdf")
        add("text", text=raw_address[cut:].strip())
    else:
        add("text", text=raw_address)
    if with_media and rng.random() < 0.5:
        add("image", media_ref=f"media://img/{doc_id}-2.jpg")
    return spans


def build_documents(cfg: SynthConfig, gaz: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (documents, gold). documents has the BASELINE.json shape
    plus raw_uprn/easting/northing side-channel columns; gold carries the
    labels (doc_id, uprn nullable, blocking hints, difficulty, group_key)."""
    rng = random.Random(cfg.seed + 1)
    profiles = list(cfg.dirt_weights)
    weights = [cfg.dirt_weights[p] for p in profiles]
    docs, gold = [], []
    group_no = 0
    i = 0
    while i < cfg.n_docs:
        group_no += 1
        gsize = max(1, int(rng.expovariate(1.0 / cfg.group_size_mean)) + 1)
        gsize = min(gsize, cfg.n_docs - i)
        group_key = f"APP/{2000 + group_no % 26}/{group_no:05d}"
        # one gazetteer target per group (consensus semantics)
        grow = gaz.iloc[rng.randrange(len(gaz))]
        # rule-special groups target one of the J7-decisive rows; the
        # short-circuit keeps the rng draw sequence (and therefore
        # every existing seed's corpus) untouched when the frac is 0
        special_variant = None
        if cfg.rule_special_frac > 0 and \
                rng.random() < cfg.rule_special_frac:
            sp = SPECIAL_RULE_ROWS[rng.randrange(len(SPECIAL_RULE_ROWS))]
            grow = gaz[gaz["uprn"] == sp[0]].iloc[0]
            special_variant = sp[4]
        # historic group: the source system stamps a legacy UPRN that is
        # valid in format but absent from the LLPG on every doc of the
        # application — the engine must CREATE a historic gazetteer
        # record and match at confidence 1.0 (reference
        # cmd/bulk-historic-uprns/main.go:80-104, migrations/029).
        # Group-level so consensus voting and the rescue gold stay
        # consistent (every matched member votes for the same UPRN).
        historic = special_variant is None and \
            rng.random() < cfg.historic_frac
        hist_uprn = str(500000000 + int(grow.uprn) % 100000000) \
            if historic else None
        # rescue-decisive group: one shared ladder-defeating fragment
        # render for every member (see SynthConfig.rescue_frac)
        rescue_group = special_variant is None and not historic and \
            cfg.rescue_frac > 0 and rng.random() < cfg.rescue_frac
        group_gold_rows = []
        group_matchable = 0
        for _ in range(gsize):
            doc_id = f"D{i:07d}"
            unmatchable = rng.random() < cfg.unmatchable_frac
            if special_variant is not None:
                # J7-decisive render: the variant body that ONLY the
                # rewrite chain maps to the gazetteer string (dirt
                # profiles would break the rule regex)
                parts_s = [p.strip() for p in grow.full_address.split(",")]
                raw = f"{special_variant}, {parts_s[1]}, {parts_s[2]}"
                raw_uprn, profile, true_uprn = None, "rule_special", grow.uprn
                easting = northing = None
                unmatchable = False
            elif rescue_group:
                parts_s = [p.strip() for p in grow.full_address.split(",")]
                street_words = parts_s[0].split()
                if street_words and street_words[0][:1].isdigit():
                    street_words = street_words[1:]
                raw = f"{' '.join(street_words)}, {parts_s[1]}"
                raw_uprn, profile = None, "rescue_fragment"
                true_uprn = grow.uprn
                easting = northing = None
                unmatchable = False
            elif unmatchable:
                raw = f"{rng.choice(DESCRIPTORS)} UNKNOWN PARCEL {rng.randrange(1000)}, NOWHERE"
                raw_uprn, profile, true_uprn = None, "unmatchable", None
                easting = northing = None
            else:
                profile = rng.choices(profiles, weights)[0]
                raw, raw_uprn = _dirty_address(rng, grow, profile)
                true_uprn = grow.uprn
                if historic:
                    raw_uprn = hist_uprn + (".00" if rng.random() < 0.3
                                            else "")
                    true_uprn = hist_uprn
                    profile = "historic_uprn"
                if rng.random() < 0.5:
                    easting = grow.easting + rng.uniform(-25, 25)
                    northing = grow.northing + rng.uniform(-25, 25)
                else:
                    easting = northing = None
            spans = _make_spans(rng, doc_id, raw,
                                rng.random() < cfg.media_span_frac)
            docs.append({"doc_id": doc_id, "spans": spans,
                         "raw_uprn": raw_uprn, "easting": easting,
                         "northing": northing, "group_key": group_key})
            group_gold_rows.append(
                {"doc_id": doc_id, "uprn": true_uprn,
                 "difficulty": profile, "group_key": group_key,
                 "postcode": None if unmatchable else grow.postcode})
            if not unmatchable:
                group_matchable += 1
            i += 1
        # group-consensus semantics (reference: cmd/matcher-v2/main.go:
        # 886-1012): an unmatchable doc inside a group with >=2 matchable
        # members is EXPECTED to be corrected to the group winner
        for row in group_gold_rows:
            if row["uprn"] is None and group_matchable >= 2:
                # in a historic group the consensus vote winner is the
                # historic UPRN (every matched member carries it)
                row["uprn"] = hist_uprn if historic else grow.uprn
                row["difficulty"] = "consensus_rescue"
        gold.extend(group_gold_rows)
    return pd.DataFrame(docs), pd.DataFrame(gold)


def synth_tables(cfg: SynthConfig | None = None):
    cfg = cfg or SynthConfig()
    gaz = build_gazetteer(cfg)
    docs, gold = build_documents(cfg, gaz)
    return gaz, docs, gold


# Explicit Spark schemas: createDataFrame(pandas) must never rely on
# inference — the driver harness runs a bare SparkSession (no Arrow
# config) where inference is both slow and fragile.
DOCS_SPARK_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "raw_uprn string, easting double, northing double, group_key string")

GAZ_SPARK_SCHEMA = (
    "uprn string, full_address string, house_number string, street string, "
    "locality string, postcode string, usrn string, blpu_class string, "
    "status_code string, postal_flag boolean, easting double, "
    "northing double, embedding array<float>")


def synth_spark_tables(spark, cfg: SynthConfig | None = None):
    """(gaz_df, docs_df, gold_pandas): the synthetic tables as Spark
    DataFrames with explicit schemas (inference-proof on any session)."""
    gaz, docs, gold = synth_tables(cfg)
    gaz_df = spark.createDataFrame(gaz, schema=GAZ_SPARK_SCHEMA)
    docs_df = spark.createDataFrame(docs, schema=DOCS_SPARK_SCHEMA)
    return gaz_df, docs_df, gold


def _docs_arrow_schema():
    """Explicit arrow schema so the spans offset is int32, matching the
    BASELINE.json contract (pandas would infer int64)."""
    import pyarrow as pa
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.schema([("doc_id", pa.string()),
                      ("spans", pa.list_(span)),
                      ("raw_uprn", pa.string()),
                      ("easting", pa.float64()),
                      ("northing", pa.float64()),
                      ("group_key", pa.string())])


def write_parquet(out_dir: str, cfg: SynthConfig | None = None) -> dict[str, str]:
    """Materialize the three tables as parquet under ``out_dir``."""
    import os
    os.makedirs(out_dir, exist_ok=True)
    gaz, docs, gold = synth_tables(cfg)
    paths = {}
    for name, df in [("gazetteer", gaz), ("documents", docs), ("gold", gold)]:
        p = os.path.join(out_dir, f"{name}.parquet")
        if name == "documents":
            df.to_parquet(p, index=False, schema=_docs_arrow_schema())
        else:
            df.to_parquet(p, index=False)
        paths[name] = p
    return paths
