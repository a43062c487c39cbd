"""Address canonicalization — the parse layer (SURVEY.md §2.2, N1-N10).

Semantics mirror the reference's normalize package
(reference: internal/normalize/address.go:126-192 — CanonicalAddress:
uppercase -> extract+strip postcode -> strip punctuation -> expand
abbreviations -> descriptor normalization -> collapse whitespace),
re-implemented as *vectorized pandas string ops* wrapped in Arrow
pandas UDFs. No per-row Python in the Spark hot path.

Golden behavior (reference: internal/normalize/address_test.go:7-81):
    "Flat 3, 45 Church Rd, Petersfield, GU31 4HX"
        -> addr_can "FLAT 3 45 CHURCH ROAD PETERSFIELD", postcode "GU31 4HX"
    "GU341AA" -> "GU34 1AA" (unspaced postcode re-spacing)
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# UK postcode (reference: internal/normalize/address.go:75)
POSTCODE_RE = r"\b([A-Z]{1,2}[0-9][0-9A-Z]?)\s*([0-9][ABD-HJLNP-UW-Z]{2})\b"

# word-boundary abbreviation expansions
# (reference: internal/normalize/address.go:25-59 + enhanced.go:55-193,
#  rebuilt as a plain mapping — ~30 core rules)
ABBREVIATIONS = {
    # street-type suffixes
    "RD": "ROAD", "STR": "STREET", "AVE": "AVENUE", "AV": "AVENUE",
    "LN": "LANE", "CL": "CLOSE", "DR": "DRIVE", "GDNS": "GARDENS",
    "GDN": "GARDEN", "CRES": "CRESCENT", "CRS": "CRESCENT",
    "PL": "PLACE", "CT": "COURT", "CRT": "COURT", "SQ": "SQUARE",
    "TERR": "TERRACE", "TER": "TERRACE", "PK": "PARK", "GRN": "GREEN",
    "WY": "WAY", "WLK": "WALK", "PDE": "PARADE", "ESP": "ESPLANADE",
    "EMB": "EMBANKMENT", "JCT": "JUNCTION", "QD": "QUADRANT",
    "BLVD": "BOULEVARD", "BVD": "BOULEVARD", "CSWY": "CAUSEWAY",
    "DRV": "DRIVE", "GRV": "GROVE", "HTS": "HEIGHTS", "MDW": "MEADOW",
    "MDWS": "MEADOWS", "PSGE": "PASSAGE", "RDG": "RIDGE",
    "TRL": "TRAIL", "VW": "VIEW", "XING": "CROSSING", "YD": "YARD",
    # property / building types
    "EST": "ESTATE", "IND": "INDUSTRIAL", "INDL": "INDUSTRIAL",
    "BUS": "BUSINESS", "CTR": "CENTRE", "CEN": "CENTRE",
    "HSE": "HOUSE", "CTTG": "COTTAGE", "CTG": "COTTAGE",
    "CTTGS": "COTTAGES", "BLDG": "BUILDING", "BLDGS": "BUILDINGS",
    "APTS": "APARTMENTS", "APT": "APARTMENT", "FLT": "FLAT",
    "FLR": "FLOOR", "GRD": "GROUND", "BSMT": "BASEMENT",
    "FM": "FARM", "MNR": "MANOR", "VIL": "VILLA", "VLG": "VILLAGE",
    "LDG": "LODGE", "MKT": "MARKET", "ORCH": "ORCHARD",
    "STA": "STATION", "WHF": "WHARF", "HBR": "HARBOUR",
    "BGLW": "BUNGALOW", "BARN": "BARN", "WKS": "WORKS",
    "WHSE": "WAREHOUSE", "FCTY": "FACTORY", "DEPT": "DEPARTMENT",
    "BLK": "BLOCK", "UNT": "UNIT", "RM": "ROOM", "OFF": "OFFICE",
    # positional / relational
    "UPR": "UPPER", "LWR": "LOWER", "NR": "NEAR", "OPP": "OPPOSITE",
    "ADJ": "ADJACENT", "GT": "GREAT", "LT": "LITTLE",
    "N": "NORTH", "S": "SOUTH", "E": "EAST", "W": "WEST",
    "NTH": "NORTH", "STH": "SOUTH", "WST": "WEST",
    # county / region
    "HANTS": "HAMPSHIRE", "BERKS": "BERKSHIRE", "BUCKS":
    "BUCKINGHAMSHIRE", "OXON": "OXFORDSHIRE", "WILTS": "WILTSHIRE",
    "GLOS": "GLOUCESTERSHIRE", "HERTS": "HERTFORDSHIRE",
    "SSX": "SUSSEX", "MDX": "MIDDLESEX",
}
# ST is positional: "ST." => SAINT (handled pre-punctuation-strip);
# bare trailing/inner "ST" => STREET.
STREET_SUFFIX_WORDS = {
    "ROAD", "STREET", "LANE", "CLOSE", "AVENUE", "DRIVE", "WAY",
    "GARDENS", "CRESCENT", "PLACE", "COURT", "HILL", "SQUARE",
    "TERRACE", "PARK", "GROVE", "RISE", "WALK", "MEWS", "ROW",
}
# business-name normalization applied BEFORE punctuation strip
# (reference: internal/normalize/enhanced.go:244-273)
BUSINESS_SUBS = [
    (r"\bM\s*&\s*S\b", "MARKS AND SPENCER"),
    (r"\bCO-?OP\b", "COOPERATIVE"),
    (r"\bLTD\.?\b", "LIMITED"),
    (r"\bPLC\.?\b", "PLC"),
]
# noise/stop tokens dropped from the matching token set
# (reference: internal/normalize/enhanced.go:196-243)
STOP_TOKENS = {"THE", "OF", "AND", "AT", "TO", "NEAR", "OPPOSITE",
               "ADJACENT", "OPP", "ADJ", "NR"}
DESCRIPTOR_PATTERNS = [
    "LAND AT", "LAND ADJACENT TO", "LAND ADJ TO", "LAND TO THE",
    "REAR OF", "FRONT OF", "SITE OF", "FORMER SITE OF", "FORMER",
    "PROPOSED", "PLOT", "SITE AT", "ADJACENT TO", "NORTH OF",
    "SOUTH OF", "EAST OF", "WEST OF", "PART OF",
]
DESCRIPTOR_RE = r"\b(?:" + "|".join(p.replace(" ", r"\s+") for p in sorted(
    DESCRIPTOR_PATTERNS, key=len, reverse=True)) + r")\b"

# N7: known locality/town whitelist (reference:
# internal/normalize/address.go:84-122 — common East-Hampshire towns,
# incl. multi-word entries that need a substring scan, not a token
# lookup). Used as the locality fallback when the comma-segment parse
# yields none (addresses written without comma separation).
KNOWN_LOCALITIES = [
    "ALTON", "PETERSFIELD", "LIPHOOK", "WATERLOOVILLE", "HORNDEAN",
    "BORDON", "WHITEHILL", "GRAYSHOTT", "HEADLEY", "BRAMSHOTT",
    "LINDFORD", "HOLLYWATER", "PASSFIELD", "CONFORD", "FOUR MARKS",
    "MEDSTEAD", "CHAWTON", "SELBORNE", "EMPSHOTT", "HAWKLEY", "LISS",
    "STEEP", "STROUD", "BURITON", "LANGRISH", "EAST MEON", "WEST MEON",
    "FROXFIELD", "PRIVETT", "ROPLEY", "WEST TISTED", "EAST TISTED",
    "BINSTED", "HOLT POUND", "BENTLEY", "FARNHAM", "HASLEMERE",
    "ALRESFORD", "CLANFIELD", "ROWLANDS CASTLE", "KINGSLEY", "BEECH",
]
# longest-first so 'EAST MEON' wins over a hypothetical 'MEON'
_KNOWN_LOCALITY_RE = re.compile(
    r"\b(" + "|".join(sorted((re.escape(x) for x in KNOWN_LOCALITIES),
                             key=len, reverse=True)) + r")\b")
HOUSE_NUM_RE = r"\b(\d+[A-Z]?)\b"

_ABBREV_RE = re.compile(
    r"\b(" + "|".join(sorted(ABBREVIATIONS, key=len, reverse=True)) + r")\b")


def norm_house_expr(c: "F.Column | str") -> "F.Column":
    """Canonical house-number comparison form: uppercase, strip every
    non-alphanumeric ('12 A' == '12a' == '12-A'). THE single
    definition — the component-join blocking keys (candidates.py), the
    hierarchical cascade keys and the scorer's house_exact/
    house_conflict logic must all normalize identically or blocking
    and scoring silently disagree on which houses are 'the same'."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.upper(F.coalesce(col, F.lit(""))),
                            r"[^0-9A-Z]", "")


# ------------------------------------------------------------ pandas core
# All functions below operate on whole pd.Series — this is the body of
# the Arrow UDFs and is also directly unit-testable without Spark.

def extract_postcode(s: pd.Series) -> pd.Series:
    """First UK postcode, normalized to 'OUT IN' spacing ('' if none)."""
    m = s.str.upper().str.extract(POSTCODE_RE, expand=True)
    pc = (m[0] + " " + m[1]).fillna("")
    return pc


def canonicalize_series(raw: pd.Series) -> pd.DataFrame:
    """Vectorized CanonicalAddress. Returns DataFrame with columns
    addr_can (canonical, postcode stripped), postcode, addr_core
    (descriptors stripped — the matching string)."""
    s = raw.fillna("").str.upper()
    postcode = extract_postcode(s)
    s = s.str.replace(POSTCODE_RE, " ", regex=True)
    # ST. -> SAINT before punctuation strip (address_test.go:49-52 case)
    s = s.str.replace(r"\bST\.", "SAINT", regex=True)
    for pat, rep in BUSINESS_SUBS:  # N5 — before '&' and punctuation pass
        s = s.str.replace(pat, rep, regex=True)
    s = s.str.replace("&", " AND ", regex=False)
    # ASCII-only survivors (not \w): guarantees the downstream byte-level
    # similarity kernels' ASCII assumption by construction, and matches
    # the DuckDB oracle's [^a-zA-Z0-9 \t-] semantics for accented input
    s = s.str.replace(r"[^A-Z0-9\s-]", " ", regex=True)  # drop punctuation
    s = s.str.replace(r"(?<!\d)-|-(?!\d)", " ", regex=True)  # keep 10-12 ranges
    # punctuation dropped above ('GU34.1AA') or a stripped postcode
    # closing a gap ('A0 A0 0AA 0AA') can leave a new postcode shape;
    # strip to a fixed point so addr_can never holds one
    while (s != (stripped := s.str.replace(POSTCODE_RE, " ", regex=True))).any():
        s = stripped
    # collapse before the ST rule, whose one-space lookbehind would
    # otherwise miss 'A0..ST' on this pass and hit it on the next
    s = s.str.replace(r"\s+", " ", regex=True).str.strip()
    s = s.str.replace(_ABBREV_RE, lambda m: ABBREVIATIONS[m.group(0)], regex=True)
    # bare ST not at string start => STREET
    s = s.str.replace(r"(?<=\w )\bST\b", "STREET", regex=True)
    core = s.str.replace(DESCRIPTOR_RE, " ", regex=True)
    core = core.str.replace(r"\s+", " ", regex=True).str.strip()
    return pd.DataFrame({"addr_can": s, "postcode": postcode, "addr_core": core})


def tokens_series(addr_can: pd.Series) -> pd.Series:
    """Matching token set: split, drop stop tokens and len<2. The pandas
    reference for with_normalized's Catalyst `tokens` column."""
    return addr_can.str.split().map(
        lambda ts: [t for t in ts if len(t) >= 2 and t not in STOP_TOKENS]
        if isinstance(ts, list) else [])


def house_numbers_series(addr_can: pd.Series) -> pd.Series:
    """All house-number tokens (reference: address.go:78-81,219-236).
    The pandas reference for with_normalized's `house_numbers` column."""
    return addr_can.str.findall(HOUSE_NUM_RE)


def clean_uprn_series(raw_uprn: pd.Series) -> pd.Series:
    """Strip '.00' suffixes / non-digits from legacy UPRNs
    (reference: internal/matcher/engine_components_fixed.go:253-257)."""
    s = raw_uprn.fillna("").astype(str)
    s = s.str.replace(r"\.0+$", "", regex=True)
    s = s.str.replace(r"[^\d]", "", regex=True)
    return s.mask(s == "", None)


_UNIT_RE = re.compile(
    r"\b(FLAT|UNIT|APT|APARTMENT|STUDIO|SUITE)[\s,.]*([0-9]+[A-Z]?|[A-Z])\b")
_LEAD_NUM_RE = re.compile(r"^\W*(\d+[A-Z]?(?:-\d+[A-Z]?)?)\b")


def _parse_one(body: str) -> tuple[str, str, str, str]:
    """(house, street, locality, name) from a postcode-stripped UPPER
    address. Street segment = first comma segment containing a
    street-suffix word or a leading house number; unit designators in
    earlier segments fold into the house component (reference heuristic:
    internal/validation/parser.go:239-299). Segments BEFORE the street
    become the property/business name (feeds J4 strategy (d)). Locality
    falls back to the known-town scan (N7, multi-word aware) when the
    comma-segment parse yields none."""
    segs = [x.strip() for x in body.split(",") if x.strip()]
    if not segs:
        return "", "", "", ""
    unit = ""
    street_idx = 0
    found_street = False
    for i, seg in enumerate(segs):
        words = set(_expand_tokens(seg).split())
        if words & STREET_SUFFIX_WORDS or _LEAD_NUM_RE.match(seg):
            m = _UNIT_RE.search(seg)
            if m:
                unit = f"{m.group(1)} {m.group(2)}"
                seg_wo = _UNIT_RE.sub(" ", seg).strip(" ,")
                if not seg_wo and i + 1 < len(segs):
                    continue  # pure unit segment: street lives in the next one
            street_idx = i
            found_street = True
            break
        m = _UNIT_RE.search(seg)
        if m:
            unit = f"{m.group(1)} {m.group(2)}"
    seg = _UNIT_RE.sub(" ", segs[street_idx]).strip(" ,")
    mnum = _LEAD_NUM_RE.match(seg)
    hn = mnum.group(1) if mnum else ""
    street = _LEAD_NUM_RE.sub(" ", seg, count=1)
    street = _expand_tokens(re.sub(r"[^\w\s]", " ", street))
    name = " ".join(_UNIT_RE.sub(" ", s) for s in segs[:street_idx])
    name = re.sub(r"\s+", " ", re.sub(r"[^\w\s]", " ", name)).strip()
    if not found_street and not name and not hn and street:
        # name-led address without a recognisable street segment
        # ('ROSE COTTAGE, ALTON'): the leading segment is the
        # property/business name (J4 strategy (d) joins on it)
        name = street
    locality = " ".join(segs[street_idx + 1:])
    locality = re.sub(r"\s+", " ", re.sub(r"[^\w\s]", " ", locality)).strip()
    if not locality:
        # N7 fallback: last known town embedded anywhere in the body
        # ('2 HIGH STREET FOUR MARKS' without comma separation)
        hits = _KNOWN_LOCALITY_RE.findall(body)
        if hits:
            locality = hits[-1]
            if street.endswith(" " + locality):
                street = street[: -len(locality) - 1].strip()
    house = (unit + " " + hn).strip() if unit else hn
    return house, street, locality, name


def _expand_tokens(s: str) -> str:
    s = _ABBREV_RE.sub(lambda m: ABBREVIATIONS[m.group(0)], s)
    s = re.sub(r"(?<=\w )\bST\b", "STREET", s)
    return re.sub(r"\s+", " ", s).strip()


def parse_components_series(raw: pd.Series) -> pd.DataFrame:
    """Component parse (N9; reference: internal/validation/parser.go:37-181).
    Runs once per *unique* address (after the dedup-join, J11), never per
    candidate pair — so the per-row segment walk inside this Arrow batch
    is off the hot path."""
    s = raw.fillna("").str.upper()
    postcode = extract_postcode(s)
    body = s.str.replace(POSTCODE_RE, " ", regex=True)
    body = body.str.replace(r"\bST\.", "SAINT", regex=True)
    body = body.str.replace(DESCRIPTOR_RE, " ", regex=True)
    parsed = body.map(_parse_one)
    house = parsed.map(lambda t: t[0])
    street = parsed.map(lambda t: t[1])
    locality = parsed.map(lambda t: t[2])
    name = parsed.map(lambda t: t[3])
    n_comp = ((house != "").astype(int) + (street != "").astype(int)
              + (locality != "").astype(int) + (postcode != "").astype(int))
    conf = n_comp / 4.0
    valid = (street != "") & ((house != "") | (postcode != "") | (locality != ""))
    return pd.DataFrame({
        "house_number": house, "street": street, "locality": locality,
        "name": name, "postcode": postcode,
        "parse_confidence": conf, "parse_valid": valid,
    })


def is_vague_series(addr: pd.Series) -> pd.Series:
    """Vague-address gate (N10; reference: internal/validation/parser.go:338-377):
    descriptor-led addresses are unsuitable for auto-accept. The pandas
    reference for with_normalized's `is_vague` column."""
    return addr.fillna("").str.upper().str.contains(DESCRIPTOR_RE, regex=True)


# ------------------------------------------------------------- Spark UDFs

CANON_SCHEMA = StructType([
    StructField("addr_can", StringType()),
    StructField("postcode", StringType()),
    StructField("addr_core", StringType()),
])


def _normalize_all_frame(raw: pd.Series, raw_uprn: pd.Series | None,
                         symspell=None) -> pd.DataFrame:
    """Pandas body of the fused normalization UDF (with_normalized):
    canonicalize + component parse (+ optional UPRN clean + SymSpell
    correction) + street phonetic in ONE pass over the batch — the
    literal composition of canonicalize_series / parse_components_series
    / clean_uprn_series / SymSpell.correct_tokens_series /
    phonetic_series."""
    from .phonetic import phonetic_series
    c = canonicalize_series(raw)
    p = parse_components_series(raw)
    street = p["street"]
    if symspell is not None:
        core_corr = symspell.correct_tokens_series(
            c["addr_core"], skip=STREET_SUFFIX_WORDS)
        street_corr = symspell.correct_tokens_series(
            street, skip=STREET_SUFFIX_WORDS)
    else:
        core_corr, street_corr = c["addr_core"], street
    first = street_corr.fillna("").str.split().str[0].fillna("")
    out = pd.DataFrame({
        "addr_can": c["addr_can"], "postcode": c["postcode"],
        "addr_core_pre": c["addr_core"], "addr_core_corr": core_corr,
        "c_house": p["house_number"], "c_street": street_corr,
        "c_locality": p["locality"], "c_name": p["name"],
        "c_postcode": p["postcode"],
        "parse_confidence": p["parse_confidence"].astype(float),
        "parse_valid": p["parse_valid"].astype(bool),
        "street_phonetic": phonetic_series(first),
    })
    if raw_uprn is not None:
        out["uprn_clean"] = clean_uprn_series(raw_uprn)
    return out


def with_normalized(df, raw_col: str = "raw_address",
                    uprn_col: str | None = None, symspell=None):
    """Fused N1+N2+N9(+N11+N12) normalization: ONE ArrowEvalPython node
    runs canonicalize + component parse (+ UPRN clean + SymSpell
    correction) + street phonetic, so the strings cross the JVM->Python
    boundary once and only raw_col [+ uprn_col] is shipped
    (optimization guide §4.1/§4.2).

    tokens, house_numbers and is_vague are Catalyst expressions over the
    pre-correction addr_core / addr_can, equal to tokens_series /
    house_numbers_series / is_vague_series; the pandas body is the
    composition of the series kernels (_normalize_all_frame). Both are
    pinned against those kernels by tests/test_r06_optimizations.py.
    The corrected core then replaces addr_core in place."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType, DoubleType

    fields = [
        StructField("addr_can", StringType()),
        StructField("postcode", StringType()),
        StructField("addr_core_pre", StringType()),
        StructField("addr_core_corr", StringType()),
        StructField("c_house", StringType()),
        StructField("c_street", StringType()),
        StructField("c_locality", StringType()),
        StructField("c_name", StringType()),
        StructField("c_postcode", StringType()),
        StructField("parse_confidence", DoubleType()),
        StructField("parse_valid", BooleanType()),
        StructField("street_phonetic", StringType()),
    ]
    if uprn_col:
        fields.append(StructField("uprn_clean", StringType()))
    schema = StructType(fields)
    b = (df.sparkSession.sparkContext.broadcast(symspell)
         if symspell is not None else None)

    if uprn_col:
        @pandas_udf(schema)
        def _norm(raw: pd.Series, uprn: pd.Series) -> pd.DataFrame:
            return _normalize_all_frame(
                raw, uprn, b.value if b is not None else None)
        ncol = _norm(F.col(raw_col), F.col(uprn_col))
    else:
        @pandas_udf(schema)
        def _norm(raw: pd.Series) -> pd.DataFrame:
            return _normalize_all_frame(
                raw, None, b.value if b is not None else None)
        ncol = _norm(F.col(raw_col))

    d = df.withColumn("_n", ncol)
    d = d.select("*", "_n.addr_can", "_n.postcode",
                 F.col("_n.addr_core_pre").alias("addr_core"))
    # Catalyst forms of tokens_series / house_numbers_series /
    # is_vague_series, over the pre-correction core string
    d = d.withColumn(
        "tokens",
        F.filter(
            F.split(F.col("addr_core"), " "),
            lambda t: (F.length(t) >= 2) & ~t.isin(*STOP_TOKENS)))
    d = d.withColumn(
        "house_numbers",
        F.expr(r"regexp_extract_all(addr_core, '\\b(\\d+[A-Z]?)\\b', 1)"))
    d = d.withColumn("is_vague", F.col("addr_can").rlike(DESCRIPTOR_RE))
    d = (d.withColumn("c_house", F.col("_n.c_house"))
          .withColumn("c_street", F.col("_n.c_street"))
          .withColumn("c_locality", F.col("_n.c_locality"))
          .withColumn("c_name", F.col("_n.c_name"))
          .withColumn("c_postcode", F.col("_n.c_postcode"))
          .withColumn("parse_confidence", F.col("_n.parse_confidence"))
          .withColumn("parse_valid", F.col("_n.parse_valid")))
    if uprn_col:
        d = d.withColumn("uprn_clean", F.col("_n.uprn_clean"))
    # corrected core replaces the pre-correction string in place
    d = (d.withColumn("addr_core", F.col("_n.addr_core_corr"))
          .withColumn("street_phonetic", F.col("_n.street_phonetic")))
    return d.drop("_n")
