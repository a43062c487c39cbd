"""Interleaved-document source ops (BASELINE.json input_hint).

Input table: documents(doc_id string,
                        spans array<struct<kind,text,media_ref,offset:int>>)

The engine's per-row invariant vs the reference: the span sequence
(kind, text, media_ref, order) must survive the pipeline untouched —
media spans are opaque payload references (images/pdf pages) that ride
along with the match result. raw_address is DERIVED by concatenating
kind='text' spans in offset order (the Spark analog of
src_document.raw_address, reference:
migrations/002_normalized_schema.sql:51-64).

Everything here is built-in Spark array functions — whole-stage
codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

SPAN_SCHEMA = ArrayType(StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
]))

# the side channels after spans read as NULL where a file lacks them
DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", SPAN_SCHEMA),
    StructField("raw_uprn", StringType()),
    StructField("easting", DoubleType()),
    StructField("northing", DoubleType()),
    StructField("group_key", StringType()),
])


# a text span "qualifies" as address-bearing if it shows a postcode, a
# house number, a street-suffix word, or a site descriptor
_QUALIFY_RE = (
    r"(\b[A-Za-z]{1,2}\d[\dA-Za-z]?\s*\d[A-Za-z]{2}\b"          # postcode
    r"|\b\d+[A-Za-z]?\b"                                          # house no
    r"|(?i)\b(ROAD|RD|STREET|ST|LANE|LN|CLOSE|CL|AVENUE|AVE|DRIVE|DR|WAY|"
    r"GARDENS|GDNS|CRESCENT|CRES|PLACE|PL|COURT|CT|HILL|SQUARE|TERRACE|"
    r"GROVE|FARM|COTTAGE|HOUSE|BARN)\b"
    r"|(?i)^\s*(LAND|SITE|PLOT|REAR|FORMER)\b)")
# legalese / boilerplate giveaways: such a span is prose, not address
_PROSE_RE = (r"(?i)\b(APPLICATION|NOTICE|ENFORCEMENT|AGREEMENT|CHARGE|"
             r"SECTION|DECISION|REGISTERED|RELATING|CONCERNING|RESPECT|"
             r"DEVELOPMENT|ISSUED|PURSUANT|HEREBY)\b"
             r"|(?i)\b(AT|OF|TO|AS|AGAINST|FOR)\s*$")


def with_raw_address(docs: DataFrame, out_col: str = "raw_address",
                     extract: bool = True) -> DataFrame:
    """Derive the address text from the interleaved spans.

    Text spans sorted by offset; with ``extract`` (default) the prose
    prefix is dropped: concatenation starts at the first address-
    qualifying span (postcode / house number / street suffix /
    descriptor), back-extended one span when the preceding span is a
    short non-prose fragment (split property names like 'OAKLEIGH,').
    Pure column expressions — whole-stage codegen, no UDF.
    """
    sorted_spans = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a.offset < b.offset, -1)
                      .when(a.offset > b.offset, 1).otherwise(0))
    texts = F.transform(
        F.filter(sorted_spans, lambda s: s.kind == F.lit("text")),
        lambda s: s.text)
    if not extract:
        return docs.withColumn(out_col, F.concat_ws(" ", texts))
    docs = docs.withColumn("_texts", texts)
    quals = F.transform(F.col("_texts"),
                        lambda t: t.rlike(_QUALIFY_RE) & ~t.rlike(_PROSE_RE))
    docs = docs.withColumn("_fq", F.array_position(quals, F.lit(True)))
    prev_txt = F.element_at("_texts", (F.col("_fq") - 1).cast("int"))
    start = (
        F.when(F.col("_fq") == 0, F.lit(1))
        .when((F.col("_fq") > 1)
              & (F.size(F.split(prev_txt, r"\s+")) <= 4)
              & ~prev_txt.rlike(_PROSE_RE),
              F.col("_fq") - 1)
        .otherwise(F.col("_fq")))
    tail = F.slice(F.col("_texts"), start.cast("int"), F.size("_texts"))
    return (docs
            .withColumn(out_col, F.concat_ws(" ", tail))
            .drop("_texts", "_fq"))


def span_fingerprint(col: str = "spans") -> F.Column:
    """Deterministic hash of the (kind, text, media_ref, order) sequence,
    for cheap invariant checks across pipeline stages."""
    sorted_spans = F.array_sort(
        F.col(col),
        lambda a, b: F.when(a.offset < b.offset, -1)
                      .when(a.offset > b.offset, 1).otherwise(0))
    parts = F.transform(
        sorted_spans,
        lambda s: F.concat_ws("\x01",
                              F.coalesce(s.kind, F.lit("")),
                              F.coalesce(s.text, F.lit("")),
                              F.coalesce(s.media_ref, F.lit(""))))
    return F.sha2(F.concat_ws("\x02", parts), 256)


def media_spans(docs: DataFrame) -> DataFrame:
    """Exploded view of non-text spans (doc_id, kind, media_ref, offset) —
    the handle the multimodal ops (operators/media.py) consume."""
    return (docs
            .select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") != "text")
            .select("doc_id", F.col("s.kind").alias("kind"),
                    F.col("s.media_ref").alias("media_ref"),
                    F.col("s.offset").alias("offset")))

