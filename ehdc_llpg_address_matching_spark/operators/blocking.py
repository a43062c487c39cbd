"""Blocking keys + explicit skew salting (SURVEY.md §2.3 J3, §4).

The reference gets candidate generation for free from Postgres GIN
trigram indexes (migrations/002_normalized_schema.sql:416-440). Spark
has no indexes: candidate generation IS a join, and the join key is a
deliberately coarse BLOCKING KEY. We emit several keys per record and
union the joins, so a record pair meets if it agrees on ANY key:

  pc_sector : 'GU34 1'              (postcode outward + inward digit)
  phon_loc  : phonetic(street head) (consonant skeleton survives typos)
  tok_prefix: first 2 sorted alpha tokens (order-insensitive prefix)

Skew: a few sectors are huge (city centres). AQE skew-join splitting is
ON, and on top of it `salt_hot_keys` explicitly salts keys whose
gazetteer-side frequency exceeds a threshold: doc side gets
pmod(xxhash64(doc_id), S), gazetteer side explodes xS — turning one
straggler partition into S balanced ones at the cost of replicating
only the hot keys' gazetteer rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# salt_hot_keys: a key is hot when more than HOT_KEY_THRESHOLD gazetteer
# rows carry it; a hot key is split over N_SALT salts
HOT_KEY_THRESHOLD = 2000
N_SALT = 8


def with_blocking_keys(df: DataFrame,
                       postcode_col: str = "postcode",
                       phonetic_col: str = "street_phonetic",
                       locality_col: str = "c_locality",
                       tokens_col: str = "tokens") -> DataFrame:
    """Adds block_keys: array<struct<kind,key>> (null-safe, empty keys
    dropped). Exploded later into the join."""
    sector = F.when(
        (F.col(postcode_col).isNotNull()) & (F.col(postcode_col) != ""),
        F.concat(F.substring_index(F.col(postcode_col), " ", 1), F.lit(" "),
                 F.substring(F.substring_index(F.col(postcode_col), " ", -1), 1, 1)))
    phon = F.when(
        (F.col(phonetic_col) != "") & F.col(phonetic_col).isNotNull(),
        F.concat(F.col(phonetic_col), F.lit("|"),
                 F.coalesce(F.substring(F.col(locality_col), 1, 4), F.lit(""))))
    alpha_tokens = F.array_sort(F.filter(
        F.col(tokens_col), lambda t: t.rlike("^[A-Z]{3,}$")))
    tokp = F.when(
        F.size(alpha_tokens) >= 2,
        F.concat_ws("_", F.slice(alpha_tokens, 1, 2)))
    keys = F.array(
        F.struct(F.lit("pc_sector").alias("kind"), sector.alias("key")),
        F.struct(F.lit("phon_loc").alias("kind"), phon.alias("key")),
        F.struct(F.lit("tok_prefix").alias("kind"), tokp.alias("key")),
    )
    return df.withColumn(
        "block_keys",
        F.filter(keys, lambda s: s.key.isNotNull() & (s.key != "")))


def explode_keys(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """(id..., block_kind, block_key) — one row per (record, key);
    a record with a null or empty block_keys gives no row.

    explode_outer plus a null filter on the generated column, not a
    plain explode: from explode, Catalyst infers size(block_keys) > 0
    and pushes that filter below the projections that compute
    block_keys. Over a frame that is normalized but not materialized
    (a streamed micro-batch) the pushed filter is rewritten in terms of
    the normalization UDF, which then runs twice per record: once
    under the filter, once above it. Nothing is inferred from
    explode_outer, and a filter on bk cannot move below the Generate
    that makes bk."""
    return (df
            .select(*id_cols, F.explode_outer("block_keys").alias("bk"))
            .filter(F.col("bk").isNotNull())
            .select(*id_cols,
                    F.col("bk.kind").alias("block_kind"),
                    F.col("bk.key").alias("block_key")))


def salt_hot_keys(doc_keys: DataFrame, gaz_keys: DataFrame,
                  hot_threshold: int = HOT_KEY_THRESHOLD,
                  n_salt: int = N_SALT,
                  doc_id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Explicit salting of hot blocking keys (north_rule requirement).

    Keys whose gazetteer-side count exceeds ``hot_threshold`` get a salt
    dimension: doc side -> pmod(xxhash64(doc_id), n_salt); gaz side ->
    exploded 0..n_salt-1. Cold keys ride with salt=0 on both sides. The
    downstream join condition is (block_kind, block_key, salt).
    """
    hot = (gaz_keys.groupBy("block_kind", "block_key").count()
           .filter(F.col("count") > hot_threshold)
           .select("block_kind", "block_key",
                   F.lit(True).alias("_is_hot")))
    d = (doc_keys.join(F.broadcast(hot), ["block_kind", "block_key"], "left")
         .withColumn(
             "salt",
             F.when(F.col("_is_hot"),
                    F.pmod(F.xxhash64(F.col(doc_id_col)), F.lit(n_salt))
                    .cast("int"))
             .otherwise(F.lit(0)))
         .drop("_is_hot"))
    g = (gaz_keys.join(F.broadcast(hot), ["block_kind", "block_key"], "left")
         .withColumn(
             "_salts",
             F.when(F.col("_is_hot"),
                    F.sequence(F.lit(0), F.lit(n_salt - 1)))
             .otherwise(F.array(F.lit(0))))
         .withColumn("salt", F.explode("_salts"))
         .drop("_is_hot", "_salts"))
    return d, g
