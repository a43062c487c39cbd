"""Blocking keys + explicit salting: coverage must survive salting."""

from pyspark.sql import functions as F

from ehdc_llpg_address_matching_spark.operators.blocking import (
    explode_keys, salt_hot_keys, with_blocking_keys)


def _keyed(spark, rows):
    df = spark.createDataFrame(rows,
        "id string, postcode string, street_phonetic string, "
        "c_locality string, tokens array<string>")
    return with_blocking_keys(df, postcode_col="postcode")


def test_blocking_keys_kinds(spark):
    df = _keyed(spark, [("a", "GU34 1AA", "HK", "ALTON",
                         ["HIGH", "STREET", "ALTON"])])
    keys = df.select(F.explode("block_keys").alias("k")).collect()
    kinds = {r["k"]["kind"]: r["k"]["key"] for r in keys}
    assert kinds["pc_sector"] == "GU34 1"
    assert kinds["phon_loc"].startswith("HK|")
    assert kinds["tok_prefix"] == "ALTON_HIGH"


def test_blocking_keys_null_safe(spark):
    df = _keyed(spark, [("a", None, "", None, [])])
    assert df.select(F.size("block_keys")).collect()[0][0] == 0


def test_explode_keys_contract(spark):
    """Keyed rows give the multiset of a plain explode; a row whose
    block_keys is empty or NULL gives no row."""
    df = _keyed(spark, [
        ("a", "GU34 1AA", "HK", "ALTON", ["HIGH", "STREET", "ALTON"]),
        ("b", "GU34 1AB", "HK", "ALTON", ["HIGH", "STREET"]),
        ("c", "GU35 0XY", "", None, ["MILL"]),
        ("e", None, "", None, []),
    ]).unionByName(spark.createDataFrame(
        [("n", None)], "id string, block_keys "
        "array<struct<kind:string,key:string>>"), allowMissingColumns=True)
    got = sorted(tuple(r) for r in explode_keys(df, ["id"]).collect())
    plain = (df.select("id", F.explode("block_keys").alias("bk"))
             .select("id", "bk.kind", "bk.key"))
    assert got == sorted(tuple(r) for r in plain.collect())
    assert {r[0] for r in got} == {"a", "b", "c"}
    assert len(got) == 3 + 3 + 1


def test_salting_preserves_pairs(spark):
    # 1 hot key (H) above threshold, 1 cold key (C): every (doc, gaz)
    # pair co-keyed pre-salt must still meet exactly once post-salt.
    docs = spark.createDataFrame(
        [(f"d{i}", "pc_sector", "H") for i in range(20)] +
        [("dc", "pc_sector", "C")],
        "doc_id string, block_kind string, block_key string")
    gaz = spark.createDataFrame(
        [(f"g{i}", "pc_sector", "H") for i in range(30)] +
        [("gc", "pc_sector", "C")],
        "uprn string, block_kind string, block_key string")
    d, g = salt_hot_keys(docs, gaz, hot_threshold=10, n_salt=4,
                         doc_id_col="doc_id")
    joined = d.join(g, ["block_kind", "block_key", "salt"])
    n = joined.select("doc_id", "uprn").distinct().count()
    assert n == 20 * 30 + 1
    # hot gazetteer rows replicated x4, cold not
    assert g.filter(F.col("block_key") == "H").count() == 30 * 4
    assert g.filter(F.col("block_key") == "C").count() == 1
    # doc side never replicated
    assert d.count() == 21
