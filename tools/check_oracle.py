"""Local replica of the driver's correctness check: run each
__spark_entry__ query on Spark AND its DuckDB oracle at sf0.01,
compare row count + sorted-column value hash. Usage:
    PYTHONPATH=/root/repo python3 tools/check_oracle.py [name ...]
"""

import hashlib
import os
import sys

sys.path.insert(0, "/root/repo")

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from ehdc_llpg_address_matching_spark.session import get_spark

SF = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append("|".join("" if v is None or (isinstance(v, float) and v != v)
                             else str(v) for v in tup))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str).where(out[c].notna(), None)
        elif str(out[c].dtype).startswith("float"):
            out[c] = out[c].round(6)
        elif str(out[c].dtype).startswith("datetime"):
            out[c] = out[c].astype(str)
        elif str(out[c].dtype) == "bool" or str(out[c].dtype).startswith("Int"):
            out[c] = out[c].astype(str)
        elif str(out[c].dtype).startswith("int"):
            out[c] = out[c].astype("int64")
    return out


def main():
    only = set(sys.argv[1:])
    # no console progress bar: it shares a \r-separated terminal line
    # with the OK/FAIL lines, which a line-anchored grep then drops
    spark = get_spark(shuffle_partitions=8, master="local[8]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {ex}")
            fails.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (rows-only)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error {ex}")
            fails.append(name)
            continue
        s_n, o_n = len(sdf), len(odf)
        sh, oh = value_hash(norm(sdf)), value_hash(norm(odf))
        status = "OK  " if (s_n == o_n and sh == oh) else "FAIL"
        if status == "FAIL":
            fails.append(name)
        print(f"{status}  {name}: spark={s_n} oracle={o_n} "
              f"hash={'match' if sh == oh else 'MISMATCH'}")
        if status == "FAIL" and s_n == o_n:
            s2 = norm(sdf)[sorted(sdf.columns)].sort_values(
                list(sorted(sdf.columns))).reset_index(drop=True)
            o2 = norm(odf)[sorted(odf.columns)].sort_values(
                list(sorted(odf.columns))).reset_index(drop=True)
            diff = (s2.astype(str) != o2.astype(str)).any(axis=1)
            print("   first diffs:")
            print(pd.concat([s2[diff].head(3), o2[diff].head(3)],
                            keys=["spark", "oracle"]).to_string()[:1200])
    print("\n%d failures: %s" % (len(fails), fails))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
