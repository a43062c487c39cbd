"""Round-6 optimization measurement harness (bench.py is FROZEN for
driver measurement; this file holds the extra instrumentation the
optimization round needs — per-query timing with plan capture). The
per-layer linkage profile is `python3 perfbench/run.py --trace 1`.

Usage:
  python bench_extra.py queries [name ...]   # time headline queries (count, like bench.py)
  python bench_extra.py plans  [name ...]    # write .explain("formatted") to plans/r06/
  python bench_extra.py plans-after [name ...]  # same, as the *_after.txt files
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("SPARK_DRIVER_MEM", "16g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "a1_run_stats", "j1_broadcast_join", "d5_winner_margin",
    "j11_dedup_fanout", "j6_grid_pairs", "j10_range_expand",
    "text_quality", "text_token_stats", "exact_dedup", "fingerprint",
    "minhash_lsh_pairs", "simhash_pairs", "ann_top1",
    "stream_windowed_counts", "connected_components",
]


def _make_spark(app):
    from ehdc_llpg_address_matching_spark.session import get_spark
    return get_spark(app_name=app, master=f"local[{CPUS}]",
                     shuffle_partitions=max(CPUS, 8))


def time_queries(names):
    import __spark_entry__ as entrymod
    spark = _make_spark("bench-extra")
    qs = entrymod.queries()
    qs["a1_run_stats"](spark, SF_DIR).collect()  # warm
    results = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        n = df.count()
        results[name] = {"sec": round(time.time() - t0, 3), "rows": n}
        print(json.dumps({name: results[name]}), flush=True)
    spark.sparkContext.setJobDescription(None)
    total = sum(r["sec"] for r in results.values())
    print(json.dumps({"total_sec": round(total, 2),
                      "queries": {k: v["sec"] for k, v in results.items()}}))
    getattr(entrymod, "_ND_CAND_CACHE", {}).clear()
    spark.stop()


def dump_plans(names, suffix="before"):
    import __spark_entry__ as entrymod
    os.makedirs("plans/r06", exist_ok=True)
    spark = _make_spark("bench-extra-plans")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(f"plans/r06/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        print(f"wrote plans/r06/{name}_{suffix}.txt")
    getattr(entrymod, "_ND_CAND_CACHE", {}).clear()
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    names = sys.argv[2:] or BENCH_QUERIES
    if cmd == "queries":
        time_queries(names)
    elif cmd == "plans":
        dump_plans(names)
    elif cmd == "plans-after":
        dump_plans(names, suffix="after")
