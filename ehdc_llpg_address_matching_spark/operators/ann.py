"""Approximate-nearest-neighbor search over an embedding column.

Two paths over (id, embedding array<float>):

  brute_force_topk — broadcast the corpus matrix, stream queries
      through mapInPandas, one GEMM per Arrow batch + argpartition.
      Exact; right whenever the corpus side fits in executor memory
      (10^5-10^7 x small dim). This replaces the reference's in-memory
      vector store scan (internal/engine/vector_db.go:68-118).

  lsh_topk — random-hyperplane LSH: 16-bit sign buckets with B
      independent tables; candidates = bucket collisions; exact cosine
      re-rank on candidates. The scale path when neither side
      broadcasts: only shuffles on short bucket keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _collect_matrix(corpus: DataFrame, id_col: str, vec_col: str):
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows])
    mat = np.array([r[vec_col] for r in rows], dtype=np.float32)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return ids, mat


def _topk(sims: np.ndarray, ids: np.ndarray, k: int):
    """(row, col, rank) of the top-k columns of each row of a (queries x
    corpus) cosine block, by cosine desc, id asc: the window order of
    lsh_topk and ivf_topk. Every column tied at the k-th cosine joins
    argpartition's pick, so the ids decide which ties survive."""
    kk = min(k, sims.shape[1])
    idx = np.argpartition(-sims, kth=kk - 1, axis=1)[:, :kk]
    thr = np.take_along_axis(sims, idx, axis=1).min(axis=1, keepdims=True)
    row, col = np.nonzero(sims >= thr)
    order = np.lexsort((ids[col], -sims[row, col], row))
    row, col = row[order], col[order]
    rank = np.arange(len(row)) - np.searchsorted(row, row)
    keep = rank < kk
    return row[keep], col[keep], rank[keep] + 1


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     exclude_self: bool = True) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank). Deterministic tie-break:
    cosine desc, neighbor_id asc. One GEMM per Arrow batch of
    L2-normalized queries against the broadcast corpus matrix, then the
    top-k kernel candidates.cand_vector's broadcast route shares."""
    b_matrix = queries.sparkSession.sparkContext.broadcast(
        _collect_matrix(corpus, id_col, vec_col))

    def run(it):
        cids, cmat = b_matrix.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            q = np.array(pdf[vec_col].to_list(), dtype=np.float32)
            q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
            sims = q @ cmat.T
            qids = pdf[id_col].to_numpy()
            if exclude_self:
                for r, qid in enumerate(qids):
                    same = np.nonzero(cids == qid)[0]
                    sims[r, same] = -2.0
            row, col, rank = _topk(sims, cids, k)
            yield pd.DataFrame({"query_id": qids[row],
                                "neighbor_id": cids[col],
                                "cosine": sims[row, col].astype(float),
                                "rank": rank})

    qid_type = dict(queries.dtypes)[id_col]
    return queries.select(id_col, vec_col).mapInPandas(
        run, schema=f"query_id {qid_type}, neighbor_id {qid_type}, "
                    f"cosine double, rank int")


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_cells: int = 16, n_probe: int = 4,
             seed: int = 13, sample_rows: int = 50_000,
             exclude_self: bool = True) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer -> corpus
    bucketed by nearest centroid (one map-only pass) -> each query
    probes its n_probe nearest cells -> equi-join on cell id -> exact
    cosine re-rank -> top-k window.

    The alternative scale path to lsh_topk: centroids are trained once
    on a bounded sample (driver-side Lloyd iterations on <= sample_rows
    vectors, deterministic seed), then everything is a broadcast of a
    (n_cells x d) matrix plus ONE shuffle on the short cell key. Recall
    grows with n_probe; n_probe = n_cells degenerates to exact."""
    spark = queries.sparkSession
    # --- train the coarse quantizer on a deterministic sample.
    # Hash-ordered top-k, NOT count()+sample()+limit(): the old shape
    # paid a full eager count() pass over the corpus at plan-build time
    # — in the very path that exists for un-broadcastable 10^8-row
    # corpora. orderBy(xxhash64(id)) + limit compiles to
    # TakeOrderedAndProject: ONE pass, per-partition top-k then a
    # driver merge of num_partitions x sample_rows rows, and the
    # selected rows are deterministic regardless of partitioning
    # (plain limit without order is partition-order-dependent, which
    # made centroids vary run to run).
    sample = np.array(
        [r[0] for r in corpus
            .select(vec_col, F.xxhash64(F.col(id_col)).alias("_h"))
            .orderBy("_h").limit(sample_rows)
            .select(vec_col).collect()],
        dtype=np.float32)
    sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rs = np.random.RandomState(seed)
    n_cells = min(n_cells, len(sample))
    cent = sample[rs.choice(len(sample), n_cells, replace=False)].copy()
    for _ in range(10):  # Lloyd iterations, fixed count => deterministic
        assign = (sample @ cent.T).argmax(axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = sample[m].mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    b_cent = spark.sparkContext.broadcast(cent)

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    def _cells_udf(probe: int):
        @pandas_udf(ArrayType(IntegerType()))
        def _cells(vecs: pd.Series) -> pd.Series:
            C = b_cent.value
            V = np.array(vecs.to_list(), dtype=np.float32)
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                               1e-12)
            sims = V @ C.T
            p = min(probe, sims.shape[1])
            idx = np.argpartition(-sims, kth=p - 1, axis=1)[:, :p]
            return pd.Series([row.tolist() for row in idx])
        return _cells

    ck = (corpus.withColumn("_c", _cells_udf(1)(F.col(vec_col)))
          .select(F.col(id_col).alias("c_id"),
                  F.col(vec_col).alias("c_vec"),
                  F.explode("_c").alias("cell")))
    qk = (queries.withColumn("_c", _cells_udf(n_probe)(F.col(vec_col)))
          .select(F.col(id_col).alias("q_id"),
                  F.col(vec_col).alias("q_vec"),
                  F.explode("_c").alias("cell")))
    cand = qk.join(ck, "cell")
    if exclude_self:
        cand = cand.filter(F.col("q_id") != F.col("c_id"))
    # a (query, corpus-row) pair can meet in at most one cell (corpus
    # rows live in exactly one cell), so no distinct needed
    dot = F.aggregate(F.zip_with("q_vec", "c_vec", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    qn = F.sqrt(F.aggregate(F.transform("q_vec", lambda a: a * a),
                            F.lit(0.0), lambda acc, v: acc + v))
    cn = F.sqrt(F.aggregate(F.transform("c_vec", lambda a: a * a),
                            F.lit(0.0), lambda acc, v: acc + v))
    cand = cand.withColumn("cosine", dot / F.greatest(qn * cn, F.lit(1e-12)))
    from pyspark.sql import Window
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (cand
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("q_id").alias("query_id"),
                    F.col("c_id").alias("neighbor_id"), "cosine", "rank"))


def lsh_planes(n_planes: int, n_tables: int, dim: int,
               seed: int) -> np.ndarray:
    """The (n_tables, n_planes, dim) float32 hyperplane tensor both the
    engine and any external mirror (e.g. the DuckDB oracle) must share:
    one RandomState(seed) draw, float32-rounded BEFORE any projection,
    so every consumer sees bit-identical plane values."""
    rs = np.random.RandomState(seed)
    return rs.standard_normal((n_tables, n_planes, dim)).astype(np.float32)


def _hyperplane_bucket_udf(spark, n_planes: int, n_tables: int, dim: int,
                           seed: int):
    """Arrow UDF mapping a vector column to its per-table sign buckets
    (array of n_tables packed ints)."""
    b_planes = spark.sparkContext.broadcast(
        lsh_planes(n_planes, n_tables, dim, seed))

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        P = b_planes.value
        if len(vecs) == 0:
            # empty Arrow batch: np.array([]) would be 1-D and break
            # the (n, dim) GEMM below (round-5 advice)
            return pd.Series([], dtype=object)
        V = np.array(vecs.to_list(), dtype=np.float32)  # (n, dim)
        out = []
        # (tables, n, planes) sign bits -> packed ints
        for t in range(P.shape[0]):
            proj = V @ P[t].T > 0
            packed = (proj.astype(np.int64) <<
                      np.arange(P.shape[1], dtype=np.int64)[None, :]).sum(axis=1)
            out.append(packed)
        arr = np.stack(out, axis=1)  # (n, tables)
        return pd.Series([row.tolist() for row in arr])

    return _buckets


def lsh_bucket_pairs(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding", n_planes: int = 12,
                     n_tables: int = 4, dim: int | None = None,
                     seed: int = 7, min_cosine: float = 0.2) -> DataFrame:
    """The deterministic, hash-checkable face of the hyperplane index:
    distinct bucket-collision pairs (id_a < id_b) across all tables
    whose exact cosine clears ``min_cosine``. Shares the bucketing
    definition with lsh_topk (same seed -> same planes -> the same
    candidate universe the top-k query searches), so an external oracle
    that replays the plane projections verifies the index itself, not
    just a sampled recall.

    Scale shape: ids only through the collision self-join and the
    dedupe; vectors re-attach once per surviving pair. Pick
    ``min_cosine`` off any pair's boundary for the target corpus —
    float32-vs-float64 ULP differences must not flip membership (the
    sign margins of the projections themselves are corpus properties;
    measured >= 6e-5 on the shipped test corpus, ~10x the f32 rounding
    envelope at dim 64)."""
    if dim is None:
        first = df.select(vec_col).first()
        if first is None or first[vec_col] is None:
            id_type = dict(df.dtypes)[id_col]
            return df.sparkSession.createDataFrame(
                [], f"id_a {id_type}, id_b {id_type}")
        dim = len(first[vec_col])
    spark = df.sparkSession
    _buckets = _hyperplane_bucket_udf(spark, n_planes, n_tables, dim, seed)
    keyed = (df.withColumn("_b", _buckets(F.col(vec_col)))
             .select(F.col(id_col).alias("_id"),
                     F.posexplode("_b").alias("table", "bucket")))
    a = keyed.select(F.col("_id").alias("id_a"), "table", "bucket")
    b = keyed.select(F.col("_id").alias("id_b"), "table", "bucket")
    pairs = (a.join(b, ["table", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    va = df.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("_vb"))
    dot = F.aggregate(F.zip_with("_va", "_vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform("_va", lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform("_vb", lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return (pairs.join(va, "id_a").join(vb, "id_b")
            .filter(dot / F.greatest(na * nb, F.lit(1e-12))
                    >= F.lit(min_cosine))
            .select("id_a", "id_b"))


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = 12, n_tables: int = 4, dim: int | None = None,
             seed: int = 7, exclude_self: bool = True) -> DataFrame:
    """Random-hyperplane LSH: per table t, bucket = sign-bit string of
    n_planes projections. Equi-join on (table, bucket), exact cosine on
    collisions, top-k window. Recall < 1 by design; raise n_tables for
    more recall, n_planes for more precision."""
    if dim is None:
        # fallback only — callers should pass dim so no driver-side
        # action blocks the lazy plan
        first = queries.select(id_col, vec_col).first()
        if first is None or first[vec_col] is None:
            # empty queries: return an empty frame with the contract
            # schema instead of crashing on None[0]
            qid_type = dict(queries.dtypes)[id_col]
            return queries.sparkSession.createDataFrame(
                [], f"query_id {qid_type}, neighbor_id {qid_type}, "
                    f"cosine double, rank int")
        dim = len(first[vec_col])
    spark = queries.sparkSession
    _buckets = _hyperplane_bucket_udf(spark, n_planes, n_tables, dim, seed)

    def keyed(df, prefix):
        return (df
                .withColumn("_b", _buckets(F.col(vec_col)))
                .select(F.col(id_col).alias(f"{prefix}_id"),
                        F.col(vec_col).alias(f"{prefix}_vec"),
                        F.posexplode("_b").alias("table", "bucket")))

    # ids ONLY through the bucket join and the dedupe: embedding
    # payloads (dim x 8 bytes, duplicated once per table and again per
    # bucket collision) must not ride either shuffle — at 384 dims
    # that cut the dedupe shuffle ~100x. Vectors are re-attached by
    # equi-join on the surviving (q_id, c_id) pairs, each exactly once.
    qk = keyed(queries, "q").drop("q_vec")
    ck = keyed(corpus, "c").drop("c_vec")
    cand = qk.join(ck, ["table", "bucket"])
    if exclude_self:
        cand = cand.filter(F.col("q_id") != F.col("c_id"))
    cand = cand.select("q_id", "c_id").distinct()
    cand = (cand
            .join(queries.select(F.col(id_col).alias("q_id"),
                                 F.col(vec_col).alias("q_vec")), "q_id")
            .join(corpus.select(F.col(id_col).alias("c_id"),
                                F.col(vec_col).alias("c_vec")), "c_id"))
    dot = F.aggregate(F.zip_with("q_vec", "c_vec", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    qn = F.sqrt(F.aggregate(F.transform("q_vec", lambda a: a * a),
                            F.lit(0.0), lambda acc, v: acc + v))
    cn = F.sqrt(F.aggregate(F.transform("c_vec", lambda a: a * a),
                            F.lit(0.0), lambda acc, v: acc + v))
    cand = cand.withColumn("cosine", dot / F.greatest(qn * cn, F.lit(1e-12)))
    from pyspark.sql import Window
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (cand
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("q_id").alias("query_id"),
                    F.col("c_id").alias("neighbor_id"), "cosine", "rank"))
