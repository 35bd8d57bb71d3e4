"""IVF (inverted-file) approximate nearest neighbors — the third ANN
tier (SURVEY §2 north star: brute force → LSH buckets → sharded GEMM;
IVF adds the data-adaptive cell index used by production vector
stores).

Structure, 100-TB-shaped:

* ``kmeans_centroids`` — Lloyd iterations as DataFrame aggregations.
  Assignment is an Arrow-vectorized pandas_udf closing over the
  centroid matrix (k × dim doubles — bytes, shipped with the task like
  a broadcast): one NumPy GEMM per batch instead of k interpreted
  higher-order-function dots per row (the HOF shape measured ~2 ms/row
  at k=16·d=64 — interpretive overhead, not arithmetic).  The
  per-iteration reduce state is k × dim running means (collected to
  the driver, bounded like any broadcast build side).
* ``ivf_topk`` — corpus rows are bucketed by nearest centroid (one
  narrow projection, no shuffle of the corpus); each query probes its
  ``nprobe`` nearest cells; candidates come from a cell equi-join
  (broadcast query side), scored exactly, per-query top-k window.

Recall is tunable via nlist/nprobe (nprobe = nlist ⇒ exact); measured
against ``cosine_topk`` in tests/test_operators.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _DOT, rank_topk, with_norm

__all__ = ["kmeans_centroids", "ivf_topk"]


def _nearest_cells_udf(cents: np.ndarray, nprobe: int):
    """Arrow-vectorized (batch GEMM) nearest-centroid assignment:
    returns the ``nprobe`` nearest cell indices per vector, ascending
    squared-L2 distance (−2·v·c_j + |c_j|², ties broken by lower j via
    stable sort — the same order a sequential argmin gives)."""
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(cents, dtype=np.float64)
    cn = (C * C).sum(axis=1)

    @pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        M = np.asarray(v.tolist(), dtype=np.float64)
        d = -2.0 * (M @ C.T) + cn[None, :]
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    return cells


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Spherical Lloyd's k-means over an embedding column, distributed.

    Vectors are L2-NORMALIZED before clustering: the search metric is
    cosine, and L2 cells over raw magnitudes would separate colinear
    vectors of different norms (v and 100·v have cosine 1 but huge L2
    distance) — on the unit sphere, L2 order equals cosine order.

    Init is the k rows with smallest xxhash64(id) — deterministic and
    scan-cheap (TakeOrderedAndProject), no RNG in the plan.  Each
    iteration: Arrow-batch GEMM nearest-centroid assignment, then
    per-cell element-wise means via posexplode + two-level
    aggregation.  Only k × dim means ever reach the driver.

    The normalized input is persisted (memory, spilling to disk) for
    the duration of training: Lloyd runs ``iters`` sequential jobs
    over the same frame, and without the cache each one would re-scan
    and re-normalize the corpus — at 100× that re-read dominates.  One
    materialization regardless of ``iters``; released before return."""
    v = _unit_vectors(df, vec_col, id_col).persist()
    try:
        init = (
            v.withColumn("__h", F.xxhash64("__id"))
            .orderBy("__h")
            .limit(k)
            .select("v")
            .collect()
        )
        cents = np.asarray([r.v for r in init], dtype=np.float64)
        for _ in range(iters):
            cell1 = _nearest_cells_udf(cents, 1)
            assigned = v.withColumn("cell", cell1(F.col("v"))[0])
            means = (
                assigned.select("cell", F.posexplode("v").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            new = cents.copy()  # empty cells keep their previous centroid
            for r in means:
                new[r.cell, r.pos] = r.m
            if np.allclose(new, cents, atol=1e-12):
                break
            cents = new
    finally:
        v.unpersist()
    return cents


def _unit_vectors(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(__id, v): L2-normalized double vectors, zero-norm rows dropped."""
    return with_norm(df, vec_col).filter(F.col("norm") > 0).select(
        F.col(id_col).alias("__id"),
        F.expr("transform(__v, x -> x / norm)").alias("v"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF cells.

    Pass precomputed ``centroids`` to skip training (the production
    shape: train once on a sample, reuse across queries)."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(corpus, vec_col, nlist, iters, id_col)
    )
    # cells are assigned on UNIT vectors (cosine order == L2 order on
    # the sphere); scoring still uses the raw vectors + norms exactly
    cell1 = _nearest_cells_udf(cents, 1)
    cellp = _nearest_cells_udf(cents, nprobe)
    c = (
        with_norm(corpus, vec_col)
        .filter(F.col("norm") > 0)
        .withColumn("__u", F.expr("transform(__v, x -> x / norm)"))
        .select(
            F.col(id_col).alias("nbr_id"),
            F.col("__v").alias("__cv"),
            F.col("norm").alias("__cn"),
            cell1(F.col("__u"))[0].alias("cell"),
        )
    )
    q = (
        with_norm(queries, vec_col)
        .filter(F.col("norm") > 0)
        .withColumn("__u", F.expr("transform(__v, x -> x / norm)"))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("__v").alias("__qv"),
            F.col("norm").alias("__qn"),
            F.explode(cellp(F.col("__u"))).alias("cell"),
        )
    )
    joined = c.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("nbr_id")
    )
    scored = joined.withColumn(
        "cosine",
        F.expr(_DOT.format(a="__cv", b="__qv")) / (F.col("__cn") * F.col("__qn")),
    )
    return rank_topk(scored, k)
