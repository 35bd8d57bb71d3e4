"""Sharded exact ANN via Arrow-batched matrix kernels — the third
similarity tier (SURVEY §2 north star: brute-force baseline → LSH
buckets → sharded GEMM).

``cosine_topk`` (expression path) evaluates one dot product per
corpus×query pair inside codegen; fine for small query sets but the
per-pair expression overhead dominates when |Q| grows.  This operator
instead runs one NumPy GEMM per corpus partition per Arrow batch
(``mapInPandas``): the broadcast query block is a (q×d) matrix, each
corpus batch a (b×d) matrix, similarity = one ``B @ Q.T``.  Per-
partition top-k (local heap) then a global per-query top-k window
merges shard results — the classic scatter-gather ANN serving plan,
expressed in two Spark operators.

Scale shape: corpus stays partitioned (no shuffle of the big side);
only |partitions|·k·|Q| candidate rows reach the final window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import rank_topk

__all__ = ["ann_topk_gemm", "block_topk"]


def block_topk(
    c_ids: np.ndarray,
    c_mat: np.ndarray,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    k: int,
    include_self: bool = False,
) -> pd.DataFrame:
    """The NumPy kernel of the GEMM tiers: the ``k`` best corpus rows
    per query for one corpus block × query block, by one GEMM, plus
    every row tied with the ``k``-th.

    Zero-norm rows of either side are dropped: their cosine is
    undefined (as in ``cosine_topk`` and the DuckDB oracle).  Unless
    ``include_self``, a row paired with its own id scores ``-inf``; it
    is still returned when the block has fewer than ``k`` other rows,
    so the caller drops ``-inf`` before ``rank_topk`` merges the
    blocks.  Returns ``query_id, nbr_id, cosine`` in no order."""
    if c_ids.size and q_ids.size:
        c_norm = np.linalg.norm(c_mat, axis=1)
        q_norm = np.linalg.norm(q_mat, axis=1)
        keep_c, keep_q = c_norm > 0, q_norm > 0
        c_ids, c_mat, c_norm = c_ids[keep_c], c_mat[keep_c], c_norm[keep_c]
        q_ids, q_mat, q_norm = q_ids[keep_q], q_mat[keep_q], q_norm[keep_q]
    if c_ids.size == 0 or q_ids.size == 0:
        return pd.DataFrame(
            {
                "query_id": np.empty(0, np.int64),
                "nbr_id": np.empty(0, np.int64),
                "cosine": np.empty(0, np.float64),
            }
        )
    sims = (c_mat @ q_mat.T) / c_norm[:, None] / q_norm[None, :]
    if not include_self:
        sims[c_ids[:, None] == q_ids[None, :]] = -np.inf
    kk = min(k, sims.shape[0])
    # each query's kk-th best score (a partition, not a full sort).
    # Every row tied with it is kept too: a cut at exactly kk rows
    # would keep an arbitrary one of the tied rows, and the caller's
    # window could then not break the tie by the lower nbr_id
    kth = -np.partition(-sims, kk - 1, axis=0)[kk - 1]
    rows, cols = np.nonzero(sims >= kth[None, :])
    return pd.DataFrame(
        {
            "query_id": q_ids[cols],
            "nbr_id": c_ids[rows],
            "cosine": sims[rows, cols],
        }
    )


def ann_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors computed shard-wise with NumPy.

    Same results as ``cosine_topk`` (deterministic: unique neighbor
    ids break ties) with GEMM throughput.  The query side is collected
    to the driver and closed over (it must be the small side — same
    constraint as a broadcast join).
    """
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    if not q_rows or not (np.linalg.norm(q_mat, axis=1) > 0).any():
        schema = "query_id long, nbr_id long, cosine double, rank int"
        return corpus.sparkSession.createDataFrame([], schema)

    def shard_topk(batches):
        for pdf in batches:
            yield block_topk(
                pdf[id_col].to_numpy(),
                np.asarray(pdf[vec_col].tolist(), dtype=np.float64),
                q_ids,
                q_mat,
                k,
                include_self,
            )

    local = corpus.select(id_col, vec_col).mapInPandas(
        shard_topk, schema="query_id long, nbr_id long, cosine double"
    )
    return rank_topk(local.filter(F.col("cosine") != float("-inf")), k)
