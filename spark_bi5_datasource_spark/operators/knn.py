"""Exact K-nearest-neighbor GRAPH over an embedding column — every
vector's top-k cosine neighbors among all the others.

``ann_topk_gemm`` (operators/ann_shard.py) handles the serving shape
(small query set, collected and broadcast); a KNN *graph* has query
set == corpus, so nothing may be collected.  This operator runs the
O(n²) pairing fully distributed with the block-pair plan:

1. Each vector is assigned a block ``b = pmod(xxhash64(id), B)``.
2. Every (i, j) block pair must meet once.  Rows are replicated B
   times, tagged with the pair key they serve: block-i rows carry
   (i, j) for all j as the "corpus" side, block-j rows carry (i, j)
   for all i as the "query" side.  One shuffle of 2·B·n rows
   co-locates every pair.
3. ``applyInPandas`` per pair key: ``block_topk``, the NumPy kernel
   ``ann_topk_gemm`` runs per shard (one GEMM, corpus-block ×
   query-blockᵀ, per-query local top-k via ``argpartition``).
4. A global per-query window merges the B partial top-k lists into
   the exact graph (ties broken by neighbor id — deterministic).

Scale shape: shuffle volume is 2·B·n rows (choose B ≈ √cluster
parallelism; the B² pair tasks are embarrassingly parallel), each
task is one dense GEMM over (n/B)² pairs — the arithmetic-intensity
sweet spot for a vectorized kernel.  No driver-side collect at any
size.  For corpora where O(n²) flops are genuinely unaffordable the
approximate tiers (operators/ivf.py, rp_lsh_topk) are the documented
escape hatch; this operator is their exact-recall referee.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann_shard import block_topk
from .similarity import rank_topk

__all__ = ["knn_graph"]


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    blocks: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbor graph (self-pairs excluded).

    Returns ``query_id, nbr_id, cosine (6 dp), rank`` — one row per
    (vector, neighbor) with rank 1..k.  Zero-norm vectors have no
    defined cosine and are dropped from both roles.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).alias("_b"),
    )
    other = F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_o")
    # corpus role: block i rows meet every j → key (i=_b, j=_o)
    corpus = base.select(
        "_id", "_v", F.col("_b").alias("_i"), other
    ).withColumnsRenamed({"_o": "_j"}).withColumn("_role", F.lit(0))
    # query role: block j rows meet every i → key (i=_o, j=_b)
    queries = base.select(
        "_id", "_v", other, F.col("_b").alias("_j")
    ).withColumnsRenamed({"_o": "_i"}).withColumn("_role", F.lit(1))
    tagged = corpus.select("_i", "_j", "_role", "_id", "_v").unionByName(
        queries.select("_i", "_j", "_role", "_id", "_v")
    )

    def pair_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf[pdf["_role"] == 0]
        q = pdf[pdf["_role"] == 1]
        return block_topk(
            c["_id"].to_numpy(),
            np.asarray(c["_v"].tolist(), dtype=np.float64),
            q["_id"].to_numpy(),
            np.asarray(q["_v"].tolist(), dtype=np.float64),
            k,
        )

    local = tagged.groupBy("_i", "_j").applyInPandas(
        pair_topk, schema="query_id long, nbr_id long, cosine double"
    )
    return rank_topk(local.filter(F.col("cosine") != float("-inf")), k)
