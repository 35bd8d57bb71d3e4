"""Product-quantization (PQ) approximate nearest neighbors — the
fourth ANN tier (after brute force, hyperplane LSH, IVF cells, and
sharded GEMM): the MEMORY-compression tier used by production vector
stores when the corpus no longer fits executor RAM as floats.

A 64-d float32 vector is 256 bytes; its PQ code (m=8 subspaces x 16
centroids) is 8 bytes — 32x smaller.  At 100 TB of embeddings the
code table is the only thing the scoring scan has to read; the raw
vectors are touched again ONLY for the shortlist re-scoring join, a
broadcast semi-join of |queries| x shortlist ids against the corpus.

Pipeline (Asymmetric Distance Computation with exact refinement —
the standard IVFADC/refine arrangement from the public PQ
literature):

1. ``pq_train``  — per-subspace Lloyd k-means on a deterministic,
   bounded sample (hash-ordered, <= ``sample`` rows collected to the
   driver like any broadcast build side); subvector codebooks
   ``(m, ksub, dsub)``.
2. encode+score — ONE ``mapInPandas`` pass over the corpus: each
   Arrow batch is unit-normalized, encoded (argmin centroid per
   subspace), and ADC-scored against every query via the per-task
   lookup table ``LUT[q, j, c] = q_j . codebook[j, c]`` — a NumPy
   gather+sum per batch, no Python per-row work.  Local top-C per
   query per batch bounds the shuffle to ``batches x queries x C``
   rows regardless of corpus size.
3. shortlist — global per-query top-C window over the local
   candidates (scatter-gather merge, same shape as ann_shard).
4. refine — join the shortlist ids back to the raw vectors
   (broadcast: |q| x C rows) and re-score EXACTLY; emit cosine top-k.

Exactness dial: with ``shortlist >= |corpus|`` every non-self row
reaches the exact re-scorer and the result provably equals brute
force — the driver-gate mode (sim_pq_exact); production keeps
shortlist << |corpus| and trades recall (pinned by pytest) for the
32x scan compression.

Reference parity: the reference repo has no similarity surface at
all (it delegates everything beyond the bi5 scan to Spark); this
tier is part of the mandated LLM-pipeline extension.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: mapInPandas type hints must resolve

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _DOT, rank_topk, with_norm

__all__ = ["pq_train", "pq_topk"]


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    iters: int = 8,
    sample: int = 2048,
) -> np.ndarray:
    """Train per-subspace codebooks ``(m, ksub, dsub)`` on a
    deterministic sample of unit-normalized vectors.

    The sample is the ``sample`` rows with smallest ``xxhash64(id)``
    — deterministic, scan-cheap (TakeOrderedAndProject), and bounded
    (collected to the driver like a broadcast build: 2048 x 64
    doubles = 1 MB).  Init per subspace = the first ``ksub`` sampled
    subvectors in hash order; empty cells keep their centroid, so
    training is RNG-free and reproducible."""
    rows = (
        with_norm(df, vec_col)
        .filter(F.col("norm") > 0)
        .withColumn("__h", F.xxhash64(F.col(id_col)))
        .orderBy("__h")
        .limit(sample)
        .select(F.expr("transform(__v, x -> x / norm)").alias("v"))
        .collect()
    )
    X = np.asarray([r.v for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        S = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        C = S[: min(ksub, len(S))].copy()
        if len(C) < ksub:  # degenerate tiny corpus: pad by repetition
            C = np.resize(C, (ksub, dsub))
        for _ in range(iters):
            dist = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = dist.argmin(axis=1)
            new = C.copy()
            for c in range(ksub):
                mask = a == c
                if mask.any():
                    new[c] = S[mask].mean(axis=0)
            if np.allclose(new, C, atol=1e-12):
                break
            C = new
        books[j] = C
    return books


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 100,
    codebooks: np.ndarray | None = None,
    **train_kw,
) -> DataFrame:
    """Cosine top-k via PQ-ADC shortlist + exact re-scoring.

    ``shortlist >= |corpus|`` makes the result provably exact (every
    candidate is exactly re-scored).  The query side is collected and
    shipped with the task — the same bounded broadcast-build
    constraint as ann_shard/ivf, documented there."""
    books = (
        codebooks
        if codebooks is not None
        else pq_train(corpus, vec_col, id_col, **train_kw)
    )
    m, ksub, dsub = books.shape
    B = np.ascontiguousarray(books, dtype=np.float64)

    qrows = (
        with_norm(queries, vec_col)
        .filter(F.col("norm") > 0)
        .select(
            F.col(id_col).alias("query_id"),
            F.expr("transform(__v, x -> x / norm)").alias("qu"),
        )
        .collect()
    )
    if not qrows:
        raise ValueError("queries side is empty")
    qids = np.asarray([r.query_id for r in qrows], dtype=np.int64)
    Q = np.asarray([r.qu for r in qrows], dtype=np.float64)  # (nq, d)
    # LUT[q, j, c] = q's j-th subvector . codebook[j, c]
    LUT = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), m, dsub), B)

    sl = int(shortlist)

    def adc_partition(batches):
        for pdf in batches:
            ids = pdf["__nid"].to_numpy(dtype=np.int64)
            U = np.asarray(pdf["__u"].tolist(), dtype=np.float64)  # (n, d)
            S = U.reshape(len(U), m, dsub)
            # encode: nearest centroid per subspace (squared-L2 argmin)
            codes = np.empty((len(U), m), dtype=np.int64)
            for j in range(m):
                dj = (
                    -2.0 * (S[:, j, :] @ B[j].T)
                    + (B[j] * B[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = dj.argmin(axis=1)
            # ADC: score every query against the batch via LUT gather
            adc = np.zeros((len(Q), len(U)), dtype=np.float64)
            for j in range(m):
                adc += LUT[:, j, :][:, codes[:, j]]
            c = min(sl, len(U))
            top = np.argpartition(-adc, c - 1, axis=1)[:, :c]
            out_q = np.repeat(np.arange(len(Q)), c)
            out_n = top.ravel()
            yield pd.DataFrame(
                {
                    "query_id": qids[out_q],
                    "nbr_id": ids[out_n],
                    "adc": adc[out_q, out_n],
                }
            )

    c = (
        with_norm(corpus, vec_col)
        .filter(F.col("norm") > 0)
        .select(
            F.col(id_col).alias("__nid"),
            F.expr("transform(__v, x -> x / norm)").alias("__u"),
        )
    )
    cand = c.mapInPandas(
        adc_partition, "query_id long, nbr_id long, adc double"
    ).filter(F.col("query_id") != F.col("nbr_id"))
    wsl = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("nbr_id").asc()
    )
    short = (
        cand.withColumn("__r", F.row_number().over(wsl))
        .filter(F.col("__r") <= sl)
        .select("query_id", "nbr_id")
    )

    # exact re-scoring: broadcast the (|q| x C)-row shortlist against
    # the corpus — only shortlisted vectors are ever re-read
    cv = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nbr_id"),
        F.col("__v").alias("__cv"),
        F.col("norm").alias("__cn"),
    )
    qv = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("norm").alias("__qn"),
    )
    scored = (
        cv.join(F.broadcast(short), "nbr_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine",
            F.expr(_DOT.format(a="__cv", b="__qv"))
            / (F.col("__cn") * F.col("__qn")),
        )
    )
    return rank_topk(scored, k)
