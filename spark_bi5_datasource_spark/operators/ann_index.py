"""Persisted IVF (inverted-file) ANN index maintenance — the vector
analogue of the MinHash band index (band_index.py): the per-crawl
artifact that makes recurring-corpus similarity search |Δ| assignment
work instead of a full re-cluster, and query serving a stored-index
probe instead of a per-batch rebuild.

``ivf_topk`` (ivf.py) derives its cell-bucketed corpus inline on every
call.  This module makes that corpus-side state a real, storable
artifact:

* ``build_ivf_index``  — assign every corpus vector to its nearest
                         stored centroid: one narrow (cell, id, vec,
                         norm) frame, no shuffle of the corpus
* ``merge_ivf_index``  — MERGE-style maintenance keyed on id: retire
                         dropped vectors' rows, append new vectors
                         assigned with the SAME stored centroids (the
                         production shape — retrain rarely, reassign
                         cheaply; idempotent unless ``assume_new``)
* ``write_ivf_index`` / ``read_ivf_index`` — parquet round-trip of the
                         cell frame AND the centroid matrix (the
                         centroids are part of the index: probing with
                         different centroids than the rows were
                         assigned under silently breaks recall)
* ``ivf_probe_index``  — serve top-k cosine queries against a stored
                         (index, centroids) pair: queries probe their
                         ``nprobe`` nearest cells via a broadcast
                         equi-join, candidates scored exactly, one
                         per-query top-k window.  ``nprobe = nlist``
                         probes every cell ⇒ provably exact (the
                         sim_ivf_exact discipline).

Scale shape: the index is one row per corpus vector (id + cell + the
vector itself — the same bytes any vector store holds), written once
per crawl.  A merge touches |retired| + |added| rows; assignment of
the added vectors is one Arrow GEMM batch pass against the k × dim
centroid literal (driver-bounded, the documented ivf.py centroid
class).  Nothing here pairs the corpus with itself, and probe cost is
|Q|·(corpus/nlist)·nprobe candidates, not |Q|·|C|.

Cites reference scope: the reference engine has no similarity or
index-maintenance surface (README.md:17 — loading only); this is the
LLM-pipeline extension tier.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivf import _nearest_cells_udf
from .similarity import _DOT, rank_topk, with_norm

__all__ = [
    "build_ivf_index",
    "merge_ivf_index",
    "write_ivf_index",
    "read_ivf_index",
    "ivf_probe_index",
]


def _assigned(
    df: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(cell, nbr_id, vec, norm): nearest-centroid assignment on UNIT
    vectors (cosine order == L2 order on the sphere — the ivf.py
    policy); the raw double vector + norm ride along for exact
    scoring at probe time.  Zero-norm vectors are dropped (no cosine
    is defined for them)."""
    cell1 = _nearest_cells_udf(centroids, 1)
    return (
        with_norm(df, vec_col)
        .filter(F.col("norm") > 0)
        .withColumn("__u", F.expr("transform(__v, x -> x / norm)"))
        .select(
            cell1(F.col("__u"))[0].alias("cell"),
            F.col(id_col).alias("nbr_id"),
            F.col("__v").alias("vec"),
            F.col("norm").alias("norm"),
        )
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The (cell, nbr_id, vec, norm) inverted file of a corpus under a
    trained centroid matrix — exactly the corpus side ``ivf_topk``
    derives inline, as a standalone frame a pipeline can persist.
    One narrow projection + one Arrow GEMM pass; no shuffle."""
    return _assigned(corpus, centroids, id_col, vec_col)


def merge_ivf_index(
    index: DataFrame,
    added: DataFrame | None = None,
    retired: DataFrame | None = None,
    *,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assume_new: bool = False,
    upsert: bool = False,
) -> DataFrame:
    """One crawl cycle of inverted-file maintenance, MERGE-style on
    id: drop every row of ``retired`` ids (a one-column id frame),
    then append ``added`` vectors assigned under the SAME stored
    centroids — retire-then-add, so a vector present in both ends up
    (re)indexed from its ``added`` embedding.

    Idempotence: ``added`` vectors already present in the post-retire
    index are skipped (anti-join on id) unless ``assume_new=True``
    (fresh-id pipelines skip the distinct pass).  NOTE the skip keeps
    the STORED embedding — a re-embed intent must either list the id
    in ``retired`` or pass ``upsert=True``, which flips the anti-join
    direction (stored rows whose id appears in ``added`` are dropped,
    the fresh assignment wins).  Upsert stays idempotent — replaying
    the same (added, retired) batch reproduces the same index — and
    costs the same single id anti-join as skip mode.

    Equality contract (pinned by pytest): for any split C = K ∪ R,
    ``merge_ivf_index(build_ivf_index(K ∪ R, cents), added=A,
    retired=ids(R), centroids=cents)`` row-equals
    ``build_ivf_index(K ∪ A, cents)`` — the stored-and-maintained
    index is indistinguishable from a fresh rebuild of the live
    corpus.  (Centroids are NOT retrained by a merge: cell quality
    drifts with the corpus and is re-audited by the recall monitor;
    retraining is a deliberate re-index, not a merge.)"""
    out = index
    if retired is not None:
        rid = retired.select(F.col(retired.columns[0]).alias("nbr_id"))
        out = out.join(rid, "nbr_id", "left_anti")
    if added is not None:
        new_rows = _assigned(added, centroids, id_col, vec_col)
        if upsert:
            out = out.join(
                new_rows.select("nbr_id").distinct(), "nbr_id", "left_anti"
            )
        elif not assume_new:
            new_rows = new_rows.join(
                out.select("nbr_id").distinct(), "nbr_id", "left_anti"
            )
        out = out.unionByName(new_rows)
    # equi-joins on a string key hoist it to the front; restore the
    # canonical index column order so merged ≡ freshly-built frames
    return out.select("cell", "nbr_id", "vec", "norm")


def write_ivf_index(
    index: DataFrame, centroids: np.ndarray, path: str
) -> None:
    """Persist the inverted file to ``path`` — cell rows PARTITIONED
    BY cell (probes filter on the probed cells, so partition pruning
    skips every unprobed cell's files at any corpus size) plus the
    centroid matrix as a k-row SIBLING table at ``path``.centroids
    (it is part of the index — see the module docstring).  Sibling,
    not nested: a nested ``path/_centroids`` only stays invisible to
    readers that honor Spark's underscore-hidden-path convention; a
    non-Spark scanner globbing ``path/**`` (duckdb read_parquet, a
    plain Arrow dataset) would ingest centroid rows as corrupt index
    rows.  The sibling layout keeps the partitioned dataset pure for
    ANY parquet reader."""
    spark = index.sparkSession
    index.write.mode("overwrite").partitionBy("cell").parquet(path)
    cents = [
        (int(i), [float(x) for x in row]) for i, row in enumerate(centroids)
    ]
    spark.createDataFrame(cents, "cell INT, centroid ARRAY<DOUBLE>").coalesce(
        1
    ).write.mode("overwrite").parquet(path.rstrip("/") + ".centroids")


def read_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, np.ndarray]:
    """Read a stored inverted file back: (cell frame, centroid
    matrix).  The centroid collect is k × dim doubles — the bounded
    driver-state class ivf.py documents."""
    idx = spark.read.parquet(path).select("cell", "nbr_id", "vec", "norm")
    rows = spark.read.parquet(path.rstrip("/") + ".centroids").collect()
    cents = np.asarray(
        [r.centroid for r in sorted(rows, key=lambda r: r.cell)],
        dtype=np.float64,
    )
    return idx, cents


def ivf_probe_index(
    index: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k cosine neighbors served from a STORED inverted file:
    each query probes its ``nprobe`` nearest cells (Arrow GEMM
    assignment), candidates come from the cell equi-join (broadcast
    query side — queries are the small side by construction),
    scored exactly from the stored raw vectors, one per-query top-k
    window.  ``nprobe = len(centroids)`` ⇒ provably exact."""
    cellp = _nearest_cells_udf(centroids, nprobe)
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
    joined = index.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("nbr_id")
    )
    scored = joined.withColumn(
        "cosine",
        F.expr(_DOT.format(a="vec", b="__qv"))
        / (F.col("norm") * F.col("__qn")),
    )
    return rank_topk(scored, k)
