"""SemDeDup semantic dedup (operators/semdedup.py).

The exact single-cell mode is hash-gated against the DuckDB all-pairs
oracle (plans/dedup_ops.py); these tests pin the PRODUCTION
multi-cell mode, which has no SQL twin (k-means cells are
Spark-side): precision is provable (intra-cell pairs are a subset of
all pairs, each verified by an exact cosine), recall is measured
against the exact mode on the fixture, and planted exact duplicates
must always be caught (identical directions share a nearest
centroid).
"""
from __future__ import annotations

import pytest

from conftest import TESTDATA_SF


def _verdicts(df):
    return {
        r["vec_id"]: (r["n_dups_lower"], r["max_cos_ppm"], r["is_kept"])
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def modes(spark):
    from spark_bi5_datasource_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{TESTDATA_SF}/embeddings.parquet")
    exact = _verdicts(semantic_dedup(emb, threshold=0.3, nlist=1))
    prod = _verdicts(semantic_dedup(emb, threshold=0.3, nlist=4, iters=2))
    return exact, prod


def test_production_mode_precision(modes):
    # every duplicate the cell-bounded mode finds is a true duplicate:
    # its count/best-cosine can never exceed the all-pairs answer
    exact, prod = modes
    assert set(prod) == set(exact)  # same vector population
    for vid, (n, mx, kept) in prod.items():
        en, emx, ekept = exact[vid]
        assert n <= en
        if mx is not None:
            assert emx is not None and mx <= emx
        if not kept:  # dropped by production => dropped by exact
            assert not ekept


def test_production_mode_recall(modes):
    exact, prod = modes
    dropped_exact = {v for v, (_n, _m, k) in exact.items() if not k}
    dropped_prod = {v for v, (_n, _m, k) in prod.items() if not k}
    assert dropped_exact, "fixture must contain semantic duplicates"
    recall = len(dropped_prod) / len(dropped_exact)
    # measured 1.0 on the sf0.001 fixture with nlist=4; pin a margin
    assert recall >= 0.6, recall


def test_planted_exact_duplicates_always_caught(spark):
    from spark_bi5_datasource_spark.operators.semdedup import semantic_dedup

    # v and 2v have cosine exactly 1 and the same unit direction, so
    # they land in the same cell at ANY nlist — the duplicate must be
    # dropped and its representative (lowest id) kept
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
        [0.5, 0.5, 0.0, 0.0],
        [0.0, 0.5, 0.5, 0.0],
    ]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(100 + i, [2.0 * x for x in v]) for i, v in enumerate(base)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = _verdicts(semantic_dedup(emb, threshold=0.99, nlist=3, iters=2))
    for i in range(len(base)):
        assert out[i][2] is True, f"representative {i} must be kept"
        assert out[100 + i][2] is False, f"twin {100 + i} must be dropped"
        assert out[100 + i][1] == 1_000_000  # cosine exactly 1 -> 1e6 ppm


def test_zero_norm_rows_dropped(spark):
    from spark_bi5_datasource_spark.operators.semdedup import semantic_dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = _verdicts(semantic_dedup(emb, threshold=0.5, nlist=1))
    assert set(out) == {0, 2}
    assert out[0][2] is True and out[2][2] is False
