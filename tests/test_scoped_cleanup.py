"""Enforced cleanup for pagerank's persisted invariants + checkpoint
blocks (r11 verdict ask #5).  The docstring contract ("call
clearCache() between runs") becomes an API with tests:
``storage_scope`` returns executor storage to baseline.  Also: the
ANN recall monitor's per-session feature cache drops the entries of
stopped sessions.
"""

from __future__ import annotations

import pytest


def _persisted(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


class TestStorageScope:
    def _edges(self, spark):
        rows = [(i, (i * 3 + 1) % 40) for i in range(40)] + [
            (i, (i * 7 + 2) % 40) for i in range(40)
        ]
        return spark.createDataFrame(rows, "src long, dst long")

    def test_pagerank_storage_returns_to_baseline(self, spark):
        from spark_bi5_datasource_spark.operators import (
            pagerank,
            storage_scope,
        )

        spark.catalog.clearCache()
        baseline = _persisted(spark)
        with storage_scope(spark):
            ranks = pagerank(self._edges(spark), iters=4)
            got = ranks.collect()
            assert len(got) == 40
            inside = _persisted(spark)
            # the drill is real: invariants + checkpoint blocks exist
            assert len(inside - baseline) >= 3
        assert _persisted(spark) == baseline

    def test_preexisting_caches_untouched(self, spark):
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators import storage_scope

        keep = spark.range(100).select(
            F.col("id"), (F.col("id") * 2).alias("x")
        ).persist()
        keep.count()  # materialize the cache
        held = _persisted(spark)
        try:
            with storage_scope(spark):
                tmp = spark.range(50).persist()
                tmp.count()
            after = _persisted(spark)
            assert held <= after  # keep's RDD survived
            assert keep.count() == 100
            # and the scoped persist is gone
            assert after == held
        finally:
            keep.unpersist()

    def test_cleanup_runs_on_exception(self, spark):
        from spark_bi5_datasource_spark.operators import storage_scope

        spark.catalog.clearCache()
        baseline = _persisted(spark)
        with pytest.raises(RuntimeError, match="boom"):
            with storage_scope(spark):
                d = spark.range(10).persist()
                d.count()
                raise RuntimeError("boom")
        assert _persisted(spark) == baseline


class TestRecallFeatCacheEviction:
    def test_stale_session_entry_dropped(self, spark):
        import os

        from tests.conftest import TESTDATA_SF

        if not os.path.isdir(TESTDATA_SF):
            pytest.skip(f"no fixture at {TESTDATA_SF}")
        from spark_bi5_datasource_spark import plans
        from spark_bi5_datasource_spark.plans import similarity_ops

        stale = ("app-stale", TESTDATA_SF)
        similarity_ops._RECALL_FEAT_CACHE[stale] = (None, "")
        try:
            plans.queries()["sim_ann_recall_monitor"](spark, TESTDATA_SF)
            assert stale not in similarity_ops._RECALL_FEAT_CACHE
            live = (spark.sparkContext.applicationId, TESTDATA_SF)
            assert live in similarity_ops._RECALL_FEAT_CACHE
        finally:
            similarity_ops._RECALL_FEAT_CACHE.pop(stale, None)
