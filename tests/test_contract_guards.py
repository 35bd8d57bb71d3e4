"""Adversarial fixtures for the in-plan contract guards (r11 verdict
ask #4): each guard's FAILURE path must raise loudly, not silently
alias bits or diverge from the oracle.  The happy paths are pinned
elsewhere (test_operators.py, the driver hash gate); these tests
construct the inputs the guards exist to reject.
"""

from __future__ import annotations

import pytest


class TestContaminationSourceCapGuard:
    """operators/contamination.contamination_matrix enforces
    ``idx < words*64`` with an in-plan assert_true (r11 fix): a 65th
    source under words=1 would silently alias onto bit idx%64 and
    corrupt every pair count.  Prove the guard fires — and that the
    documented remedy (raise ``words``) accepts the same corpus."""

    N_SOURCES = 70  # > 64: overflows one mask word

    def _docs(self, spark):
        # every doc shares the same text, so every source collides on
        # every shingle — maximal pressure on the bitmask aggregate
        rows = [
            (f"src_{i:03d}", "alpha beta gamma delta epsilon zeta")
            for i in range(self.N_SOURCES)
        ]
        return spark.createDataFrame(rows, "source string, text string")

    def test_more_sources_than_bits_raises(self, spark):
        from spark_bi5_datasource_spark.operators.contamination import (
            contamination_matrix,
        )

        out = contamination_matrix(self._docs(spark), words=1)
        with pytest.raises(Exception, match="more than 64 distinct"):
            out.collect()

    def test_documented_remedy_works(self, spark):
        from spark_bi5_datasource_spark.operators.contamination import (
            contamination_matrix,
        )

        got = contamination_matrix(self._docs(spark), words=2).collect()
        # identical texts ⇒ every unordered pair overlaps fully
        n = self.N_SOURCES
        assert len(got) == n * (n - 1) // 2
        assert all(r.contain_a_ppm == 1_000_000 for r in got)


class TestBandIndexMegabucketGuard:
    """plans/dedup_ops.dedup_band_index_merge ships max_bucket=200
    while its oracle is the exact uncapped twin; the pytest gate
    (test_operators.test_merge_entry_cap_nonbinding_at_oracle_scales)
    fails loudly when a fixture saturates a bucket.  This fixture IS
    that saturation: >200 docs sharing one minhash signature.  Assert
    (a) the gate's detection arithmetic catches it, (b) the health
    monitor (band_index_stats) reports it, and (c) the cap really
    does diverge from exact on such a corpus — i.e. the gate is
    load-bearing, not decorative."""

    N_DUPES = 230  # > the 200 cap

    def _corpus(self, spark):
        rows = [
            (i, "the exact same boilerplate sentence repeated verbatim")
            for i in range(self.N_DUPES)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_gate_detection_catches_megabucket(self, spark):
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.band_index import (
            band_index_stats,
            minhash_band_index,
        )

        idx = minhash_band_index(
            self._corpus(spark), "doc_id", "text",
            n=3, num_perm=32, bands=16,
        )
        # (a) the nonbinding-gate arithmetic: max (band,bucket) size
        worst = (
            idx.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .agg(F.max("sz").alias("w"))
            .collect()[0].w
        )
        assert worst == self.N_DUPES > 200  # the gate WOULD fail here

        # (b) the health monitor reports every band as a megabucket
        stats = band_index_stats(idx, cap=200)
        assert all(r.megabuckets >= 1 for r in stats.collect())
        assert all(r.max_bucket == self.N_DUPES for r in stats.collect())

    def test_cap_diverges_on_saturated_corpus(self, spark):
        """On a corpus where the cap BINDS, the capped probe keeps a
        doc the exact probe drops — the silent divergence the pytest
        gate exists to turn into a loud failure at oracle scales."""
        from spark_bi5_datasource_spark.operators.dedup import (
            minhash_delta_dedup,
        )

        corpus = self._corpus(spark)
        increment = spark.createDataFrame(
            [(9_999, "the exact same boilerplate sentence repeated verbatim")],
            "doc_id long, text string",
        )
        exact = minhash_delta_dedup(
            corpus, increment, "doc_id", "text", threshold=0.5,
        )
        capped = minhash_delta_dedup(
            corpus, increment, "doc_id", "text", threshold=0.5,
            max_bucket=200,
        )
        assert exact.count() == 0  # exact probe drops the duplicate
        assert capped.count() == 1  # every bucket skipped: dup survives


class TestCatalogRegistryGuard:
    """plans/registry.query registers each catalog name once: a second
    registration raises instead of silently replacing the first entry,
    which would let whichever module imports later win."""

    def test_duplicate_name_raises(self):
        from spark_bi5_datasource_spark import plans
        from spark_bi5_datasource_spark.plans.registry import REGISTRY, query

        first = REGISTRY["q1_pricing_summary"]
        with pytest.raises(ValueError, match="q1_pricing_summary"):
            query("q1_pricing_summary", None)(lambda spark, sf: None)
        assert REGISTRY["q1_pricing_summary"] is first
        assert plans.CATALOG["q1_pricing_summary"] is first

    def test_catalog_is_the_registry_reordered(self):
        from spark_bi5_datasource_spark import plans
        from spark_bi5_datasource_spark.plans.registry import REGISTRY

        assert plans.CATALOG == REGISTRY
        assert list(plans.CATALOG)[:50] == plans.DRIVER_WINDOW
