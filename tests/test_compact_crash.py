"""Crash/concurrency drills for the full compaction,
``sources/layout.compact_buckets_selective`` with ``min_files=1``:
it must recover an interrupted selective cycle before reading, ignore
stray staging directories, enforce the sidecar contract and refuse a
rewrite whose per-bucket row counts do not match.
"""

from __future__ import annotations

import os


def _bucketed_table(spark, tmp_path, table: str, frags: int = 3):
    """A bucketed table fragmented by ``frags`` append batches."""
    from pyspark.sql import functions as F

    from spark_bi5_datasource_spark.sources.layout import write_bucketed

    path = str(tmp_path / "tbl")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed(
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(0, 40)],
            "doc_id long, text string",
        ),
        path, table, "doc_id", buckets=4,
    )
    for k in range(1, frags):
        (
            spark.createDataFrame(
                [(i, f"d{i}") for i in range(k * 40, k * 40 + 40)],
                "doc_id long, text string",
            )
            .repartition(4, F.col("doc_id"))
            .write.bucketBy(4, "doc_id")
            .sortBy("doc_id")
            .mode("append")
            .saveAsTable(table)
        )
    spark.catalog.refreshTable(table)
    return path


def _data_files(path: str) -> int:
    return sum(
        1 for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )


class TestCompactCrashSafety:
    def test_full_compact_recovers_interrupted_selective_cycle(
        self, spark, tmp_path
    ):
        """Review finding (r12): a selective cycle crashed between the
        new-file rename and the retired deletes leaves a bucket
        duplicated on disk with the manifest as the only record.  A
        subsequent FULL compaction must run selective recovery first —
        otherwise it bakes the duplicates in permanently (and its row
        guard, counting the same duplicates on both sides, passes)."""
        import json as _json

        import pyarrow as pa
        import pyarrow.parquet as pq

        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
        )

        table = "bi5_test_compact_selrec"
        path = _bucketed_table(spark, tmp_path, table)
        try:
            b0 = [
                f for f in os.listdir(path)
                if f.startswith("part-") and "_00000." in f
            ]
            assert len(b0) >= 2
            merged = pa.concat_tables(
                [pq.read_table(os.path.join(path, f)) for f in b0]
            )
            newname = (
                "part-00000-compactcrash_00000.c000.snappy.parquet"
            )
            pq.write_table(merged, os.path.join(path, newname))
            with open(
                os.path.join(path, "_compact_manifest_crash_0.json"),
                "w",
            ) as fh:
                _json.dump(
                    {"bucket": 0, "retired": b0, "new": newname}, fh
                )
            # bucket 0 currently holds every row twice on disk; the
            # full compaction must finish the interrupted deletes
            # before reading
            compact_buckets_selective(spark, table, path, min_files=1)
            assert _data_files(path) <= 4
            got = sorted(r.doc_id for r in spark.table(table).collect())
            assert got == list(range(120))  # no duplicates baked in
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_stray_staging_dir_does_not_block_full_compact(
        self, spark, tmp_path
    ):
        """Review finding (r12): a leftover .compact_stage_* dir is
        invisible to Spark's reader but was counted by the footer
        row-guard, spuriously refusing a healthy compaction."""
        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
        )

        table = "bi5_test_compact_stray"
        path = _bucketed_table(spark, tmp_path, table)
        try:
            stray = os.path.join(path, ".compact_stage_dead")
            os.makedirs(stray)
            # a parquet file Spark will never read but os.walk finds
            import pyarrow as pa
            import pyarrow.parquet as pq

            pq.write_table(
                pa.table({"doc_id": [1], "text": ["x"]}),
                os.path.join(stray, "part-ghost.parquet"),
            )
            compact_buckets_selective(spark, table, path, min_files=1)  # must not raise
            assert _data_files(path) <= 4
            assert spark.table(table).count() == 120
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_spec_contradiction_refused(self, spark, tmp_path):
        """compact_buckets_selective enforces the sidecar contract like
        register_bucketed: compacting a 4-bucket table 'as 32' (the
        old silent default) must raise, and sidecar-resolved
        no-param compaction must work."""
        import pytest as _pytest

        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
        )

        table = "bi5_test_compact_spec"
        path = _bucketed_table(spark, tmp_path, table)
        try:
            with _pytest.raises(ValueError, match="contradicts"):
                compact_buckets_selective(
                    spark, table, path, min_files=1, key="doc_id", buckets=32
                )
            compact_buckets_selective(spark, table, path, min_files=1)  # sidecar params
            assert _data_files(path) <= 4
            assert spark.table(table).count() == 120
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_rowcount_guard_refuses_bad_rewrite(
        self, spark, tmp_path, monkeypatch
    ):
        """A partial/corrupt staging rewrite must never replace the
        snapshot: fake a per-bucket row-count mismatch on the staged
        side and assert the swap is refused with the table fully
        intact (no file renamed, retired or left staged)."""
        import pytest

        from spark_bi5_datasource_spark.sources import layout

        table = "bi5_test_compact_guard"
        path = _bucketed_table(spark, tmp_path, table)
        before = sorted(os.listdir(path))
        real = layout._footer_rows_files

        def lying(p, files):
            n = real(p, files)
            return n - 1 if ".compact_stage_" in p else n

        monkeypatch.setattr(layout, "_footer_rows_files", lying)
        try:
            with pytest.raises(RuntimeError, match="refusing to swap"):
                layout.compact_buckets_selective(
                    spark, table, path, min_files=1, key="doc_id", buckets=4
                )
            # nothing was swapped or dropped
            assert sorted(os.listdir(path)) == before
            got = sorted(r.doc_id for r in spark.table(table).collect())
            assert got == list(range(120))
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
