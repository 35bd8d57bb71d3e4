"""compact_buckets_selective (r12): incremental bucket maintenance —
compact only what a stream fragmented, leave the rest untouched, and
survive every crash point via the per-bucket manifest.
"""

from __future__ import annotations

import json
import os

import pytest


def _fragmented_table(spark, tmp_path, table, appends=2, buckets=4):
    from pyspark.sql import functions as F

    from spark_bi5_datasource_spark.sources.layout import write_bucketed

    path = str(tmp_path / "tbl")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed(
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(0, 40)],
            "doc_id long, text string",
        ),
        path, table, "doc_id", buckets=buckets,
    )
    for k in range(1, appends + 1):
        (
            spark.createDataFrame(
                [(i, f"d{i}") for i in range(k * 40, k * 40 + 40)],
                "doc_id long, text string",
            )
            .repartition(buckets, F.col("doc_id"))
            .write.bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .mode("append")
            .saveAsTable(table)
        )
    spark.catalog.refreshTable(table)
    return path


def _data_files(path):
    return sorted(
        f for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    )


class TestSelectiveCompaction:
    def test_compacts_fragmented_buckets_only_rows_intact(
        self, spark, tmp_path
    ):
        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
            validate_bucketed,
        )

        table = "bi5_test_selcomp"
        path = _fragmented_table(spark, tmp_path, table)
        try:
            n_before = len(_data_files(path))
            assert n_before > 4
            done = compact_buckets_selective(spark, table, path)
            assert done  # something was fragmented
            assert all(v >= 2 for v in done.values())
            # every compacted bucket is now exactly one file
            files = _data_files(path)
            assert len(files) <= 4
            got = sorted(r.doc_id for r in spark.table(table).collect())
            assert got == list(range(120))
            v = validate_bucketed(spark, path)
            assert v.where("NOT ok").count() == 0

            # the exchange-free join contract survives the rewrite
            from spark_bi5_datasource_spark.sources.layout import (
                write_bucketed,
            )

            other = "bi5_test_selcomp_other"
            spark.sql(f"DROP TABLE IF EXISTS {other}")
            try:
                write_bucketed(
                    spark.createDataFrame(
                        [(i, i % 5) for i in range(120)],
                        "doc_id long, label long",
                    ),
                    str(tmp_path / "other"), other, "doc_id", buckets=4,
                )
                prev = spark.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold"
                )
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", "-1"
                )
                try:
                    j = spark.table(table).join(
                        spark.table(other), "doc_id"
                    )
                    p = j._jdf.queryExecution().executedPlan().toString()
                finally:
                    spark.conf.set(
                        "spark.sql.autoBroadcastJoinThreshold", prev
                    )
                assert "SortMergeJoin" in p
                assert "Exchange hashpartitioning" not in p[
                    p.index("SortMergeJoin"):
                ]
            finally:
                spark.sql(f"DROP TABLE IF EXISTS {other}")
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_noop_below_threshold(self, spark, tmp_path):
        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
        )

        table = "bi5_test_selcomp_noop"
        path = _fragmented_table(spark, tmp_path, table, appends=1)
        try:
            before = _data_files(path)
            done = compact_buckets_selective(
                spark, table, path, min_files=10
            )
            assert done == {}
            assert _data_files(path) == before  # untouched
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        """Fragment ONE bucket only; the other buckets' files must be
        byte-identical afterwards (same name, same inode content) —
        the O(fragmented-data) cost claim."""
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
            write_bucketed,
        )

        table = "bi5_test_selcomp_one"
        path = str(tmp_path / "tbl")
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        try:
            base = spark.createDataFrame(
                [(i, f"d{i}") for i in range(200)],
                "doc_id long, text string",
            )
            write_bucketed(base, path, table, "doc_id", buckets=4)
            # keys that hash into bucket 0 only
            b0_keys = [
                r.doc_id
                for r in base.select(
                    "doc_id", F.pmod(F.hash("doc_id"), F.lit(4)).alias("b")
                ).where("b = 0").collect()
            ][:20]
            # append rows with the SAME keys (duplicate ids are fine
            # for layout purposes) so only bucket 0 gains a file
            (
                spark.createDataFrame(
                    [(k, "dup") for k in b0_keys],
                    "doc_id long, text string",
                )
                .repartition(4, F.col("doc_id"))
                .write.bucketBy(4, "doc_id")
                .sortBy("doc_id")
                .mode("append")
                .saveAsTable(table)
            )
            spark.catalog.refreshTable(table)
            sizes_before = {
                f: os.path.getmtime(os.path.join(path, f))
                for f in _data_files(path)
            }
            done = compact_buckets_selective(spark, table, path)
            assert set(done) == {0}  # only the fragmented bucket
            after = _data_files(path)
            untouched = [
                f for f in after if "_00000." not in f
            ]
            for f in untouched:
                assert sizes_before[f] == os.path.getmtime(
                    os.path.join(path, f)
                )  # never rewritten
            assert spark.table(table).count() == 220
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_fragmentation_monitor(self, spark, tmp_path):
        from spark_bi5_datasource_spark.sources.layout import (
            bucket_fragmentation,
            compact_buckets_selective,
        )

        table = "bi5_test_selcomp_mon"
        path = _fragmented_table(spark, tmp_path, table)
        try:
            frag = bucket_fragmentation(spark, path).collect()
            assert sum(r.n_rows for r in frag) == 120
            assert any(r.fragmented for r in frag)
            assert all(r.n_files >= 1 and r.n_bytes > 0 for r in frag)
            # monitor → act → monitor: the loop the ops story promises
            compact_buckets_selective(spark, table, path)
            frag2 = bucket_fragmentation(spark, path).collect()
            assert not any(r.fragmented for r in frag2)
            assert sum(r.n_rows for r in frag2) == 120
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_streaming_sink_then_compaction_then_more_batches(
        self, spark, tmp_path
    ):
        """Full maintenance lifecycle under ingest: stream appends →
        selective compaction mid-stream → stream resumes with NEW
        batches on the same checkpoint.  Compaction must not disturb
        the marker dir or the checkpoint, and the final table holds
        exactly the union."""
        import time as _time

        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
            validate_bucketed,
        )
        from spark_bi5_datasource_spark.streaming import (
            stream_bucketed_append_writer,
        )

        table = "bi5_test_selcomp_stream"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        sdir = str(tmp_path / "inc")
        tdir = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(sdir)
        t0 = _time.time()

        def add_batch(k, rng):
            df = spark.createDataFrame(
                [(i, f"d{i}") for i in rng], "doc_id long, text string"
            )
            df.coalesce(1).write.mode("append").parquet(sdir)
            for f in sorted(
                f for f in os.listdir(sdir) if f.endswith(".parquet")
            ):
                p = os.path.join(sdir, f)
                if os.path.getmtime(p) > t0 + k:
                    os.utime(p, (t0 + k, t0 + k))

        def run_stream():
            q = stream_bucketed_append_writer(
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(sdir),
                tdir, table, "doc_id", buckets=4,
                checkpoint_dir=ckpt,
            )
            q.awaitTermination()

        try:
            add_batch(0, range(0, 40))
            add_batch(1, range(40, 80))
            run_stream()
            done = compact_buckets_selective(spark, table, tdir)
            assert done  # the two batches fragmented something
            add_batch(2, range(80, 120))
            run_stream()  # same checkpoint: only the new file
            got = sorted(r.doc_id for r in spark.table(table).collect())
            assert got == list(range(120))
            assert validate_bucketed(spark, tdir).where(
                "NOT ok"
            ).count() == 0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_recovery_rolls_forward_and_back(self, spark, tmp_path):
        """Construct the two interrupted-cycle disk states by hand and
        assert _recover_selective lands each on a consistent bucket."""
        import shutil

        from spark_bi5_datasource_spark.sources.layout import (
            _recover_selective,
        )

        table = "bi5_test_selcomp_rec"
        path = _fragmented_table(spark, tmp_path, table, appends=1)
        try:
            files = _data_files(path)
            b0 = [f for f in files if "_00000." in f]
            assert len(b0) == 2

            # --- roll FORWARD state: new file visible, retired files
            # still present, manifest present (crash before deletes).
            # Fake the "new" file as a copy of one retired file plus
            # the other's rows is not needed — recovery only deletes;
            # use a real merged file via pyarrow for row fidelity
            import pyarrow.parquet as pq
            import pyarrow as pa

            tables = [
                pq.read_table(os.path.join(path, f)) for f in b0
            ]
            merged = pa.concat_tables(tables)
            newname = "part-00000-compactfake1_00000.c000.snappy.parquet"
            pq.write_table(merged, os.path.join(path, newname))
            with open(
                os.path.join(path, "_compact_manifest_fake1.json"), "w"
            ) as fh:
                json.dump({"bucket": 0, "retired": b0, "new": newname}, fh)
            _recover_selective(path)
            after = _data_files(path)
            assert newname in after
            assert not any(f in after for f in b0)  # deletes finished
            spark.catalog.refreshByPath(path)
            assert spark.read.parquet(path).count() == 80  # no dup/loss

            # --- roll BACK state: manifest + invisible staging only
            ghost = "part-00001-compactfake2_00001.c000.snappy.parquet"
            open(os.path.join(path, f".{ghost}.inprogress"), "w").close()
            with open(
                os.path.join(path, "_compact_manifest_fake2.json"), "w"
            ) as fh:
                json.dump(
                    {"bucket": 1, "retired": ["nonexistent"],
                     "new": ghost}, fh,
                )
            _recover_selective(path)
            assert ghost not in _data_files(path)
            assert not os.path.exists(
                os.path.join(path, f".{ghost}.inprogress")
            )
            assert not any(
                f.startswith("_compact_manifest") for f in os.listdir(path)
            )
            spark.catalog.refreshByPath(path)
            assert spark.read.parquet(path).count() == 80
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestMultiFileStaging:
    def test_max_records_per_file_split_loses_nothing(
        self, spark, tmp_path
    ):
        """r13 (ADVICE medium): with spark.sql.files.maxRecordsPerFile
        set, the staging rewrite splits a bucket's output into
        c000/c001 — the r12 one-file-per-bucket swap installed one and
        rmtree'd the other: silent permanent row loss.  All staged
        files must survive the swap."""
        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
            validate_bucketed,
        )

        table = "bi5_test_selcomp_split"
        path = _fragmented_table(spark, tmp_path, table, appends=2)
        prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
        try:
            done = compact_buckets_selective(spark, table, path)
            assert done
            spark.catalog.refreshTable(table)
            got = sorted(r.doc_id for r in spark.table(table).collect())
            assert got == list(range(120))  # nothing lost
            # the multi-file bucket names still carry the right id
            v = validate_bucketed(spark, path)
            assert v.where("NOT ok").count() == 0
        finally:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_recovery_multi_file_manifest_both_directions(
        self, spark, tmp_path
    ):
        """List-valued manifests: FORWARD when the delete phase had
        begun (one retired file already gone), BACK when the swap is
        only partially visible and every original is intact."""
        from spark_bi5_datasource_spark.sources.layout import (
            _recover_selective,
        )

        table = "bi5_test_selcomp_recmulti"
        path = _fragmented_table(spark, tmp_path, table, appends=1)
        try:
            files = _data_files(path)
            b0 = [f for f in files if "_00000." in f]
            assert len(b0) == 2

            import pyarrow.parquet as pq

            t0 = pq.read_table(os.path.join(path, b0[0]))
            t1 = pq.read_table(os.path.join(path, b0[1]))
            n_expect = t0.num_rows + t1.num_rows
            new0 = "part-00000-compactm1_00000.c000.snappy.parquet"
            new1 = "part-00000-compactm1_00000.c001.snappy.parquet"
            # FORWARD state: both new files visible, one retired file
            # already deleted (crash mid-delete-phase)
            pq.write_table(t0, os.path.join(path, new0))
            pq.write_table(t1, os.path.join(path, new1))
            os.remove(os.path.join(path, b0[0]))
            with open(
                os.path.join(path, "_compact_manifest_m1.json"), "w"
            ) as fh:
                json.dump(
                    {"bucket": 0, "retired": b0, "new": [new0, new1]},
                    fh,
                )
            _recover_selective(path)
            after = _data_files(path)
            assert new0 in after and new1 in after
            assert b0[1] not in after
            spark.catalog.refreshByPath(path)
            assert spark.read.parquet(path).count() == 80

            # BACK state: one of two new files visible, originals all
            # present (crash mid-visibility-loop) — new generation is
            # removed, originals win
            b0_now = [new0, new1]
            ghost0 = "part-00000-compactm2_00000.c000.snappy.parquet"
            ghost1 = "part-00000-compactm2_00000.c001.snappy.parquet"
            pq.write_table(t0, os.path.join(path, ghost0))
            open(
                os.path.join(path, f".{ghost1}.inprogress"), "w"
            ).close()
            with open(
                os.path.join(path, "_compact_manifest_m2.json"), "w"
            ) as fh:
                json.dump(
                    {"bucket": 0, "retired": b0_now,
                     "new": [ghost0, ghost1]},
                    fh,
                )
            _recover_selective(path)
            after = _data_files(path)
            assert ghost0 not in after and ghost1 not in after
            assert new0 in after and new1 in after
            spark.catalog.refreshByPath(path)
            assert spark.read.parquet(path).count() == 80
            del n_expect
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_stray_selcompact_catalog_entry_dropped(
        self, spark, tmp_path
    ):
        """r13: a crash between saveAsTable and DROP used
        to leak a `<table>_selcompact_<run>` catalog entry forever;
        recovery at the next maintenance entry drops it."""
        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
        )

        table = "bi5_test_selcomp_leak"
        path = _fragmented_table(spark, tmp_path, table)
        leaked = f"{table}_selcompact_deadbeef"
        try:
            spark.createDataFrame(
                [(1, "x")], "doc_id long, text string"
            ).write.option(
                "path", str(tmp_path / "leaked")
            ).saveAsTable(leaked)
            assert spark.catalog.tableExists(leaked)
            compact_buckets_selective(spark, table, path)
            assert not spark.catalog.tableExists(leaked)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {leaked}")
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestParamContradictions:
    def test_validate_bucketed_rejects_contradicting_claim(
        self, spark, tmp_path
    ):
        from spark_bi5_datasource_spark.sources.layout import (
            validate_bucketed,
        )

        table = "bi5_test_val_contra"
        path = _fragmented_table(spark, tmp_path, table, appends=0)
        try:
            with pytest.raises(ValueError, match="contradicts"):
                validate_bucketed(spark, path, key="text")
            with pytest.raises(ValueError, match="contradicts"):
                validate_bucketed(spark, path, buckets=8)
            # matching explicit params are fine
            ok = validate_bucketed(
                spark, path, key="doc_id", buckets=4
            )
            assert ok.where("NOT ok").count() == 0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_selective_rejects_contradicting_params(
        self, spark, tmp_path
    ):
        from spark_bi5_datasource_spark.sources.layout import (
            compact_buckets_selective,
        )

        table = "bi5_test_sel_contra"
        path = _fragmented_table(spark, tmp_path, table)
        try:
            with pytest.raises(ValueError, match="contradicts"):
                compact_buckets_selective(
                    spark, table, path, buckets=16
                )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
