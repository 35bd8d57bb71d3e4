"""Structured Streaming tests: file-stream event pipelines checked
against their batch twins, and the bi5 streaming source's
incremental-offset behavior (new files only)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_bi5_datasource_spark.streaming import (
    dedup_within_watermark,
    session_windows,
    windowed_counts,
)
from tests.conftest import write_bi5


@pytest.fixture()
def event_stream_dir(spark, tmp_path):
    """Two parquet chunks of a small deterministic event log."""
    rows = []
    for i in range(200):
        rows.append(
            (
                i,
                # 10-minute spacing → session gaps > 30 min between users
                f"2024-01-01 {i // 25:02d}:{(i % 25) * 2:02d}:00",
                i % 7,
                ["view", "click", "purchase"][i % 3],
                float(i % 50),
            )
        )
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )
    d = str(tmp_path / "events_stream")
    df.coalesce(2).write.parquet(d)
    return d


def run_stream(sdf, tmp_path, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if sdf.isStreaming and name != "dedup" else "append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


class TestEventStreaming:
    def test_windowed_counts_match_batch(self, spark, event_stream_dir, tmp_path):
        batch = spark.read.parquet(event_stream_dir)
        stream = spark.readStream.schema(batch.schema).parquet(event_stream_dir)
        agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
        run_stream(agg, tmp_path, "win_counts")
        got = {
            (r.window_start, r.event_type): (r.cnt, r.value_sum)
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        expected = {
            (r.w["start"], r.event_type): (r.cnt, r.value_sum)
            for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
            )
            .collect()
        }
        assert got == expected and len(got) > 0

    def test_session_windows(self, spark, event_stream_dir, tmp_path):
        batch = spark.read.parquet(event_stream_dir)
        stream = spark.readStream.schema(batch.schema).parquet(event_stream_dir)
        sess = session_windows(stream, gap="30 minutes", watermark="4 hours")
        run_stream(sess, tmp_path, "sessions")
        rows = spark.sql("SELECT * FROM sessions").collect()
        assert len(rows) > 0
        # total events across sessions == total events
        assert sum(r.n_events for r in rows) == batch.count()

    def test_dedup_within_watermark(self, spark, tmp_path):
        base = spark.range(50).select(
            (F.col("id") % 10).alias("event_id"),  # 5 duplicates per id
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        d = str(tmp_path / "dups")
        base.write.parquet(d)
        stream = spark.readStream.schema(base.schema).parquet(d)
        deduped = dedup_within_watermark(stream, keys=["event_id"], watermark="1 hour")
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM dedup_out").collect()
        assert sorted(r.event_id for r in rows) == list(range(10))


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join (availableNow full replay) must
    produce exactly the rows the equivalent batch time-range join
    gives."""
    from spark_bi5_datasource_spark.streaming import stream_stream_join

    schema = "id long, ts timestamp, user_id long, px double"

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, ts_s string, user_id long, px double"
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "px")

    left_rows = [(i, f"2024-01-01 0{i % 8}:15:00", i % 3, 0.0) for i in range(24)]
    right_rows = [(100 + i, f"2024-01-01 0{i % 8}:00:00", i % 3, float(i)) for i in range(24)]
    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    mk(left_rows).write.parquet(ld)
    mk(right_rows).write.parquet(rd)

    ls = spark.readStream.schema(schema).parquet(ld)
    rs = spark.readStream.schema(schema).parquet(rd)
    joined = stream_stream_join(ls, rs, key="user_id", horizon="1 hour").select(
        F.col("l.id").alias("lid"), F.col("r.id").alias("rid")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.lid, r.rid) for r in spark.sql("SELECT * FROM ssj_out").collect()}

    lb, rb = mk(left_rows).alias("l"), mk(right_rows).alias("r")
    expected = {
        (r.lid, r.rid)
        for r in lb.join(
            rb,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 1 hour"))
            & (F.col("r.ts") <= F.col("l.ts")),
        )
        .select(F.col("l.id").alias("lid"), F.col("r.id").alias("rid"))
        .collect()
    }
    assert got == expected and len(expected) > 10


def test_stream_stream_join_drops_late_rows(spark, tmp_path):
    """Two-trigger incremental run: after trigger 1 advances the
    watermark, rows arriving in trigger 2 with event times below the
    watermark must be DROPPED (state eviction / late-data contract) —
    a batch join over the union would still match them, so this pins
    streaming semantics, not replay equality."""
    from spark_bi5_datasource_spark.streaming import stream_stream_join

    schema = "id long, ts timestamp, user_id long, px double"

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, ts_s string, user_id long, px double"
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "px")

    ld, rd = str(tmp_path / "l2"), str(tmp_path / "r2")
    ck = str(tmp_path / "ckpt_ssj2")
    # trigger 1: an on-time pair, a left row at 12:00 that stays
    # unmatched this trigger, and a max event time of 20:00 → the
    # committed watermark after the trigger is 20:00 - 2h = 18:00,
    # which evicts the 12:00 row from the left state store (no
    # non-late right row can satisfy r.ts <= 12:00 < 18:00 anymore)
    mk([
        (1, "2024-01-01 10:15:00", 1, 0.0),
        (3, "2024-01-01 12:00:00", 3, 0.0),
        (2, "2024-01-01 20:00:00", 2, 0.0),
    ]).write.parquet(ld)
    mk([(101, "2024-01-01 10:00:00", 1, 1.0)]).write.parquet(rd)

    out = str(tmp_path / "ssj_out2")

    def run():
        # parquet sink: supports checkpoint recovery (memory does not),
        # so trigger 2 resumes with trigger 1's committed watermark
        ls = spark.readStream.schema(schema).parquet(ld)
        rs = spark.readStream.schema(schema).parquet(rd)
        joined = stream_stream_join(ls, rs, key="user_id", horizon="1 hour").select(
            F.col("l.id").alias("lid"), F.col("r.id").alias("rid")
        )
        q = (
            joined.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.lid, r.rid) for r in spark.read.parquet(out).collect()}

    first = run()
    assert first == {(1, 101)}

    # trigger 2: an on-time pair.  State cleanup runs during this
    # batch with the 18:00 watermark and evicts the 12:00 left row
    # (eviction is end-of-batch, AFTER the join — so the drop is only
    # observable one trigger later, which is the documented
    # "eventually complete" contract)
    mk([(4, "2024-01-01 21:00:00", 4, 0.0)]).write.mode("append").parquet(ld)
    mk([(104, "2024-01-01 20:30:00", 4, 1.0)]).write.mode("append").parquet(rd)
    second = run() - first
    assert second == {(4, 104)}

    # trigger 3: a late right row at 11:30 whose only match is the
    # now-evicted 12:00 left row — a batch join over the union would
    # emit (3, 103); the stream must not
    mk([(103, "2024-01-01 11:30:00", 3, 1.0)]).write.mode("append").parquet(rd)
    third = run() - first - second
    assert third == set(), f"late rows leaked through the watermark: {third}"



def test_stream_stream_left_outer_null_padding(spark, tmp_path):
    """Left-outer stream-stream join: an unmatched left row must emit
    null-padded ONLY after the watermark proves no future right row
    can match it (outer results are withheld until state eviction —
    the "eventually complete" contract), while matched rows emit
    immediately and never null-pad."""
    from spark_bi5_datasource_spark.streaming import stream_stream_join

    schema = "id long, ts timestamp, user_id long, px double"

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, ts_s string, user_id long, px double"
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "px")

    ld, rd = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    ck = str(tmp_path / "ckpt_lo")
    out = str(tmp_path / "lo_out")

    # trigger 1: (1, u1) matches; (5, u5) stays unmatched; the 20:00
    # row advances the committed watermark to 18:00 > 12:00, which
    # makes row 5 provably unmatchable (matches need r.ts <= 12:00)
    mk([
        (1, "2024-01-01 10:15:00", 1, 0.0),
        (5, "2024-01-01 12:00:00", 5, 0.0),
        (2, "2024-01-01 20:00:00", 2, 0.0),
    ]).write.parquet(ld)
    mk([(101, "2024-01-01 10:00:00", 1, 1.0)]).write.parquet(rd)

    def run():
        ls = spark.readStream.schema(schema).parquet(ld)
        rs = spark.readStream.schema(schema).parquet(rd)
        joined = stream_stream_join(
            ls, rs, key="user_id", horizon="1 hour", how="left"
        ).select(F.col("l.id").alias("lid"), F.col("r.id").alias("rid"))
        q = (
            joined.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.lid, r.rid) for r in spark.read.parquet(out).collect()}

    first = run()
    # matched pair emits promptly; the unmatched row is withheld — a
    # null now would be WRONG (a right row at 11:30 could still arrive)
    assert (1, 101) in first
    assert (5, None) not in first

    # trigger 2: fresh on-time data runs state cleanup under the 18:00
    # watermark -> row 5 emits null-padded; row 2 (20:00) is still
    # above the new 19:00 watermark and stays withheld
    mk([(4, "2024-01-01 21:00:00", 4, 0.0)]).write.mode("append").parquet(ld)
    mk([(104, "2024-01-01 20:30:00", 4, 1.0)]).write.mode("append").parquet(rd)
    second = run() - first
    assert second == {(4, 104), (5, None)}


class TestBi5Streaming:
    def test_incremental_files(self, spark, tmp_path):
        tree = tmp_path / "ticks" / "EURUSD" / "2020" / "0" / "1"
        write_bi5(str(tree / "00h_ticks.bi5"), [(0, 100000, 99990, 1.0, 1.0)])

        out = str(tmp_path / "out_parquet")

        def run_round():
            # parquet sink + shared checkpoint → each round appends only
            # the files not covered by the recovered offset
            stream = (
                spark.readStream.format("bi5")
                .option("digits", 5)
                .load(str(tmp_path / "ticks"))
            )
            q = (
                stream.writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", str(tmp_path / "ckpt_bi5"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_round()
        assert spark.read.parquet(out).count() == 1

        # new hour file arrives → only the delta is read in round 2
        write_bi5(
            str(tree / "01h_ticks.bi5"),
            [(0, 100010, 100000, 2.0, 2.0), (500, 100020, 100010, 3.0, 3.0)],
        )
        run_round()
        got = spark.read.parquet(out).collect()
        assert sorted(r.ask for r in got) == [1.0, 1.0001, 1.0002]


def test_sliding_windows(spark, event_stream_dir, tmp_path):
    from spark_bi5_datasource_spark.streaming import sliding_value_sums

    batch = spark.read.parquet(event_stream_dir)
    stream = spark.readStream.schema(batch.schema).parquet(event_stream_dir)
    agg = sliding_value_sums(stream, window="1 hour", slide="30 minutes", watermark="4 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sliding"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.window_end): r.cnt
        for r in spark.sql("SELECT * FROM sliding").collect()
    }
    expected = {
        (r.w["start"], r.w["end"]): r.cnt
        for r in batch.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == expected and len(got) > 2  # overlapping buckets present


def test_bi5_stream_min_age_excludes_fresh_files(spark, tmp_path):
    from spark_bi5_datasource_spark.streaming.bi5_stream import Bi5StreamReader

    tree = tmp_path / "t" / "EURUSD" / "2020" / "0" / "1"
    write_bi5(str(tree / "00h_ticks.bi5"), [(0, 1, 1, 1.0, 1.0)])
    reader = Bi5StreamReader(
        {"path": str(tmp_path / "t"), "digits": "5", "min.age.seconds": "3600"}
    )
    assert reader.latestOffset() == {"files": []}  # too fresh → not listed
    reader2 = Bi5StreamReader({"path": str(tmp_path / "t"), "digits": "5"})
    assert len(reader2.latestOffset()["files"]) == 1


@pytest.mark.parametrize(
    "options, message",
    [
        ({}, r"'path' must be specified for BI5 data\."),
        ({"path": "bumba", "digits": "1"}, "Invalid path"),
        ({"path": None}, "'digits' should be the digits for the currency"),
        ({"path": None, "digits": "-1"}, "digits cannot be smaller than 0"),
        ({"path": None, "digits": "5", "january": "2"}, "january can only be 0 or 1"),
    ],
)
def test_bi5_stream_validates_like_batch(bi5_tree, options, message):
    from spark_bi5_datasource_spark.sources.bi5_datasource import Bi5Reader
    from spark_bi5_datasource_spark.streaming.bi5_stream import Bi5StreamReader

    if "path" in options and options["path"] is None:
        options = {**options, "path": bi5_tree}
    for cls in (Bi5Reader, Bi5StreamReader):
        with pytest.raises(ValueError, match=message):
            cls(options)


def test_bi5_stream_prunes_like_batch(bi5_tree):
    from spark_bi5_datasource_spark.sources.bi5_datasource import Bi5Reader
    from spark_bi5_datasource_spark.streaming.bi5_stream import Bi5StreamReader

    options = {
        "path": bi5_tree,
        "digits": "5",
        "tickers": "EURUSD",
        "start": "2020-01-01",
        "end": "2020-12-31",
    }
    batch = sorted(f for p in Bi5Reader(options).partitions() for f in p.files)
    assert Bi5StreamReader(options).latestOffset()["files"] == batch
    assert [os.path.relpath(f, bi5_tree) for f in batch] == ["EURUSD/2020/03/03/00h_ticks.bi5"]
    # same planner: without the time window, both group EURUSD/ and USDJPY/ alike
    options = {"path": bi5_tree, "digits": "5"}
    stream = Bi5StreamReader(options)
    planned = stream.partitions(stream.initialOffset(), stream.latestOffset())
    assert [p.files for p in planned] == [p.files for p in Bi5Reader(options).partitions()]
    assert len(planned) == 2


def test_stateful_running_stats_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches:
    round 2 (new file, recovered checkpoint) accumulates on round 1."""
    from spark_bi5_datasource_spark.streaming import running_stats

    d = str(tmp_path / "ev")
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write_chunk(ids, vals):
        spark.createDataFrame(
            [(i, "2024-01-01 00:00:00", "view", v) for i, v in zip(ids, vals)],
            "event_id long, ts_s string, event_type string, value double",
        ).selectExpr("event_id", "cast(ts_s as timestamp) ts", "event_type", "value") \
            .write.mode("append").parquet(d)

    out = str(tmp_path / "out")

    def run_round(batch_tag):
        stream = spark.readStream.schema(schema).parquet(d)

        def sink(batch_df, batch_id):
            batch_df.withColumn("tag", F.lit(batch_tag)).write.mode("append").parquet(out)

        q = (
            running_stats(stream, "event_type", "value")
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_chunk([1, 2], [10.0, 20.0])
    run_round("r1")
    r1 = spark.read.parquet(out).filter("tag = 'r1'").collect()[-1]
    assert (r1.n_total, r1.value_sum) == (2, 30.0)

    write_chunk([3], [40.0])
    run_round("r2")
    r2 = spark.read.parquet(out).filter("tag = 'r2'").collect()[-1]
    # state recovered: totals include round 1
    assert (r2.n_total, r2.value_sum) == (3, 70.0)
    assert r2.ewma is not None

    # third round: two more files land between restarts (reordered ids)
    # — exactly-once over the recovered state regardless of file order
    write_chunk([5], [80.0])
    write_chunk([4], [60.0])
    run_round("r3")
    r3 = spark.read.parquet(out).filter("tag = 'r3'").collect()[-1]
    assert (r3.n_total, r3.value_sum) == (5, 210.0)
    # EWMA folded deterministically in event-time order; all four
    # chunks share one ts, so value is the tie-break sort key:
    # fold order 10,20,40,60,80 with alpha=0.2
    expect = None
    for v in (10.0, 20.0, 40.0, 60.0, 80.0):
        expect = v if expect is None else 0.2 * v + 0.8 * expect
    assert abs(r3.ewma - expect) < 1e-9


class TestStreamUpsertSink:
    """foreachBatch CDC-apply: change stream → materialized parquet
    target with latest-wins upsert semantics."""

    @staticmethod
    def _chunk(spark, rows):
        return spark.createDataFrame(
            rows, "k long, ver long, payload string"
        )

    def _run(self, spark, src_dir, target, ckpt):
        from spark_bi5_datasource_spark.streaming.upsert_sink import (
            stream_upsert_writer,
        )

        stream = (
            spark.readStream.schema("k long, ver long, payload string")
            .option("maxFilesPerTrigger", 1)  # one file per micro-batch
            .parquet(src_dir)
        )
        q = (
            stream_upsert_writer(stream, target, ["k"], "ver", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_two_batches_latest_wins(self, spark, tmp_path):
        src = str(tmp_path / "src")
        # chunk 0: initial keys, with an in-batch duplicate for k=2
        self._chunk(
            spark, [(1, 1, "a1"), (2, 1, "b1"), (2, 2, "b2"), (3, 1, "c1")]
        ).coalesce(1).write.parquet(src + "/c0")
        # chunk 1: update k=1, stale version for k=2 (must NOT regress),
        # brand-new k=4
        self._chunk(
            spark, [(1, 5, "a5"), (2, 1, "b-stale"), (4, 1, "d1")]
        ).coalesce(1).write.parquet(src + "/c1")
        # file stream over the chunk files
        import glob
        import shutil

        flat = str(tmp_path / "flat")
        os.makedirs(flat)
        for i, f in enumerate(
            sorted(glob.glob(src + "/c*/part-*.parquet"))
        ):
            shutil.copy(f, f"{flat}/{i:03d}.parquet")

        target = str(tmp_path / "tgt")
        self._run(spark, flat, target, str(tmp_path / "ck"))

        got = {
            r.k: (r.ver, r.payload)
            for r in spark.read.parquet(target).collect()
        }
        assert got == {
            1: (5, "a5"),
            2: (2, "b2"),  # in-batch collapse kept v2; stale v1 rejected
            3: (1, "c1"),
            4: (1, "d1"),
        }
        # replay with a FRESH checkpoint AND no marker (simulated
        # crash before the marker write): every batch re-merges against
        # the already-updated target — idempotent convergence, no
        # duplicates, no version regressions
        os.remove(f"{target}/_applied_batch")
        self._run(spark, flat, target, str(tmp_path / "ck2"))
        again = {
            r.k: (r.ver, r.payload)
            for r in spark.read.parquet(target).collect()
        }
        assert again == got


class TestContinuousAggregate:
    def test_stream_partials_merge_to_batch_daily(self, spark, event_stream_dir, tmp_path):
        """End-to-end continuous aggregate: streamed hourly OHLC
        partials == batch hourly bars, and merging the streamed
        partials yields the same daily bars as aggregating the raw
        events directly."""
        from spark_bi5_datasource_spark.functions.ohlc import (
            merge_ohlc_bars,
            ohlc_bars,
        )
        from spark_bi5_datasource_spark.streaming import streaming_ohlc

        batch = spark.read.parquet(event_stream_dir)
        stream = spark.readStream.schema(batch.schema).parquet(event_stream_dir)
        q = (
            streaming_ohlc(stream, duration="1 hour", watermark="2 hours")
            .writeStream.format("memory")
            .queryName("ohlc_partials")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck_ohlc"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        partials = spark.sql("SELECT * FROM ohlc_partials")

        key = lambda r: (r.bar_start, r.event_type)  # noqa: E731
        val = lambda r: (r.open, r.high, r.low, r.close, r.n_ticks)  # noqa: E731
        batch_hourly = ohlc_bars(
            batch, "1 hour", ts_col="ts", price_col="value",
            volume_col=None, by=("event_type",),
        )
        assert {key(r): val(r) for r in partials.collect()} == {
            key(r): val(r) for r in batch_hourly.collect()
        }

        daily_from_stream = merge_ohlc_bars(
            partials, "1 day", by=("event_type",), sum_cols=("n_ticks",)
        )
        daily_direct = ohlc_bars(
            batch, "1 day", ts_col="ts", price_col="value",
            volume_col=None, by=("event_type",),
        )
        assert {key(r): val(r) for r in daily_from_stream.collect()} == {
            key(r): val(r) for r in daily_direct.collect()
        }


def test_bi5_stream_to_ohlc_continuous_aggregate(spark, tmp_path):
    """End-to-end flagship pipeline: the custom bi5 streaming source
    feeds the watermarked OHLC continuous aggregate.  Append mode
    emits a bar only once the watermark passes its window end, so the
    test drives three incremental rounds (hour 0, hour 1, then an
    hour-3 flush tick) and checks the two CLOSED hourly bars equal
    the batch ohlc_bars over the same tree."""
    from spark_bi5_datasource_spark.functions.ohlc import ohlc_bars

    tree = tmp_path / "ticks" / "EURUSD" / "2020" / "0" / "1"
    out = str(tmp_path / "bars")

    def run_round():
        ticks = (
            spark.readStream.format("bi5")
            .option("digits", 5)
            .load(str(tmp_path / "ticks"))
        )
        bars = ohlc_bars(
            ticks.withWatermark("ts", "1 second"),
            "1 hour",
            ts_col="ts",
            price_col="bid",
            volume_col="bid_volume",
            by=("ticker",),
        )
        q = (
            bars.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_bi5(
        str(tree / "00h_ticks.bi5"),
        [(0, 100000, 99990, 1.0, 1.0), (1200_000, 100040, 100000, 2.0, 1.0)],
    )
    run_round()
    write_bi5(
        str(tree / "01h_ticks.bi5"),
        [(0, 100100, 100050, 3.0, 1.0), (60_000, 100080, 100020, 1.5, 1.0)],
    )
    run_round()
    # flush: a tick two hours later advances the watermark past both
    # earlier windows; emission lands on the FOLLOWING trigger (the
    # watermark commits at batch end), so a second flush round drains it
    write_bi5(str(tree / "03h_ticks.bi5"), [(0, 100200, 100100, 1.0, 1.0)])
    run_round()
    write_bi5(str(tree / "04h_ticks.bi5"), [(0, 100210, 100110, 1.0, 1.0)])
    run_round()

    got = {
        (r.bar_start, r.ticker): (r.open, r.high, r.low, r.close, r.n_ticks, r.volume)
        for r in spark.read.parquet(out).collect()
    }
    batch_df = ohlc_bars(
        spark.read.format("bi5").option("digits", 5).load(str(tmp_path / "ticks")),
        "1 hour",
        ts_col="ts",
        price_col="bid",
        volume_col="bid_volume",
        by=("ticker",),
    )
    expect = {
        (r.bar_start, r.ticker): (r.open, r.high, r.low, r.close, r.n_ticks, r.volume)
        for r in batch_df.collect()
        if r.bar_start.hour < 2  # hours 3-4 are still open upstream
    }
    assert len(expect) == 2
    assert got == expect


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment (availableNow replay) must
    equal the batch join, including stream rows with no dim match
    (left join keeps them with nulls)."""
    from spark_bi5_datasource_spark.streaming import stream_static_enrich

    schema = "event_id long, ts timestamp, event_type string, value double"
    rows = [
        (i, f"2024-01-01 0{i % 8}:00:00", t, float(i))
        for i, t in enumerate(["buy", "sell", "hold", "unknown"] * 6)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    d = str(tmp_path / "ev")
    df.write.parquet(d)
    dim = spark.createDataFrame(
        [("buy", 1), ("sell", -1), ("hold", 0)],
        "event_type string, direction int",
    )

    enriched = stream_static_enrich(
        spark.readStream.schema(schema).parquet(d), dim
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.direction)
        for r in spark.sql("SELECT event_id, direction FROM enrich_out").collect()
    }
    expected = {
        (r.event_id, r.direction)
        for r in df.join(dim, "event_type", "left")
        .select("event_id", "direction")
        .collect()
    }
    assert got == expected
    assert any(d is None for _, d in got)  # unmatched type survives


def test_stream_bi5_sink_reproduces_reference_tree(spark, tmp_path):
    """Streaming ingestion closes the format loop: the reference's
    EURUSD fixture tree is scanned (batch), replayed as a parquet
    stream through the foreachBatch bi5 sink, and the resulting tree
    must read back row-identical through the bi5 scanner."""
    import os

    from spark_bi5_datasource_spark.streaming import stream_bi5_writer

    ref = "/root/reference/spark-2.4/src/test/resources/EURUSD"
    if not os.path.isdir(ref):
        import pytest

        pytest.skip("reference fixtures not present")

    batch = spark.read.format("bi5").option("digits", 5).load(ref)
    staging = str(tmp_path / "ticks_parquet")
    batch.write.parquet(staging)

    out_tree = str(tmp_path / "bi5_out")
    stream = spark.readStream.schema(batch.schema).parquet(staging)
    q = (
        stream_bi5_writer(stream, out_tree, digits=5)
        .option("checkpointLocation", str(tmp_path / "ckpt_bi5sink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.format("bi5").option("digits", 5).load(out_tree)
    assert got.count() == batch.count() == 27521
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


class TestStreamCrawlDedup:
    """Streaming recurring-crawl dedup (streaming/crawl.py): an
    availableNow replay over N increment files must leave exactly the
    corpus and band index a batch-mode fold of minhash_delta_dedup
    produces over the same files in the same order."""

    BASE = "the quick brown fox jumps over the lazy dog near town"
    OTHER = "spark catalyst optimizes declarative query plans into stages"

    def _batches(self):
        return [
            [(1, self.BASE), (2, self.OTHER)],
            [(10, self.BASE.replace("town", "city")),
             (11, "fresh page about gardening tools and soil preparation")],
            [(20, self.OTHER),  # exact dup of kept doc 2
             (21, "completely new cooking pasta with garlic butter page")],
        ]

    def test_stream_equals_batch_fold(self, spark, tmp_path):
        import time as _time

        from spark_bi5_datasource_spark.operators.band_index import (
            minhash_band_index,
        )
        from spark_bi5_datasource_spark.operators.dedup import (
            minhash_delta_dedup,
        )
        from spark_bi5_datasource_spark.streaming import (
            stream_crawl_dedup_writer,
        )

        sdir = str(tmp_path / "inc")
        os.makedirs(sdir)
        t0 = _time.time()
        for k, rows in enumerate(self._batches()):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            df.coalesce(1).write.mode("append").parquet(sdir)
            # pin discovery order: one file per batch, mtime-ascending
            parts = sorted(
                f for f in os.listdir(sdir) if f.endswith(".parquet")
            )
            for f in parts:
                p = os.path.join(sdir, f)
                if os.path.getmtime(p) > t0 + k:
                    os.utime(p, (t0 + k, t0 + k))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        cdir, idir = str(tmp_path / "corpus"), str(tmp_path / "index")
        q = stream_crawl_dedup_writer(
            stream, cdir, idir, threshold=0.4,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()

        got = sorted(
            r.doc_id
            for r in spark.read.parquet(os.path.join(cdir, "docs")).collect()
        )
        # batch fold twin
        corpus = None
        for rows in self._batches():
            inc = spark.createDataFrame(rows, "doc_id long, text string")
            if corpus is None:
                kept = inc
            else:
                kept = minhash_delta_dedup(
                    corpus, inc, "doc_id", "text", threshold=0.4
                )
            corpus = kept if corpus is None else corpus.unionByName(kept)
        want = sorted(r.doc_id for r in corpus.collect())
        assert got == want == [1, 2, 11, 21]

        # the maintained index equals a fresh rebuild of the corpus
        idx = spark.read.parquet(os.path.join(idir, "bands"))
        fresh = minhash_band_index(
            spark.read.parquet(os.path.join(cdir, "docs")),
            "doc_id", "text",
        )
        assert sorted(map(tuple, idx.collect())) == sorted(
            map(tuple, fresh.collect())
        )

        # replaying every batch (fresh checkpoint, same markers) is a
        # no-op: the corpus does not grow
        stream2 = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        q2 = stream_crawl_dedup_writer(
            stream2, cdir, idir, threshold=0.4,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )
        q2.awaitTermination()
        again = sorted(
            r.doc_id
            for r in spark.read.parquet(os.path.join(cdir, "docs")).collect()
        )
        assert again == want


class TestStreamCorpusBuild:
    """Streaming corpus-build pipeline (streaming/crawl.py
    stream_corpus_build_writer): quality filter + benchmark
    decontamination + delta dedup per micro-batch must leave exactly
    the corpus a batch-mode fold of the same stage chain produces
    over the same files in the same order, and each stage must have
    demonstrably fired (a planted low-quality doc, a planted
    contaminated doc and a planted near-dup all drop)."""

    BASE = "the quick brown fox jumps over the lazy dog near town"
    BENCH = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    QT = 0.35

    def _batches(self):
        return [
            [(1, self.BASE),
             (2, "!!! ??? !!!")],                       # low quality
            [(10, self.BASE.replace("town", "city")),   # near-dup of 1
             (11, "alpha beta gamma delta epsilon zeta eta theta iota mu"),  # contaminated
             (12, "spark catalyst optimizes the declarative query plans")],
        ]

    def _stage_fold(self, spark, bench_sh):
        """Batch-mode twin: the same stages in the same order."""
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.functions.text import (
            quality_score_cols,
        )
        from spark_bi5_datasource_spark.operators.dedup import (
            minhash_delta_dedup,
            with_shingles,
        )

        corpus = None
        for rows in self._batches():
            inc = spark.createDataFrame(rows, "doc_id long, text string")
            inc = (
                inc.select("doc_id", "text", quality_score_cols("text"))
                .where(F.col("quality") >= self.QT)
                .drop("quality")
            )
            contam = (
                with_shingles(inc, "text", 3)
                .select("doc_id", F.explode("shingles").alias("shingle"))
                .join(bench_sh, "shingle", "left")
                .groupBy("doc_id")
                .agg(F.count("*").alias("n"), F.count("__hit").alias("h"))
                .where(F.col("h") / F.col("n") >= 0.5)
                .select("doc_id")
            )
            inc = inc.join(contam, "doc_id", "left_anti")
            if corpus is None:
                kept = inc
            else:
                kept = minhash_delta_dedup(
                    corpus, inc, "doc_id", "text", threshold=0.4
                )
            corpus = kept if corpus is None else corpus.unionByName(kept)
        return corpus

    def test_stream_equals_staged_batch_fold(self, spark, tmp_path):
        import os
        import time as _time

        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.dedup import (
            with_shingles,
        )
        from spark_bi5_datasource_spark.streaming import (
            stream_corpus_build_writer,
        )

        bench_docs = spark.createDataFrame(
            [(900, self.BENCH)], "doc_id long, text string"
        )
        bench_sh = (
            with_shingles(bench_docs, "text", 3)
            .select(F.explode("shingles").alias("shingle"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )

        sdir = str(tmp_path / "inc")
        os.makedirs(sdir)
        t0 = _time.time()
        for k, rows in enumerate(self._batches()):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            df.coalesce(1).write.mode("append").parquet(sdir)
            parts = sorted(
                f for f in os.listdir(sdir) if f.endswith(".parquet")
            )
            for f in parts:
                p = os.path.join(sdir, f)
                if os.path.getmtime(p) > t0 + k:
                    os.utime(p, (t0 + k, t0 + k))

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        cdir, idir = str(tmp_path / "corpus"), str(tmp_path / "index")
        q = stream_corpus_build_writer(
            stream,
            cdir,
            idir,
            bench_shingles=bench_sh.select("shingle"),
            quality_threshold=self.QT,
            contam_threshold=0.5,
            threshold=0.4,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()

        got = sorted(
            r.doc_id
            for r in spark.read.parquet(os.path.join(cdir, "docs")).collect()
        )
        want = sorted(
            r.doc_id for r in self._stage_fold(spark, bench_sh).collect()
        )
        # every stage fired: 2 (quality), 10 (near-dup), 11 (contam) gone
        assert got == want == [1, 12]

        # replay with a fresh checkpoint is a no-op (markers)
        stream2 = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        q2 = stream_corpus_build_writer(
            stream2,
            cdir,
            idir,
            bench_shingles=bench_sh.select("shingle"),
            quality_threshold=self.QT,
            contam_threshold=0.5,
            threshold=0.4,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )
        q2.awaitTermination()
        again = sorted(
            r.doc_id
            for r in spark.read.parquet(os.path.join(cdir, "docs")).collect()
        )
        assert again == want


class TestStreamBucketedAppend:
    """streaming/bucketed_sink.py: the co-bucketed layout must survive
    continuous ingestion — after N appended micro-batches the table
    (a) holds exactly the union of the batches, (b) still plans an
    exchange-free sort-merge join against a matching bucketed side,
    and (c) a replayed batch is a no-op via the marker."""

    def _batches(self):
        return [
            [(i, f"doc {i}") for i in range(0, 40)],
            [(i, f"doc {i}") for i in range(40, 80)],
            [(i, f"doc {i}") for i in range(80, 120)],
        ]

    def _stream(self, spark, tmp_path):
        import time as _time

        sdir = str(tmp_path / "inc")
        if not os.path.isdir(sdir):  # build the source files ONCE
            os.makedirs(sdir)
            t0 = _time.time()
            for k, rows in enumerate(self._batches()):
                df = spark.createDataFrame(
                    rows, "doc_id long, text string"
                )
                df.coalesce(1).write.mode("append").parquet(sdir)
                parts = sorted(
                    f for f in os.listdir(sdir) if f.endswith(".parquet")
                )
                for f in parts:
                    p = os.path.join(sdir, f)
                    if os.path.getmtime(p) > t0 + k:
                        os.utime(p, (t0 + k, t0 + k))
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )

    def test_appends_preserve_layout_and_rows(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.sources.layout import (
            write_bucketed,
        )
        from spark_bi5_datasource_spark.streaming import (
            stream_bucketed_append_writer,
        )

        table = "bi5_test_stream_bucketed"
        other_t = "bi5_test_stream_bucketed_other"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {other_t}")
        try:
            q = stream_bucketed_append_writer(
                self._stream(spark, tmp_path),
                str(tmp_path / "tbl"),
                table,
                "doc_id",
                buckets=8,
                checkpoint_dir=str(tmp_path / "ckpt"),
            )
            q.awaitTermination()

            got = sorted(r.doc_id for r in spark.table(table).collect())
            assert got == list(range(120))

            # a matching bucketed side joins with no exchange, no sort
            write_bucketed(
                spark.createDataFrame(
                    [(i, i % 7) for i in range(120)],
                    "doc_id long, label long",
                ),
                str(tmp_path / "other"),
                other_t,
                "doc_id",
                buckets=8,
            )
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering",
                "true",
            )
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                j = spark.table(table).join(
                    spark.table(other_t), "doc_id"
                ).groupBy("label").agg(F.count("*").alias("n"))
                p = j._jdf.queryExecution().executedPlan().toString()
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", prev
                )
            assert "SortMergeJoin" in p
            assert p.count("Bucketed: true") == 2
            smj = p[p.index("SortMergeJoin"):]
            # the only exchange below the join tree may be the
            # post-join groupBy's — never one feeding the SMJ sides
            pre_agg = smj[: smj.index("Bucketed: true")]
            assert "Exchange hashpartitioning" not in pre_agg
            assert "+- Sort" not in pre_agg

            # replayed batches = no-ops via the markers: a FRESH
            # checkpoint makes Spark reprocess all three files as
            # batch ids 0..2 again; the markers from the first run
            # skip every one, so the table is unchanged
            q2 = stream_bucketed_append_writer(
                self._stream(spark, tmp_path),
                str(tmp_path / "tbl"),
                table,
                "doc_id",
                buckets=8,
                checkpoint_dir=str(tmp_path / "ckpt2"),
            )
            q2.awaitTermination()
            assert spark.table(table).count() == 120

            # bucket-aware compaction: 3 appended batches fragmented
            # the table to ~3 files/bucket; a full compaction must
            # return to ≤1 file per bucket with rows and the
            # exchange-free plan shape intact
            from spark_bi5_datasource_spark.sources.layout import (
                compact_buckets_selective,
            )

            tdir = str(tmp_path / "tbl")
            n_before = sum(
                1 for f in os.listdir(tdir) if f.startswith("part-")
            )
            assert n_before > 8  # fragmentation actually happened
            compact_buckets_selective(
                spark, table, tdir, min_files=1, key="doc_id", buckets=8
            )
            n_after = sum(
                1 for f in os.listdir(tdir) if f.startswith("part-")
            )
            assert n_after <= 8
            got2 = sorted(r.doc_id for r in spark.table(table).collect())
            assert got2 == list(range(120))
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                j2 = spark.table(table).join(
                    spark.table(other_t), "doc_id"
                )
                p2 = j2._jdf.queryExecution().executedPlan().toString()
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", prev
                )
            assert "SortMergeJoin" in p2
            assert p2.count("Bucketed: true") == 2
            assert "Exchange hashpartitioning" not in p2[
                p2.index("SortMergeJoin"):
            ]
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            spark.sql(f"DROP TABLE IF EXISTS {other_t}")
