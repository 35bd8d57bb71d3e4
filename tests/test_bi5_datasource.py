"""Port of the reference's 13-test suite (BI5DataSourceTestSuite, `T`)
to the PySpark bi5 source, plus pushdown-pruning tests for the scale
path.  Golden-value tests run against both synthesized fixtures and
(when present) the reference's own resource tree."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import functions as F

from tests.conftest import REFERENCE_RESOURCES, reference_fixtures_available

UTC = dt.timezone.utc
DIGITS_EUR = 5
DIGITS_JPY = 3


def read_bi5(spark, path=None, **options):
    r = spark.read.format("bi5")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path) if path is not None else r.load()


def rows_equal(row, expected):
    ticker, ts, ask, bid, askv, bidv = expected
    assert row.ticker == ticker
    assert row.ts.replace(tzinfo=UTC) == ts.replace(tzinfo=UTC)
    assert (row.ask, row.bid, row.ask_volume, row.bid_volume) == (ask, bid, askv, bidv)


# ---- option validation (T:164-214): exact reference error messages ----


class TestOptionValidation:
    def test_missing_path(self, spark):
        with pytest.raises(AnalysisException, match=r"'path' must be specified for BI5 data\."):
            read_bi5(spark).count()

    def test_wrong_path(self, spark):
        with pytest.raises(AnalysisException, match="Invalid path"):
            read_bi5(spark, "bumba", digits=1).count()

    def test_missing_digits(self, spark, bi5_tree):
        with pytest.raises(
            AnalysisException, match="'digits' should be the digits for the currency"
        ):
            read_bi5(spark, bi5_tree).count()

    def test_negative_digits(self, spark, bi5_tree):
        with pytest.raises(AnalysisException, match="digits cannot be smaller than 0"):
            read_bi5(spark, bi5_tree, digits=-1).count()

    @pytest.mark.parametrize("january", [-1, 2])
    def test_january_out_of_range(self, spark, bi5_tree, january):
        with pytest.raises(AnalysisException, match="january can only be 0 or 1"):
            read_bi5(spark, bi5_tree, digits=DIGITS_EUR, january=january).count()


# ---- dirty-input tolerance (T:178-186) ----


class TestDirtyInputs:
    def test_wrong_file_extension(self, spark, bi5_tree):
        df = read_bi5(
            spark, os.path.join(bi5_tree, "EURUSD/2019/11/31/test.document.txt"), digits=1
        )
        assert df.count() == 0

    def test_wrong_file_data(self, spark, bi5_tree):
        df = read_bi5(
            spark, os.path.join(bi5_tree, "EURUSD/2019/11/31/01h_ticks.bi5"), digits=1
        )
        assert df.count() == 0

    def test_empty_file(self, spark, bi5_tree):
        df = read_bi5(
            spark, os.path.join(bi5_tree, "USDJPY/2020/12/1/00h_ticks.bi5"), digits=3
        )
        assert df.count() == 0


# ---- schema (T:41-43 / DS24:57-66) ----


def test_schema(spark, bi5_tree):
    df = read_bi5(spark, bi5_tree, digits=DIGITS_EUR)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("ticker", "string"),
        ("ts", "timestamp"),
        ("ask", "double"),
        ("bid", "double"),
        ("ask_volume", "double"),
        ("bid_volume", "double"),
    ]


# ---- synthesized-fixture golden scans ----


class TestSynthesizedScans:
    def test_eurusd_tree(self, spark, bi5_tree):
        df = read_bi5(spark, os.path.join(bi5_tree, "EURUSD"), digits=DIGITS_EUR)
        df.cache()
        try:
            assert df.count() == 5
            first = df.orderBy("ts").limit(1).collect()[0]
            rows_equal(
                first,
                ("EURUSD", dt.datetime(2019, 12, 31, 15, 0, 0, 90_000), 1.12207, 1.12198, 1.5, 2.25),
            )
            last = df.orderBy(F.desc("ts")).limit(1).collect()[0]
            assert last.ts == dt.datetime(2020, 4, 3, 0, 59, 59, 36_000)
            assert last.ask == 1.08429
        finally:
            df.unpersist()

    def test_usdjpy_january1(self, spark, bi5_tree):
        df = read_bi5(spark, os.path.join(bi5_tree, "USDJPY"), digits=DIGITS_JPY, january=1)
        assert df.count() == 2
        first = df.orderBy("ts").limit(1).collect()[0]
        assert first.ts == dt.datetime(2020, 12, 1, 23, 0, 0, 219_000)
        assert first.ask == 108.705
        # float32 widening artifact must survive Arrow transport (T:115).
        assert first.bid_volume == 1.0299999713897705

    def test_subdir_partitioning_compat(self, spark, bi5_tree):
        # Reference contract (T:223): one partition per immediate subdir.
        df = read_bi5(
            spark,
            os.path.join(bi5_tree, "EURUSD"),
            digits=DIGITS_EUR,
        )
        assert df.rdd.getNumPartitions() == 2  # 2019/, 2020/
        assert df.count() == 5

    def test_single_file_partition(self, spark, bi5_tree):
        df = read_bi5(
            spark,
            os.path.join(bi5_tree, "EURUSD/2019/11/31/15h_ticks.bi5"),
            digits=DIGITS_EUR,
        )
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 3

    def test_parquet_roundtrip(self, spark, bi5_tree, tmp_path):
        # T:231-234 — the reference's recommended pipeline (README.md:17).
        df = read_bi5(spark, os.path.join(bi5_tree, "EURUSD"), digits=DIGITS_EUR)
        out = str(tmp_path / "out.parquet")
        df.write.mode("overwrite").parquet(out)
        back = spark.read.parquet(out)
        assert back.count() == 5
        assert back.schema["ts"].dataType.simpleString() == "timestamp"


# ---- pushdown / pruning (scale path, beyond the reference) ----


class TestPushdownPruning:
    def test_ticker_filter_prunes_partitions(self, spark, bi5_tree):
        df = read_bi5(spark, bi5_tree, digits=DIGITS_EUR).filter(F.col("ticker") == "USDJPY")
        # only the 2 USDJPY .bi5 files remain as tasks
        assert df.rdd.getNumPartitions() <= 2
        # month-0 read of USDJPY/2020/12 ⇒ January 2021
        assert df.count() == 2

    def test_ts_range_prunes_and_is_exact(self, spark, bi5_tree):
        df = read_bi5(spark, os.path.join(bi5_tree, "EURUSD"), digits=DIGITS_EUR)
        filtered = df.filter(F.col("ts") >= "2020-01-01")
        assert filtered.count() == 2
        assert filtered.rdd.getNumPartitions() <= 1  # only the April file
        # exactness: mid-hour cut still correct (Spark re-applies filter)
        cut = df.filter(F.col("ts") > "2019-12-31 15:00:01")
        assert cut.count() == 4  # drops only the 090ms record

    def test_tickers_option(self, spark, bi5_tree):
        df = read_bi5(spark, bi5_tree, digits=DIGITS_EUR, tickers="EURUSD")
        assert df.count() == 5

    def test_ts_prune_equals_unpushed_read(self, tmp_path):
        """A pushed ``ts`` bound keeps every row the unpushed read keeps
        under the same filter, also for a record whose ``ms`` lies two
        hours past its file's hour (the codec drops such a record)."""
        from pyspark.sql.datasource import GreaterThanOrEqual

        from spark_bi5_datasource_spark.sources.bi5_datasource import Bi5Reader
        from tests.conftest import write_bi5

        write_bi5(str(tmp_path / "EURUSD/2024/00/01/10h_ticks.bi5"), [(7_200_000, 1, 1, 1.0, 1.0)])
        write_bi5(str(tmp_path / "EURUSD/2024/00/01/11h_ticks.bi5"), [(2_000_000, 2, 2, 1.0, 1.0)])
        bound = dt.datetime(2024, 1, 1, 11, 30)

        def rows(reader):
            return sorted(
                row
                for part in reader.partitions()
                for batch in reader.read(part)
                for row in zip(*(c.to_pylist() for c in batch.columns))
            )

        pushed = Bi5Reader({"path": str(tmp_path), "digits": "5"})
        list(pushed.pushFilters([GreaterThanOrEqual(("ts",), bound)]))
        unpushed = Bi5Reader({"path": str(tmp_path), "digits": "5"})
        want = [r for r in rows(unpushed) if r[1] >= bound.replace(tzinfo=UTC)]
        assert rows(pushed) == want
        assert [r[2] for r in want] == [2e-05]  # 11:33:20; the 12:00 record is dirty

    def test_start_end_options(self, spark, bi5_tree):
        df = read_bi5(
            spark,
            os.path.join(bi5_tree, "EURUSD"),
            digits=DIGITS_EUR,
            start="2020-01-01",
            end="2020-12-31",
        )
        assert df.count() == 2


# ---- scan planner: top-level groups cut under Spark's byte budget ----


def _relfiles(parts, root):
    return [os.path.relpath(f, root) for p in parts for f in p.files]


EUR_FILES = [
    "EURUSD/2019/11/31/01h_ticks.bi5",
    "EURUSD/2019/11/31/15h_ticks.bi5",
    "EURUSD/2020/03/03/00h_ticks.bi5",
]
JPY_FILES = ["USDJPY/2020/12/1/00h_ticks.bi5", "USDJPY/2020/12/1/23h_ticks.bi5"]


class TestScanPlanner:
    @pytest.mark.parametrize(
        "sub, expected",
        [
            ("EURUSD", 2),  # 2019/, 2020/ (T:223)
            ("USDJPY", 1),  # 2020/ (T:228)
            ("", 2),  # EURUSD/, USDJPY/
            ("EURUSD/2019/11/31/15h_ticks.bi5", 1),  # T:218
        ],
    )
    def test_default_partition_counts_match_reference(self, spark, bi5_tree, sub, expected):
        df = read_bi5(spark, os.path.join(bi5_tree, sub), digits=DIGITS_EUR)
        assert df.rdd.getNumPartitions() == expected

    def test_tickers_option_prunes_groups(self, spark, bi5_tree):
        df = read_bi5(spark, bi5_tree, digits=DIGITS_EUR, tickers="EURUSD")
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 5

    @pytest.mark.parametrize(
        "filters, options, kept",
        [
            ([("eq", "ticker", "USDJPY")], {}, JPY_FILES),
            ([("in", "ticker", ("EURUSD", "GBPUSD"))], {}, EUR_FILES),
            ([("ge", "ts", dt.datetime(2020, 1, 1))], {}, EUR_FILES[2:] + JPY_FILES),
            (
                [("ge", "ts", dt.datetime(2020, 1, 1)), ("lt", "ts", dt.datetime(2020, 12, 31))],
                {},
                EUR_FILES[2:],
            ),
            ([], {"tickers": "EURUSD"}, EUR_FILES),
            ([], {"start": "2020-01-01"}, EUR_FILES[2:] + JPY_FILES),
            ([], {"end": "2020-12-31"}, EUR_FILES),
            ([("eq", "ticker", "EURUSD")], {"end": "2019-12-31T10:00"}, EUR_FILES[:1]),
        ],
        ids=["eq", "in", "ts-ge", "ts-range", "tickers", "start", "end", "pushed+option"],
    )
    def test_prune_keeps_exact_file_set(self, bi5_tree, filters, options, kept):
        from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

        from spark_bi5_datasource_spark.sources.bi5_datasource import Bi5Reader

        make = {"eq": EqualTo, "in": In, "ge": GreaterThanOrEqual, "lt": LessThan}
        reader = Bi5Reader({"path": bi5_tree, "digits": "5", **options})
        list(reader.pushFilters([make[op]((col,), v) for op, col, v in filters]))
        assert _relfiles(reader.partitions(), bi5_tree) == kept

    def test_prune_to_nothing_keeps_one_empty_partition(self, bi5_tree):
        from spark_bi5_datasource_spark.sources.bi5_datasource import Bi5Reader

        reader = Bi5Reader({"path": bi5_tree, "digits": "5", "tickers": "GBPUSD"})
        assert [p.files for p in reader.partitions()] == [()]

    def test_byte_budget_splits_a_group(self, tmp_path, monkeypatch):
        import random

        from spark_bi5_datasource_spark.sources import bi5_datasource as ds

        budget, open_cost = 1_000, 100
        monkeypatch.setattr(ds, "MAX_PARTITION_BYTES", budget)
        monkeypatch.setattr(ds, "OPEN_COST_BYTES", open_cost)
        rng = random.Random(5)
        root = tmp_path / "ticks"
        for day in range(1, 4):
            for hour in range(24):
                f = root / f"EURUSD/2020/0/{day}/{hour:02d}h_ticks.bi5"
                f.parent.mkdir(parents=True, exist_ok=True)
                size = 1_500 if (day, hour) == (2, 7) else rng.randrange(0, 400)
                f.write_bytes(b"x" * size)
        reader = ds.Bi5Reader({"path": str(root), "digits": "5"})
        parts = reader.partitions()
        assert len(parts) > 1
        for p in parts:
            cost = sum(os.path.getsize(f) + open_cost for f in p.files)
            assert cost <= budget or len(p.files) == 1
        flat = [f for p in parts for f in p.files]
        assert flat == list(ds.iter_bi5_files(str(root)))
        assert len(flat) == len(set(flat)) == 72


# ---- reference-resource golden tests (skip when tree absent) ----


needs_reference = pytest.mark.skipif(
    not reference_fixtures_available(), reason="reference fixtures not present"
)


@needs_reference
class TestReferenceGolden:
    def test_single_file(self, spark):
        df = read_bi5(
            spark,
            os.path.join(REFERENCE_RESOURCES, "EURUSD/2019/11/31/15h_ticks.bi5"),
            digits=DIGITS_EUR,
        )
        df.cache()
        try:
            assert df.count() == 8816  # T:218
            assert df.rdd.getNumPartitions() == 1
            first = df.orderBy("ts").limit(1).collect()[0]
            rows_equal(
                first,
                ("EURUSD", dt.datetime(2019, 12, 31, 15, 0, 0, 90_000), 1.12207, 1.12198, 1.5, 2.25),
            )
            last = df.orderBy(F.desc("ts")).limit(1).collect()[0]
            rows_equal(
                last,
                (
                    "EURUSD",
                    dt.datetime(2019, 12, 31, 15, 59, 59, 395_000),
                    1.1224,
                    1.12238,
                    0.75,
                    0.1899999976158142,
                ),
            )
        finally:
            df.unpersist()

    def test_eurusd_tree(self, spark):
        df = read_bi5(
            spark,
            os.path.join(REFERENCE_RESOURCES, "EURUSD"),
            digits=DIGITS_EUR,
        )
        assert df.count() == 27521  # T:223
        assert df.rdd.getNumPartitions() == 2
        last = df.orderBy(F.desc("ts")).limit(1).collect()[0]
        rows_equal(
            last,
            (
                "EURUSD",
                dt.datetime(2020, 4, 3, 0, 59, 59, 36_000),
                1.08429,
                1.08423,
                3.0,
                3.369999885559082,
            ),
        )

    def test_usdjpy_tree(self, spark):
        df = read_bi5(
            spark,
            os.path.join(REFERENCE_RESOURCES, "USDJPY"),
            digits=DIGITS_JPY,
            january=1,
        )
        assert df.count() == 1454  # T:228
        assert df.rdd.getNumPartitions() == 1
        first = df.orderBy("ts").limit(1).collect()[0]
        rows_equal(
            first,
            (
                "USDJPY",
                dt.datetime(2020, 12, 1, 23, 0, 0, 219_000),
                108.705,
                108.677,
                1.0,
                1.0299999713897705,
            ),
        )
        last = df.orderBy(F.desc("ts")).limit(1).collect()[0]
        rows_equal(
            last,
            ("USDJPY", dt.datetime(2020, 12, 1, 23, 59, 59, 213_000), 108.727, 108.723, 3.25, 1.5),
        )


# ---- UDTF alternative scan path over binaryFile ----


class TestBi5UdtfScan:
    def test_lateral_decode_matches_source(self, spark, bi5_tree):
        from spark_bi5_datasource_spark.functions.bi5_udtf import register_bi5_udtf

        register_bi5_udtf(spark)
        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bi5")
            .option("recursiveFileLookup", "true")
            .load(os.path.join(bi5_tree, "EURUSD"))
        )
        decoded = spark.sql(
            "SELECT t.* FROM {files} AS f, "
            "LATERAL bi5_decode(f.path, f.content, 5, 0) AS t",
            files=files,
        )
        via_source = read_bi5(spark, os.path.join(bi5_tree, "EURUSD"), digits=5)
        assert decoded.count() == via_source.count() == 5
        a = {tuple(r) for r in decoded.collect()}
        b = {tuple(r) for r in via_source.collect()}
        assert a == b


def test_csv_sink_parity(spark, bi5_tree, tmp_path):
    """CSV sink — debug parity with the reference's bi5_to_csv script
    (scripts/bi5_to_csv.py:17 writes the decoded frame to CSV)."""
    df = read_bi5(spark, os.path.join(bi5_tree, "EURUSD"), digits=DIGITS_EUR)
    out = str(tmp_path / "out_csv")
    df.write.option("header", True).mode("overwrite").csv(out)
    back = (
        spark.read.option("header", True)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        .csv(out)
    )
    assert back.count() == 5
    assert back.columns == df.columns


class TestBi5Writer:
    def test_roundtrip_identical(self, spark, bi5_tree, tmp_path):
        """Write path (beyond the read-only reference): read → write a
        new tree → read back → byte-identical rows and layout."""
        from spark_bi5_datasource_spark.sources.bi5_writer import write_bi5_tree

        src = read_bi5(spark, os.path.join(bi5_tree, "EURUSD"), digits=DIGITS_EUR)
        out = str(tmp_path / "tree")
        write_bi5_tree(src, out, digits=DIGITS_EUR)
        back = read_bi5(spark, out, digits=DIGITS_EUR)
        assert {tuple(r) for r in src.collect()} == {tuple(r) for r in back.collect()}
        # month-0 layout parity: Dec 31 file lands under .../2019/11/31/
        assert os.path.exists(os.path.join(out, "EURUSD/2019/11/31/15h_ticks.bi5"))

    def test_january1_layout(self, spark, bi5_tree, tmp_path):
        from spark_bi5_datasource_spark.sources.bi5_writer import write_bi5_tree

        src = read_bi5(
            spark, os.path.join(bi5_tree, "USDJPY"), digits=DIGITS_JPY, january=1
        )
        out = str(tmp_path / "tree")
        write_bi5_tree(src, out, digits=DIGITS_JPY, january=1)
        # 1-based layout: December file under .../2020/12/01/
        assert os.path.exists(os.path.join(out, "USDJPY/2020/12/01/23h_ticks.bi5"))
        back = read_bi5(spark, out, digits=DIGITS_JPY, january=1)
        assert {tuple(r) for r in src.collect()} == {tuple(r) for r in back.collect()}

    @pytest.mark.parametrize(
        "options, message",
        [
            ({"digits": "5"}, r"'path' must be specified for BI5 data\."),
            ({"path": None}, "'digits' should be the digits for the currency"),
            ({"path": None, "digits": "-1"}, "digits cannot be smaller than 0"),
            (
                {"path": None, "digits": "5", "january": "2"},
                "january can only be 0 or 1",
            ),
        ],
    )
    def test_write_validates_like_read(
        self, spark, bi5_tree, tmp_path, options, message
    ):
        """The writer shares the readers' option validation, so a write
        raises the reference's messages (T:164-214); ``None`` stands for
        a path that does not exist yet, which a write must accept."""
        src = read_bi5(spark, bi5_tree, digits=DIGITS_EUR).limit(1)
        w = src.write.format("bi5").mode("append")
        for k, v in options.items():
            w = w.option(k, str(tmp_path / "new") if v is None else v)
        with pytest.raises(Exception, match=message):
            w.save()

    def test_non_utc_ts_maps_to_utc_path(self, tmp_path):
        """Hour paths are derived from absolute epoch micros, never
        from wall-clock fields: a batch whose timestamps display as
        America/New_York, processed on a non-UTC host, must still land
        in the UTC hour file."""
        import time as _time
        from datetime import datetime, timezone

        import pyarrow as pa

        from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

        old_tz = os.environ.get("TZ")
        os.environ["TZ"] = "America/New_York"
        _time.tzset()
        try:
            w = Bi5Writer({"path": str(tmp_path / "t"), "digits": "5"})
            # 2020-06-01 10:30 EDT == 14:30 UTC → month-0 path 05/, hour 14
            instant = datetime(2020, 6, 1, 14, 30, tzinfo=timezone.utc)
            batch = pa.record_batch(
                {
                    "ticker": ["EURUSD"],
                    "ts": pa.array([instant], pa.timestamp("us", tz="America/New_York")),
                    "ask": [1.1],
                    "bid": [1.0],
                    "ask_volume": [1.0],
                    "bid_volume": [1.0],
                }
            )
            msg = w.write(iter([batch]))
            assert msg.files == (
                os.path.join("EURUSD", "2020", "05", "01", "14h_ticks.bi5"),
            )
        finally:
            if old_tz is None:
                os.environ.pop("TZ", None)
            else:
                os.environ["TZ"] = old_tz
            _time.tzset()

    def test_non_utc_host_roundtrip(self, bi5_tree, tmp_path):
        """Full write→read round-trip on a simulated non-UTC host (fresh
        JVM + workers under TZ=America/New_York, session tz UTC)."""
        import subprocess
        import sys
        import textwrap

        script = textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
            from pyspark.sql import SparkSession
            from spark_bi5_datasource_spark import register
            from spark_bi5_datasource_spark.sources.bi5_writer import write_bi5_tree
            spark = (SparkSession.builder.master("local[2]")
                .config("spark.sql.session.timeZone", "UTC")
                .config("spark.ui.enabled", "false").getOrCreate())
            spark.sparkContext.setLogLevel("ERROR")
            register(spark)
            src = (spark.read.format("bi5").option("digits", 5)
                   .load({os.path.join("{tree}", "EURUSD")!r}.format(tree={bi5_tree!r})))
            out = {str(tmp_path / "tz_tree")!r}
            write_bi5_tree(src, out, digits=5)
            back = spark.read.format("bi5").option("digits", 5).load(out)
            a = sorted(map(tuple, src.collect()))
            b = sorted(map(tuple, back.collect()))
            assert a == b and len(a) == 5, (len(a), len(b), a[:1], b[:1])
            print("ROUNDTRIP-OK")
            """
        )
        env = {**os.environ, "TZ": "America/New_York"}
        res = subprocess.run(
            [sys.executable, "-c", script],
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        assert "ROUNDTRIP-OK" in res.stdout

    def test_null_ts_or_ticker_rejected(self, tmp_path):
        """bi5 has no null representation, and a null group key would be
        silently dropped by the groupby — must fail loudly instead of
        corrupting the archive's row count."""
        from datetime import datetime, timezone

        import pyarrow as pa

        from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

        w = Bi5Writer({"path": str(tmp_path / "t"), "digits": "5"})
        instant = datetime(2020, 6, 1, 14, 30, tzinfo=timezone.utc)
        batch = pa.record_batch(
            {
                "ticker": ["EURUSD", "EURUSD"],
                "ts": pa.array([instant, None], pa.timestamp("us", tz="UTC")),
                "ask": [1.1, 1.2],
                "bid": [1.0, 1.1],
                "ask_volume": [1.0, 1.0],
                "bid_volume": [1.0, 1.0],
            }
        )
        with pytest.raises(ValueError, match="must be non-null"):
            w.write(iter([batch]))

    @staticmethod
    def _value_batch(ask, bid, av=1.0, bv=1.0):
        from datetime import datetime, timezone

        import pyarrow as pa

        instant = datetime(2020, 6, 1, 14, 30, tzinfo=timezone.utc)
        n = len(ask)
        return pa.record_batch(
            {
                "ticker": ["EURUSD"] * n,
                "ts": pa.array([instant] * n, pa.timestamp("us", tz="UTC")),
                "ask": pa.array(ask, pa.float64()),
                "bid": pa.array(bid, pa.float64()),
                "ask_volume": pa.array([av] * n, pa.float64()),
                "bid_volume": pa.array([bv] * n, pa.float64()),
            }
        )

    def test_null_value_columns_rejected(self, tmp_path):
        """Arrow nulls in ask/bid/volumes become NaN via to_numpy and
        would wrap to garbage uint32 records — refuse loudly (parity
        with the old row writer, which raised on None)."""
        from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

        w = Bi5Writer({"path": str(tmp_path / "t"), "digits": "5"})
        batch = self._value_batch([1.1, None], [1.0, 1.0])
        with pytest.raises(ValueError, match="'ask' must be non-null"):
            w.write(iter([batch]))

    @pytest.mark.parametrize(
        "ask",
        [float("nan"), float("inf"), -1.0, 43000.0],  # 43000*10^5 >= 2^32
        ids=["nan", "inf", "negative", "uint32-overflow"],
    )
    def test_bad_price_values_rejected(self, tmp_path, ask):
        """Non-finite or out-of-range scaled prices wrap to arbitrary
        uint32 on astype — must raise, never silently corrupt."""
        from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

        w = Bi5Writer({"path": str(tmp_path / "t"), "digits": "5"})
        batch = self._value_batch([ask], [1.0])
        with pytest.raises(ValueError, match="non-finite or outside"):
            w.write(iter([batch]))

    def test_nan_volume_rejected(self, tmp_path):
        from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

        w = Bi5Writer({"path": str(tmp_path / "t"), "digits": "5"})
        batch = self._value_batch([1.1], [1.0], av=float("nan"))
        with pytest.raises(ValueError, match="non-finite"):
            w.write(iter([batch]))

    def test_collision_detection(self, spark, tmp_path):
        """Same (ticker, hour) split across tasks must fail loudly, not
        silently overwrite."""
        import pyspark.sql.functions as F
        from pyspark.errors.exceptions.captured import AnalysisException, SparkRuntimeException

        df = (
            spark.range(10)
            .select(
                F.lit("EURUSD").alias("ticker"),
                F.lit("2020-01-01 00:00:00").cast("timestamp").alias("ts"),
                F.lit(1.0).alias("ask"),
                F.lit(1.0).alias("bid"),
                F.lit(1.0).alias("ask_volume"),
                F.lit(1.0).alias("bid_volume"),
            )
            .repartition(4)  # deliberately split the hour across tasks
        )
        with pytest.raises(Exception, match="split across tasks|would overwrite"):
            df.write.format("bi5").option("digits", 5).mode("append").save(
                str(tmp_path / "clash")
            )


class TestSqlCatalogSurface:
    """SQL DDL integration: the bi5 source is usable from pure SQL via
    ``CREATE TEMPORARY VIEW ... USING bi5 OPTIONS (...)`` — the
    standard options-carrying DDL for datasource relations.  (A
    PERSISTENT ``CREATE TABLE ... USING bi5`` currently resolves but
    hands the Python reader an EMPTY options dict at SELECT time —
    Spark 4.1 does not round-trip stored table options into Python
    data source reads — so the temp-view form is the supported SQL
    surface.)  The catalog may also resolve paths to ``file:`` URIs;
    local_path() normalizes them for both batch and stream readers."""

    def test_temp_view_using_bi5(self, spark, bi5_tree):
        df_api = (
            spark.read.format("bi5").option("digits", 5).load(bi5_tree)
        )
        spark.sql("DROP VIEW IF EXISTS bi5_ddl_v1")
        spark.sql(
            "CREATE TEMPORARY VIEW bi5_ddl_v1 USING bi5 "
            f"OPTIONS (digits '5', path '{bi5_tree}')"
        )
        try:
            got = spark.sql(
                "SELECT ticker, ts, ask, bid FROM bi5_ddl_v1 ORDER BY ticker, ts"
            ).collect()
            want = (
                df_api.select("ticker", "ts", "ask", "bid")
                .orderBy("ticker", "ts")
                .collect()
            )
            assert got == want and len(got) == 7
            # aggregation + filter through the SQL surface
            n = spark.sql(
                "SELECT count(*) AS n FROM bi5_ddl_v1 WHERE ticker = 'EURUSD'"
            ).collect()[0].n
            assert n == 5
        finally:
            spark.sql("DROP VIEW IF EXISTS bi5_ddl_v1")

    def test_file_uri_load(self, spark, bi5_tree):
        df = (
            spark.read.format("bi5")
            .option("digits", 5)
            .load("file://" + bi5_tree)
        )
        assert df.count() == 7

    def test_local_path_normalization(self):
        from spark_bi5_datasource_spark.sources.bi5_datasource import local_path

        assert local_path("/plain/dir") == "/plain/dir"
        assert local_path("file:/a/b") == "/a/b"
        assert local_path("file:///a/b") == "/a/b"
        assert local_path("file:/a/with%20space") == "/a/with space"
        assert local_path("s3a://bucket/key") == "s3a://bucket/key"
