"""``ohlc_bars`` physical shapes: one-partition bars vs the hash aggregate.

A batch bi5 point query that scans one partition gets its bars from one
``mapInArrow`` (no exchange, one job); everything else keeps the hash
aggregate.  The property test holds the two shapes to the same rows over
random one-partition bi5 trees: duplicate ``ms`` (``min_by``/``max_by``
ties), ``ms`` past the hour, empty hours, and NaN/±inf volumes used as
the price and as the volume.
"""

from __future__ import annotations

import datetime as dt
import math
import shutil
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_bi5_datasource_spark.functions import ohlc
from spark_bi5_datasource_spark.functions.ohlc import ohlc_bars
from tests.conftest import write_bi5

UTC = dt.timezone.utc


def read_bi5(spark, path):
    return spark.read.format("bi5").option("digits", 5).load(path)


def hash_bars(df, *args, **kwargs):
    """The hash-aggregate shape of the same call: an ``extra_aggs``
    column forces it and is dropped again."""
    return ohlc_bars(df, *args, extra_aggs=[F.count("*").alias("_x")], **kwargs).drop("_x")


def executed(q) -> str:
    return q._jdf.queryExecution().executedPlan().toString()


def jobs_of(spark, q) -> int:
    sc = spark.sparkContext
    group = f"ohlc-bars-{id(q)}"
    sc.setJobGroup(group, "ohlc_bars")
    try:
        q.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def point_query(spark, root):
    lo = dt.datetime(2020, 1, 1, 0, tzinfo=UTC)
    hi = dt.datetime(2020, 1, 1, 3, tzinfo=UTC)
    return read_bi5(spark, root).where(
        (F.col("ticker") == "EURUSD") & (F.col("ts") >= lo) & (F.col("ts") < hi)
    )


@pytest.fixture()
def tick_tree(tmp_path):
    """Two tickers, three EURUSD hours: a ticker point query scans one
    partition, the whole root scans two."""
    root = tmp_path / "ticks"
    for h in range(3):
        write_bi5(
            str(root / f"EURUSD/2020/00/01/{h:02d}h_ticks.bi5"),
            [(ms, 100000 + ms % 97, 99990 + ms % 89, 1.0, 0.5) for ms in range(0, 3_600_000, 45_000)],
        )
    write_bi5(str(root / "USDJPY/2020/00/01/00h_ticks.bi5"), [(0, 108000, 107990, 1.0, 1.0)])
    return str(root)


@pytest.mark.parametrize("width", ["0 seconds", "500 nanoseconds", "-5 minutes"])
def test_bar_width_must_be_positive_whole_micros(spark, tick_tree, width):
    with pytest.raises(ValueError, match="positive whole number of microseconds"):
        ohlc_bars(read_bi5(spark, tick_tree), width)


def test_point_query_runs_one_stage(spark, tick_tree):
    q = ohlc_bars(point_query(spark, tick_tree), "1 minute")
    plan = executed(q)
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1
    assert jobs_of(spark, q) == 1
    expected = hash_bars(point_query(spark, tick_tree), "1 minute")
    assert q.schema == expected.schema
    assert sorted(q.collect()) == sorted(expected.collect())


def _is_hash_aggregate(q) -> bool:
    plan = q._jdf.queryExecution().analyzed().toString()
    return "MapInArrow" not in plan and "Aggregate" in plan


class TestFallbacks:
    """Inputs that cannot take the one-partition shape keep the hash
    aggregate; those that fail the cheap checks are never planned."""

    @pytest.fixture()
    def no_planning(self, monkeypatch):
        def refuse(plan):
            raise AssertionError("planned an input that cannot qualify")

        monkeypatch.setattr(ohlc, "_single_scan_partition", refuse)

    def test_two_partition_root(self, spark, tick_tree):
        df = read_bi5(spark, tick_tree)
        assert df.rdd.getNumPartitions() == 2
        q = ohlc_bars(df, "1 minute")
        assert _is_hash_aggregate(q)
        assert sorted(q.collect()) == sorted(hash_bars(df, "1 minute").collect())

    def test_streaming_input(self, spark, tick_tree, no_planning):
        stream = spark.readStream.format("bi5").option("digits", 5).load(tick_tree)
        q = ohlc_bars(stream.withWatermark("ts", "1 hour"), "1 hour")
        assert q.isStreaming and _is_hash_aggregate(q)

    def test_extra_aggs(self, spark, tick_tree, no_planning):
        q = ohlc_bars(point_query(spark, tick_tree), extra_aggs=[F.sum("ask").alias("s")])
        assert _is_hash_aggregate(q)

    def test_nullable_columns(self, spark, no_planning):
        df = spark.createDataFrame(
            [(dt.datetime(2020, 1, 1, tzinfo=UTC), "EURUSD", 1.0, 1.0)],
            "ts timestamp, ticker string, bid double, bid_volume double",
        )
        assert _is_hash_aggregate(ohlc_bars(df))

    def test_parquet_columns(self, spark, tick_tree, tmp_path, no_planning):
        out = str(tmp_path / "ticks.parquet")
        point_query(spark, tick_tree).write.parquet(out)
        assert _is_hash_aggregate(ohlc_bars(spark.read.parquet(out)))


# -- property: the one-partition shape equals the hash aggregate --------------

_MS = st.one_of(
    st.sampled_from([0, 999, 1_000, 59_999, 60_000, 3_599_999, 3_600_000, 7_200_001]),
    st.integers(0, 3_600_000 * 3),
)
_VOLUME = st.one_of(
    st.sampled_from([math.nan, math.inf, -math.inf, 0.0, 1.0]),
    st.floats(width=32, allow_nan=False, allow_infinity=False),
)
_RECORD = st.tuples(_MS, st.integers(0, 2**32 - 1), st.integers(0, 2**32 - 1), _VOLUME, _VOLUME)
# per hour: None = no file, [] = an empty file
_HOURS = st.lists(st.one_of(st.none(), st.lists(_RECORD, max_size=12)), min_size=1, max_size=4)
_COLUMNS = st.sampled_from(
    [
        ("bid", "bid_volume"),
        ("ask_volume", "ask_volume"),
        ("ask_volume", "bid_volume"),
        ("bid", "ask_volume"),
        ("ask", None),
    ]
)


def _same(a, b, rel=0.0) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        if rel and not (math.isinf(a) or math.isinf(b)):
            return math.isclose(a, b, rel_tol=rel, abs_tol=0.0)
    return a == b


@given(
    hours=_HOURS,
    other_ticker=st.booleans(),
    columns=_COLUMNS,
    width=st.sampled_from(["1 second", "1 minute", "7 minutes", "1 hour", "1 day"]),
)
@settings(max_examples=25, deadline=None)
def test_one_partition_bars_equal_hash_aggregate(spark, hours, other_ticker, columns, width):
    price_col, volume_col = columns
    root = tempfile.mkdtemp(prefix="ohlc-bars-")
    try:
        for h, records in enumerate(hours):
            if records is not None:
                write_bi5(f"{root}/EURUSD/2020/00/01/{h:02d}h_ticks.bi5", records)
        if other_ticker:
            write_bi5(f"{root}/USDJPY/2020/00/01/00h_ticks.bi5", [(0, 1, 1, 1.0, 1.0)])
        df = read_bi5(spark, root).where(F.col("ticker") == "EURUSD")
        kwargs = dict(price_col=price_col, volume_col=volume_col)
        q = ohlc_bars(df, width, **kwargs)
        assert "MapInArrow" in executed(q)
        expected = hash_bars(df, width, **kwargs)
        assert q.schema == expected.schema
        got, want = sorted(q.collect()), sorted(expected.collect())
        assert len(got) == len(want)
        for g, w in zip(got, want):
            for name in q.columns:
                rel = 1e-12 if name == "volume" else 0.0
                assert _same(g[name], w[name], rel), (name, g, w)
    finally:
        shutil.rmtree(root, ignore_errors=True)
