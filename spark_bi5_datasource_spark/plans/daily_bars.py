"""Shared daily-bar builders for the indicator family.

Six catalog indicators reduce an unbounded fact scan to a tiny daily
series before their (cheap) window math:

* ``daily_ohlc_bars``  — ``(event_type, day, hi, lo, cl)`` in exact
  integer cents from the 100M-row events scan; consumed by
  ``window_atr_bands``, ``window_stochastic_osc``,
  ``window_donchian_channels``, ``window_pivot_points``.
* ``daily_revenue_kusd`` — ``(day, rev_k)`` exact integer
  thousand-dollar daily revenue from the orders scan; consumed by
  ``window_rsi_cutler`` and ``window_bollinger_bands``.

These builders are the one definition of the bar semantics the six
indicators share.

Scale shape: both builders are single map-side-combinable groupBys —
the ONLY unbounded-input work in the whole indicator family; every
window downstream rides the tiny aggregate (partitioned by
event_type for the OHLC family; documented SinglePartition bound for
the ~|days| revenue series, scripts/plan_audit.py).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .tables import t

__all__ = ["daily_ohlc_bars", "daily_revenue_kusd"]


def daily_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(event_type, day) OHLC bar: hi/lo cents and the
    last-by-timestamp close — the shared first stage of the
    events-series indicators (semantics identical to the
    events_daily_ohlc pass, relational.py)."""
    base = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL AND value IS NOT NULL")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            F.expr(_HA.format(x="value", m="100")).alias("cents"),
        )
    )
    return base.groupBy("event_type", "day").agg(
        F.max("cents").cast("bigint").alias("hi"),
        F.min("cents").cast("bigint").alias("lo"),
        F.expr("max_by(cents, ts)").cast("bigint").alias("cl"),
    )


def daily_revenue_kusd(spark: SparkSession, sf: str) -> DataFrame:
    """Per-day revenue in exact integer thousand-dollar units
    (cents div 100000) — the shared first stage of the
    revenue-series indicators (k$ units keep the Bollinger Σx²
    moment inside BIGINT at x1000; see window_bollinger_bands)."""
    return (
        t(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.expr(_HA.format(x="o_totalprice", m="100")))
            .cast("bigint")
            .alias("rev_c")
        )
        .select(
            "day", F.expr("rev_c div 100000").cast("bigint").alias("rev_k")
        )
    )
