"""Tick-bar aggregates — the flagship domain aggregation over bi5
tick data (SURVEY §2: "OHLC tick bars").

``ohlc_bars`` has two physical shapes, chosen when it is called:

* **Hash aggregate** (the general case): ``groupBy(bucket, keys)`` with
  ``min_by``/``max_by`` for open/close — a partial aggregate, one
  ``Exchange hashpartitioning`` and a final aggregate; no window
  functions, no Python.  The same function runs on a Structured
  Streaming source (``streaming_ohlc`` in streaming/events.py), where
  it groups on ``window()`` instead.
* **One-partition bars**: a batch bi5 point query scans one partition,
  yet Spark 4's ``BatchScanExec`` reports ``UnknownPartitioning(0)``
  for a Python source, so the hash aggregate still pays the exchange
  and a second job.  When the input qualifies (see ``ohlc_bars``), the
  bars come from one ``mapInArrow`` over ``_bars_kernel``: one job, one
  stage, the same rows.

Because the one-partition check inspects the physical plan,
``ohlc_bars`` plans the input when it is called: a bi5 input's file
list is fixed at build time, not at the first action.
"""

from __future__ import annotations

import functools
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = ["ohlc_bars", "merge_ohlc_bars"]


def _bucket_micros(duration: str) -> int:
    """Bar width in microseconds; a width that is not a positive whole
    number of microseconds is refused here, not inside a task."""
    import pandas as pd

    ns = pd.Timedelta(duration).value
    if ns <= 0 or ns % 1000:
        raise ValueError(
            f"bar width must be a positive whole number of microseconds, got {duration!r}"
        )
    return ns // 1000


def _bars_kernel(batches, n, ts_col, price_col, volume_col, by):
    """OHLC bars of one whole partition, equal to the hash aggregate's
    rows.  Module-level so cloudpickle ships it by reference and the
    worker imports this package.

    Rows are stably sorted by (keys, ts), so ties on ``ts`` stay in
    input order: open is the price of the last row with the bar's
    minimum ``ts`` and close of the last row with its maximum, which is
    what Spark's ``min_by``/``max_by`` keep.  high propagates NaN (Spark
    orders NaN above every number); low skips NaN unless every price is
    NaN; volume sums in input order, as the partial aggregate does."""
    import numpy as np
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    ts_type = table.schema.field(ts_col).type
    ts = table.column(ts_col).to_numpy().astype("datetime64[us]").view(np.int64)
    keys = [table.column(c).combine_chunks() for c in by]
    codes = [k.dictionary_encode().indices.to_numpy(zero_copy_only=False) for k in keys]
    order = np.lexsort([ts, *reversed(codes)])
    t = ts[order]
    bucket = t - np.mod(t, n)
    new_bar = np.empty(len(t), dtype=bool)
    new_bar[0] = True
    new_bar[1:] = bucket[1:] != bucket[:-1]
    for c in codes:
        c = c[order]
        new_bar[1:] |= c[1:] != c[:-1]
    starts = np.flatnonzero(new_bar)
    ends = np.append(starts[1:], len(t)) - 1
    # open sits on the last row of each bar's first run of equal ts
    new_ts = new_bar.copy()
    new_ts[1:] |= t[1:] != t[:-1]
    runs = np.flatnonzero(new_ts)
    first_run_end = np.append(runs, len(t))[np.searchsorted(runs, starts, side="right")] - 1

    p = table.column(price_col).to_numpy()[order]
    names = ["bar_start", *by, "open", "high", "low", "close", "n_ticks"]
    cols = [pa.array(bucket[starts], type=ts_type)]
    cols += [k.take(pa.array(order[starts])) for k in keys]
    cols += [
        pa.array(p[first_run_end]),
        pa.array(np.maximum.reduceat(p, starts)),
        pa.array(np.fmin.reduceat(p, starts)),
        pa.array(p[ends]),
        pa.array(ends - starts + 1),
    ]
    if volume_col is not None:
        bar = np.empty(len(t), dtype=np.int64)
        bar[order] = np.cumsum(new_bar) - 1
        vol = table.column(volume_col).to_numpy()
        names.append("volume")
        cols.append(pa.array(np.bincount(bar, weights=vol, minlength=len(starts))))
    yield pa.RecordBatch.from_arrays(cols, names)


def _single_scan_partition(plan) -> bool:
    """True when the physical ``plan`` has no exchange and one leaf, a
    ``BatchScanExec`` that planned one input partition: then one task
    sees every row."""
    leaves, stack = [], [plan]
    while stack:
        node = stack.pop()
        if "Exchange" in node.getClass().getSimpleName():
            return False
        children = node.children()
        k = children.size()
        if k == 0:
            leaves.append(node)
        stack.extend(children.apply(i) for i in range(k))
    return (
        len(leaves) == 1
        and leaves[0].getClass().getSimpleName() == "BatchScanExec"
        and leaves[0].inputPartitions().size() == 1
    )


def _one_partition_bars(
    df: DataFrame, n: int, ts_col: str, price_col: str, volume_col: str | None, by: Sequence[str]
) -> DataFrame | None:
    """The one-stage bars of ``ohlc_bars``, or None when ``df`` does not
    qualify.  The schema test runs first, so an input that cannot
    qualify is never planned here."""
    roles = [(ts_col, TimestampType()), (price_col, DoubleType())]
    roles += [(c, StringType()) for c in by]
    if volume_col is not None:
        roles.append((volume_col, DoubleType()))
    keyed = [ts_col, price_col, *by]
    if len(set(keyed)) != len(keyed) or volume_col in (ts_col, *by):
        return None
    fields = {f.name: f for f in df.schema.fields}
    for name, typ in roles:
        f = fields.get(name)
        if f is None or f.nullable or f.dataType != typ:
            return None
    schema = StructType(
        [StructField("bar_start", TimestampType())]
        + [StructField(c, StringType(), nullable=False) for c in by]
        + [StructField(c, DoubleType()) for c in ("open", "high", "low", "close")]
        + [StructField("n_ticks", LongType(), nullable=False)]
        + [StructField("volume", DoubleType())] * (volume_col is not None)
    )
    kernel = functools.partial(
        _bars_kernel, n=n, ts_col=ts_col, price_col=price_col, volume_col=volume_col, by=tuple(by)
    )
    out = df.select(*dict.fromkeys(name for name, _ in roles)).mapInArrow(kernel, schema)
    return out if _single_scan_partition(out._jdf.queryExecution().executedPlan()) else None


def ohlc_bars(
    df: DataFrame,
    duration: str = "1 minute",
    ts_col: str = "ts",
    price_col: str = "bid",
    volume_col: str | None = "bid_volume",
    by: Sequence[str] = ("ticker",),
    extra_aggs: Sequence[F.Column] = (),
) -> DataFrame:
    """Open/high/low/close (+volume) bars per key per time bucket.

    open/close use ``min_by``/``max_by`` on the timestamp — single
    hash aggregate, unlike first/last-over-window formulations that
    need a sort.  ``extra_aggs`` lets callers ride additional
    aliased aggregates on the same exchange (e.g. a value sum).

    A batch input computes the tumbling bucket as epoch-aligned int64
    arithmetic on ``unix_micros`` — measured 30 % faster than
    ``F.window``/``date_trunc`` at the x1000 tier, whose per-row
    interval machinery is pure overhead for fixed-width buckets
    (epoch alignment is identical).  ``duration`` must then be a
    positive whole number of microseconds (``ValueError`` otherwise).
    A streaming input takes the ``window()`` path: the engine
    recognizes only that construct as event-time, so watermark state
    eviction (and append-mode output) depends on it.

    A batch input with no ``extra_aggs`` and non-nullable
    Timestamp/Double/Double/String columns for
    ``ts_col``/``price_col``/``volume_col``/``by`` (the bi5 schema) is
    planned as one ``mapInArrow`` over ``_bars_kernel``; that plan is
    kept only when it reads one scan partition with no exchange, where
    one task holds every row of every bar.  Otherwise the hash
    aggregate is returned unchanged."""
    aggs = [
        F.min_by(price_col, ts_col).alias("open"),
        F.max(price_col).alias("high"),
        F.min(price_col).alias("low"),
        F.max_by(price_col, ts_col).alias("close"),
        F.count("*").alias("n_ticks"),
    ]
    if volume_col is not None:
        aggs.append(F.sum(volume_col).alias("volume"))
    aggs.extend(extra_aggs)
    if df.isStreaming:
        out = df.groupBy(F.window(ts_col, duration).alias("w"), *by).agg(*aggs)
        return out.select(
            F.col("w.start").alias("bar_start"),
            *[c for c in out.columns if c != "w"],
        )
    n = _bucket_micros(duration)
    if not extra_aggs:
        bars = _one_partition_bars(df, n, ts_col, price_col, volume_col, by)
        if bars is not None:
            return bars
    um = F.unix_micros(F.col(ts_col))
    bucket = (um - F.pmod(um, F.lit(n))).alias("_bucket")
    # row-set parity with the streaming window() path, which silently
    # drops null-timestamp rows via TimeWindowing's IsNotNull filter
    out = df.where(F.col(ts_col).isNotNull()).groupBy(bucket, *by).agg(*aggs)
    return out.select(
        F.timestamp_micros("_bucket").alias("bar_start"),
        *[c for c in out.columns if c != "_bucket"],
    )


def merge_ohlc_bars(
    bars: DataFrame,
    duration: str,
    ts_col: str = "bar_start",
    by: Sequence[str] = ("ticker",),
    sum_cols: Sequence[str] = ("n_ticks", "volume"),
) -> DataFrame:
    """Re-aggregate finer OHLC bars into coarser ones WITHOUT touching
    the raw ticks — the continuous-aggregate / hypertable-rollup shape:
    materialize hourly partials once, derive daily/weekly/monthly bars
    from them forever.

    Lossless because every OHLC component is re-aggregable from
    partials: open = open of the earliest sub-bar (min_by on the bar
    timestamp), close = close of the latest, high/low = max/min, and
    counts/sums add.  At 100 TB this is the difference between
    re-scanning the tick archive per resolution and scanning the
    (≈3600× smaller) hourly partial table."""
    aggs = [
        F.min_by("open", ts_col).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", ts_col).alias("close"),
        *[F.sum(c).alias(c) for c in sum_cols if c in bars.columns],
    ]
    out = bars.groupBy(F.window(ts_col, duration).alias("w"), *by).agg(*aggs)
    return out.select(
        F.col("w.start").alias("bar_start"),
        *[c for c in out.columns if c != "w"],
    )
