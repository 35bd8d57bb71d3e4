"""Events catalog: ``events_*`` engagement, funnel, cohort, experiment
and anomaly analytics and ``window_*`` time-series indicators over the
``events`` fixture.

Values are engine-identical: sums run in scaled-integer space before
any floating-point step, ratios are half-up integer ppm, and every
window has a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timeseries import gap_fill
from ..operators import top_k_per_group
from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .relational import _dsum
from .tables import t


# ------------------------------------------------------------ windows
@_q(
    "window_topk_per_segment",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
        row_number() OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def window_topk_per_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group top-k = ranking window + filter (Tier B3 generalized)."""
    return top_k_per_group(
        t(spark, sf, "customer").select("c_mktsegment", "c_custkey", "c_acctbal"),
        "c_mktsegment",
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        3,
        keep_rank=True,
    ).select("c_mktsegment", "c_custkey", "c_acctbal", "rn")


@_q(
    "window_lag_range_daily",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        (CAST(SUM(CAST(round((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS revenue
      FROM orders GROUP BY day
    )
    SELECT day, revenue,
      revenue - lag(revenue) OVER (ORDER BY day) AS delta,
      lead(revenue) OVER (ORDER BY day) AS next_revenue,
      (CAST(SUM(CAST(round((revenue) * 100) AS BIGINT)) OVER (
        ORDER BY CAST(day AS DATE)
        RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0)
        AS revenue_4d
    FROM daily
    """,
)
def window_lag_range_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic lag/lead plus a value-based rangeBetween frame
    (trailing 4-day revenue) over one aggregated daily series —
    both window-frame kinds on a single exchange."""
    daily = (
        t(spark, sf, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(_dsum("o_totalprice", 2, "revenue"))
    )
    w = Window.orderBy("day")
    wr = (
        Window.orderBy(F.expr("unix_date(cast(day AS date))"))
        .rangeBetween(-3, Window.currentRow)
    )
    return daily.select(
        "day",
        "revenue",
        (F.col("revenue") - F.lag("revenue").over(w)).alias("delta"),
        F.lead("revenue").over(w).alias("next_revenue"),
        (
            F.sum(F.expr(_HA.format(x="revenue", m=100)))
            .over(wr)
            .cast("double")
            / F.lit(100.0)
        ).alias("revenue_4d"),
    )


@_q(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
      (CAST(SUM(CAST(round((o_totalprice) * 100) AS BIGINT)) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0) AS running_spent
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative frame aggregate (rowsBetween) with total ordering."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (
            F.sum(F.expr(_HA.format(x="o_totalprice", m=100)))
            .over(w)
            .cast("double")
            / F.lit(100.0)
        ).alias("running_spent"),
    )


# ----------------------------------------------------- event analytics
@_q(
    "events_daily_ohlc",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_start, event_type,
      arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
      arg_max(value, ts) AS close, count(*) AS n_ticks,
      (CAST(SUM(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS value_sum
    FROM events GROUP BY bar_start, event_type
    """,
)
def events_daily_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation + OHLC bars (flagship tick
    aggregate, functions/ohlc.py) in one hash aggregate — the batch
    form of the streaming tumbling window (streaming/events.py runs
    the same expressions on a stream)."""
    from ..functions.ohlc import ohlc_bars

    e = t(spark, sf, "events")
    return ohlc_bars(
        e,
        "1 day",
        ts_col="ts",
        price_col="value",
        volume_col=None,
        by=("event_type",),
        extra_aggs=[_dsum("value", 2, "value_sum")],
    )


@_q(
    "events_sessionize",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, event_id,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id,
      CAST(max(session_id) AS BIGINT) AS n_sessions,
      CAST(SUM(sz) AS BIGINT) AS n_events,
      CAST(max(sz) AS BIGINT) AS max_session_events
    FROM (
      SELECT user_id, session_id, count(*) AS sz
      FROM sess GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running
    sum — the batch dual of streaming session windows."""
    e = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        e.withColumn(
            "new_session",
            F.when(
                (
                    F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                    > 1_800_000_000
                )
                | F.lag("ts").over(w).isNull(),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(wf))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("sz"))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.sum("sz").alias("n_events"),
        F.max("sz").cast("bigint").alias("max_session_events"),
    )


@_q(
    "window_rank_kinds",
    """
    SELECT c_mktsegment, c_custkey,
      CAST(rank() OVER w AS INT) AS rnk,
      CAST(dense_rank() OVER w AS INT) AS drnk,
      CAST(ntile(4) OVER w AS INT) AS quartile,
      round(percent_rank() OVER w, 6) AS prank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def window_rank_kinds(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking-function surface: rank/dense_rank/ntile/percent_rank."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return t(spark, sf, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
    )


@_q(
    "events_value_histogram",
    """
    WITH h AS (
      SELECT CAST(floor(value / 50.0) AS INT) AS bucket,
        count(*) AS cnt
      FROM events GROUP BY 1
    )
    SELECT bucket, bucket * 50.0 AS lo, (bucket + 1) * 50.0 AS hi,
      CAST(cnt AS BIGINT) AS cnt,
      CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum_cnt
    FROM h
    """,
)
def events_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width value histogram + cumulative counts.  The heavy agg
    is a plain hash groupBy (partial+final); the window runs over the
    bucket table only — never over the events (a global-ordering window
    over raw rows is the classic scale killer)."""
    ev = t(spark, sf, "events")
    h = ev.groupBy(
        F.floor(F.col("value") / 50.0).cast("int").alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return h.select(
        "bucket",
        (F.col("bucket") * 50.0).alias("lo"),
        ((F.col("bucket") + 1) * 50.0).alias("hi"),
        F.col("cnt").cast("bigint").alias("cnt"),
        F.sum("cnt").over(w).cast("bigint").alias("cum_cnt"),
    )


@_q(
    "events_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY user_id
    )
    SELECT f.cohort,
      CAST(date_diff('day', f.cohort, date_trunc('day', e.ts)) AS INT)
        AS day_offset,
      CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen date,
    activity counted per (cohort, day-offset).

    One scan, two shuffles: the first-seen date attaches as a window
    min over user_id (no groupBy+self-join — the naive formulation
    scans the log twice and pays 4 exchanges), then the (cohort,
    offset) distinct-count agg."""
    ev = t(spark, sf, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    )
    cohort = F.min("d").over(Window.partitionBy("user_id"))
    return (
        ev.withColumn("cohort", cohort)
        .groupBy(
            "cohort", F.datediff("d", "cohort").cast("int").alias("day_offset")
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@_q(
    "events_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase
    """,
)
def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase: a user advances
    a stage only with a LATER event of the next type (time-ordered,
    not mere presence).

    Each stage is one agg + one equi-join against the (user-sized)
    previous stage; no window over raw events, no self-join explosion
    — the funnel cost is 3 linear passes however wide the event log."""
    ev = t(spark, sf, "events").select("user_id", "event_type", "ts")

    def stage(prev: DataFrame, etype: str, tcol: str, prev_t: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = stage(v, "click", "t1", "t0")
    p = stage(c, "purchase", "t2", "t1")
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )


@_q(
    "events_ohlc_rollup",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_start, event_type,
      arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
      arg_max(value, ts) AS close, count(*) AS n_ticks,
      (CAST(SUM(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0)
        AS value_sum
    FROM events GROUP BY bar_start, event_type
    """,
)
def events_ohlc_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style two-level rollup: hourly OHLC partials merged
    into daily bars (functions/ohlc.py merge_ohlc_bars) — the oracle
    computes daily bars directly from the raw events, so the gate
    proves the partial-merge is LOSSLESS.  Value sums ride through the
    partials as exact integer cents (associative regardless of the
    grouping boundary)."""
    from ..functions.ohlc import merge_ohlc_bars, ohlc_bars

    e = t(spark, sf, "events")
    hourly = ohlc_bars(
        e,
        "1 hour",
        ts_col="ts",
        price_col="value",
        volume_col=None,
        by=("event_type",),
        extra_aggs=[
            F.sum(F.expr("cast(value * 100 + if(value < 0, -0.5, 0.5) as bigint)"))
            .alias("cents")
        ],
    )
    daily = merge_ohlc_bars(
        hourly, "1 day", by=("event_type",), sum_cols=("n_ticks", "cents")
    )
    return daily.select(
        "bar_start",
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
        (F.col("cents").cast("double") / 100.0).alias("value_sum"),
    )


@_q(
    "events_decile_stats",
    """
    WITH b AS (
      SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS decile
      FROM events
    )
    SELECT CAST(decile AS INT) AS decile,
      CAST(count(*) AS BIGINT) AS n,
      min(value) AS lo, max(value) AS hi
    FROM b GROUP BY decile
    """,
)
def events_decile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-frequency binning: exact deciles, computed PARALLEL.

    ``ntile() OVER (ORDER BY ...)`` would plan an Exchange
    SinglePartition — every row through one task.  Instead
    ``operators/ranking.py`` range-partitions on the sort key, ranks
    within each sorted partition (parallel windows), adds bounded
    driver-side offsets, and reproduces NTILE's bucket rule from the
    global rank — identical numbers (same DuckDB ntile oracle), no
    serial stage.  The approximate tier is approx_percentile edges
    (agg_approx_sketches demonstrates the sketch)."""
    from ..operators.ranking import ntile_expr, with_global_rank

    ev = t(spark, sf, "events").select("value", "event_id")
    n = ev.count()
    ranked = with_global_rank(ev, ["value", "event_id"], rank_col="__r")
    b = ranked.withColumn("decile", ntile_expr("__r", n, 10))
    return b.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count("*").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@_q(
    "events_gap_report",
    """
    WITH g AS (
      SELECT user_id, ts,
        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS next_ts
      FROM events
    )
    SELECT user_id, ts AS gap_start, next_ts AS gap_end,
      CAST((epoch_us(next_ts) - epoch_us(ts)) // 60000000 AS BIGINT)
        AS gap_minutes
    FROM g
    WHERE epoch_us(next_ts) - epoch_us(ts) > 3600000000
    """,
)
def events_gap_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality gap detection: per-user silences longer than an
    hour, with exact integer-microsecond arithmetic.  One window pass
    (single exchange on user_id) — the completeness audit every
    ingestion pipeline runs before trusting a feed."""
    ev = t(spark, sf, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(F.col(c))  # noqa: E731
    g = ev.withColumn("next_ts", F.lead("ts").over(w))
    return g.filter(
        us("next_ts") - us("ts") > 3_600_000_000
    ).select(
        "user_id",
        F.col("ts").alias("gap_start"),
        F.col("next_ts").alias("gap_end"),
        # integer `div`, not `/` + cast: float division then CAST
        # rounds in DuckDB but truncates in Spark — `//`/`div` agree
        F.expr("(unix_micros(next_ts) - unix_micros(ts)) div 60000000")
        .cast("bigint")
        .alias("gap_minutes"),
    )


@_q(
    "window_dist_kinds",
    """
    SELECT o_custkey, o_orderkey,
      round(cume_dist() OVER w, 6) AS cd,
      nth_value(o_orderkey, 2) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key,
      first_value(o_orderkey) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
      last_value(o_orderkey) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_dist_kinds(spark: SparkSession, sf: str) -> DataFrame:
    """The distribution/value window functions the rank suite doesn't
    cover: cume_dist, nth_value, first_value, last_value — each with
    an EXPLICIT rows frame (default frames differ subtly between
    engines; pinning the frame is what makes the oracle exact)."""
    orders = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 2).over(run).alias("second_key"),
        F.first("o_orderkey").over(run).alias("first_key"),
        F.last("o_orderkey").over(full).alias("last_key"),
    )


# --------------------------------------------------- time-grid fill
@_q(
    "events_gap_fill",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS tt, avg(value) AS obs
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT min(tt) AS lo, max(tt) AS hi FROM b
    ), grid AS (
      SELECT k.event_type, g.tt
      FROM (SELECT DISTINCT event_type FROM b) k,
           (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS tt
            FROM bounds) g
    )
    SELECT grid.event_type, grid.tt AS bucket_ts,
      round(last_value(b.obs IGNORE NULLS) OVER (
        PARTITION BY grid.event_type ORDER BY grid.tt), 6) AS value,
      b.obs IS NULL AS is_gap
    FROM grid LEFT JOIN b
      ON b.event_type = grid.event_type AND b.tt = grid.tt
    """,
)
def events_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly per-type grid with forward-filled gaps
    (functions/timeseries.py)."""
    filled = gap_fill(
        t(spark, sf, "events"), "event_type", "ts", "value", "1 hour"
    )
    return filled.select(
        "event_type",
        "bucket_ts",
        F.round("value", 6).alias("value"),
        "is_gap",
    )


# ------------------------------------------------- robust anomalies
@_q(
    "events_anomaly_mad",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), j AS (
      SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, median(abs(value - med)) AS mad
      FROM j GROUP BY 1
    ), s AS (
      SELECT j.event_id, j.event_type, j.value,
        (j.value - j.med) / (1.4826 * m2.mad) AS z
      FROM j JOIN mad m2 USING (event_type)
      WHERE m2.mad > 0
    )
    SELECT event_id, event_type, value, round(z, 6) AS robust_z
    FROM s ORDER BY abs(z) DESC, event_id LIMIT 50
    """,
)
def events_anomaly_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 outliers by robust z-score (median/MAD, the
    outlier-immune alternative to mean/stddev).  Exact medians at
    test scale; at 100 TB swap ``percentile`` → ``approx_percentile``
    (the plan shape — two tiny per-key aggregates broadcast back —
    is unchanged)."""
    ev = t(spark, sf, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    j = ev.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    return (
        j.join(F.broadcast(mad.filter(F.col("mad") > 0)), "event_type")
        .withColumn(
            "robust_z",
            (F.col("value") - F.col("med")) / (1.4826 * F.col("mad")),
        )
        .orderBy(F.abs("robust_z").desc(), "event_id")
        .limit(50)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("robust_z", 6).alias("robust_z"),
        )
    )


# -------------------------------------------- transition analytics
@_q(
    "events_transitions",
    """
    WITH p AS (
      SELECT event_type AS from_type,
        lead(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type, count(*) AS cnt,
      round(count(*) / (sum(count(*)) OVER (PARTITION BY from_type)), 6)
        AS prob
    FROM p WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def events_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Markov transition matrix of event types per user timeline —
    bigram counts and per-source probabilities.  One window pass over
    the log; the probability window runs over the |types|² transition
    table, not the events."""
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("cnt")
    )
    wt = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(wt), 6).alias("prob"),
    )


# --------------------------------------------- sweep-line concurrency


@_q(
    "events_concurrency",
    # oracle: the single-partition window formulation of the same
    # sweep — Spark runs the parallel two-phase prefix sum instead
    """
    WITH lagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
        sum(new_s) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS sid
      FROM lagged
    ), sess AS (
      SELECT user_id, sid, min(ts) AS st, max(ts) AS en
      FROM numbered GROUP BY user_id, sid
    ), deltas AS (
      SELECT st AS t, 0 AS kind, user_id, 1 AS delta FROM sess
      UNION ALL
      SELECT en, 1, user_id, -1 FROM sess
    ), runs AS (
      SELECT t, sum(delta) OVER (
        ORDER BY t, kind, user_id ROWS UNBOUNDED PRECEDING) AS c
      FROM deltas
    )
    SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
      CAST(max(c) AS BIGINT) AS max_concurrent
    FROM runs GROUP BY day
    """,
)
def events_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrent sessions per day, by sweep-line: session
    intervals (30-min gap rule) become +1/-1 deltas; the running sum
    over the global (t, kind, user) order is the concurrency curve.
    Closed-interval convention: starts sort before ends at the same
    instant.

    The global prefix sum is the parallel two-phase operator
    (operators/ranking.py global_running_sum) — no Exchange
    SinglePartition, unlike the naive window formulation the oracle
    uses."""
    from pyspark.sql import Window

    from ..operators.ranking import global_running_sum

    e = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = e.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
               > 1_800_000_000),
            1,
        ).otherwise(0),
    ).withColumn("sid", F.sum("new_s").over(wf))
    sess = numbered.groupBy("user_id", "sid").agg(
        F.min("ts").alias("st"), F.max("ts").alias("en")
    )
    deltas = sess.select(
        F.col("st").alias("t"), F.lit(0).alias("kind"),
        "user_id", F.lit(1).alias("delta"),
    ).unionByName(
        sess.select(
            F.col("en").alias("t"), F.lit(1).alias("kind"),
            "user_id", F.lit(-1).alias("delta"),
        )
    )
    runs = global_running_sum(
        deltas, ["t", "kind", "user_id"], "delta", sum_col="c"
    )
    return runs.groupBy(
        F.date_trunc("day", "t").alias("day")
    ).agg(F.max("c").cast("bigint").alias("max_concurrent"))


# ----------------------------------------------- rolling median


@_q(
    "window_rolling_median",
    """
    SELECT event_id, event_type, value,
      round(median(value) OVER (
        PARTITION BY event_type ORDER BY ts, event_id
        ROWS BETWEEN 99 PRECEDING AND CURRENT ROW), 6) AS med
    FROM events
    """,
)
def window_rolling_median(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling median (100-row trailing frame) per event type — the
    order-statistic window the moving-average family can't fake.
    Exact within the frame; both engines interpolate even-count
    medians identically (pinned by the hash match)."""
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, Window.currentRow)
    )
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("med"),
    )


# ------------------------------------------------------ active users
@_q(
    "events_active_users",
    """
    WITH d AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             user_id
      FROM events
    ), days AS (
      SELECT DISTINCT day FROM d
    ), dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM d GROUP BY 1
    ), wau AS (
      SELECT g.day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS wau
      FROM days g
      JOIN d ON d.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
      GROUP BY 1
    )
    SELECT day, dau.dau, wau.wau FROM dau JOIN wau USING (day)
    """,
)
def events_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """DAU + trailing-7-day WAU per observed day.  The oracle uses
    the textbook range join (days x distinct-pairs); the Spark plan
    is the scalable rewrite — each distinct (day, user) pair explodes
    to its <=7 future grid days (map-side, no inequality join), so
    everything downstream is equi-keyed hash aggregation.  A hash
    match certifies the rewrite."""
    e = t(spark, sf, "events")
    d = e.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    dau = d.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))

    # difference-array sweep (replaces the first cut's 7x grid-day
    # explode + (grid-day, user) re-aggregation — that shuffled
    # 7x|pairs| rows; measured 1.34 s vs 0.13 s DuckDB at x10): each
    # user's sorted active days become coverage deltas for the union
    # of their [day, day+6] windows — (+1 at the first day, -1 after
    # each >6-day gap closes, +1 where the next run starts, -1 after
    # the last).  Overlapping/adjacent windows cancel in the day
    # aggregation, so coverage is 0/1 per user by construction.
    # Shuffle: |pairs| into the per-user fold, then only O(#days)
    # delta rows onward.
    per_user = d.groupBy("user_id").agg(
        F.sort_array(F.collect_set("day")).alias("ds")
    )
    deltas_arr = F.expr(
        "concat("
        " array(named_struct('day', element_at(ds, 1), 'delta', 1),"
        "       named_struct('day', element_at(ds, -1) + INTERVAL 7 DAY,"
        "                    'delta', -1)),"
        " flatten(transform("
        "   CASE WHEN size(ds) >= 2 THEN sequence(1, size(ds) - 1)"
        "        ELSE CAST(array() AS ARRAY<INT>) END,"
        "   i -> CASE WHEN element_at(ds, i + 1) >"
        "                  element_at(ds, i) + INTERVAL 6 DAY"
        "        THEN array(named_struct('day',"
        "                     element_at(ds, i) + INTERVAL 7 DAY,"
        "                     'delta', -1),"
        "                   named_struct('day', element_at(ds, i + 1),"
        "                     'delta', 1))"
        "        ELSE CAST(array() AS"
        "          ARRAY<STRUCT<day: TIMESTAMP, delta: INT>>) END)))"
    )
    deltas = per_user.select(F.explode(deltas_arr).alias("x")).select(
        "x.day", "x.delta"
    )
    dsum = deltas.groupBy("day").agg(F.sum("delta").alias("dd"))
    # running coverage over the day grid (observed days ∪ delta
    # boundaries) — a single-partition window like the histogram-CDF
    # pattern: the grid is O(#calendar days), never O(|events|)
    grid = (
        dau.select("day")
        .unionByName(dsum.select("day"))
        .distinct()
        .join(dsum, "day", "left")
        .select("day", F.coalesce("dd", F.lit(0)).alias("dd"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wau = grid.select(
        "day", F.sum("dd").over(w).cast("bigint").alias("wau")
    )
    return dau.join(wau, "day").select("day", "dau", "wau")


# ------------------------------------------- linear-interpolated fill


@_q(
    "events_gap_fill_linear",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS tt, avg(value) AS obs
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT min(tt) AS lo, max(tt) AS hi FROM b
    ), grid AS (
      SELECT k.event_type, g.tt
      FROM (SELECT DISTINCT event_type FROM b) k,
           (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS tt
            FROM bounds) g
    ), dense AS (
      SELECT grid.event_type, grid.tt, b.obs,
        last_value(CASE WHEN b.obs IS NOT NULL
                        THEN {'t': grid.tt, 'v': b.obs} END IGNORE NULLS)
          OVER (PARTITION BY grid.event_type ORDER BY grid.tt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
        first_value(CASE WHEN b.obs IS NOT NULL
                         THEN {'t': grid.tt, 'v': b.obs} END IGNORE NULLS)
          OVER (PARTITION BY grid.event_type ORDER BY grid.tt
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM grid LEFT JOIN b
        ON b.event_type = grid.event_type AND b.tt = grid.tt
    )
    SELECT event_type, tt AS bucket_ts,
      round(CASE
        WHEN obs IS NOT NULL THEN obs
        WHEN prev IS NOT NULL AND nxt IS NOT NULL THEN
          prev.v + (nxt.v - prev.v) *
            ((epoch_us(tt) - epoch_us(prev.t)) /
             (epoch_us(nxt.t) - epoch_us(prev.t)))
      END, 6) AS value,
      obs IS NULL AS is_gap
    FROM dense
    """,
)
def events_gap_fill_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly per-type grid with interior gaps linearly interpolated
    (time-weighted between the surrounding observations); boundary
    gaps stay NULL (functions/timeseries.py gap_fill_linear)."""
    from ..functions.timeseries import gap_fill_linear

    filled = gap_fill_linear(
        t(spark, sf, "events"), "event_type", "ts", "value", "1 hour"
    )
    return filled.select(
        "event_type",
        "bucket_ts",
        F.round("value", 6).alias("value"),
        "is_gap",
    )


# ---------------------------------------------- seasonal profile
@_q(
    "events_seasonal_profile",
    # mean/stddev from exact scaled-integer sums: a plain avg() of
    # doubles depends on addition order, and at a .00005 rounding
    # boundary Spark's partial-agg sum and DuckDB's serial sum land
    # on opposite sides (observed at sf0.001)
    """
    WITH s AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hod,
        CAST(count(*) AS BIGINT) AS n,
        sum(CAST(round(value * 10000) AS BIGINT)) AS sq,
        sum(CAST(round(value * 10000) AS BIGINT)
            * CAST(round(value * 10000) AS BIGINT)) AS sqq
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hod, n,
      round(CAST(sq AS DOUBLE) / n) / 10000 AS mu,
      CASE WHEN n > 1 THEN
        round(sqrt((CAST(sqq AS DOUBLE)
                    - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
                   / (n - 1))) / 10000
      END AS sd
    FROM s
    """,
)
def events_seasonal_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type (the baseline
    table a seasonality-aware anomaly detector joins against —
    events_anomaly_mad is the season-blind robust twin).  One hash
    aggregation; output is |types| x 24 rows regardless of input
    volume.

    Mean/stddev accumulate value*1e4 as exact BIGINTs (fixture values
    carry <=4 decimals) so both moments are order-independent and
    engine-identical; the sum-of-squares fits bigint up to ~1e18 /
    (1e4*max|v|)^2 rows per group — at the 100-TB tier swap to
    Welford partials or decimal accumulation."""
    e = t(spark, sf, "events")
    q = F.round(F.col("value") * 10000).cast("bigint")
    s = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(q).alias("sq"),
        F.sum(q * q).alias("sqq"),
    )
    n, sq, sqq = F.col("n"), F.col("sq").cast("double"), F.col("sqq").cast("double")
    # round to INTEGER in the 1e4-scaled space, then divide back:
    # half-integers are exactly representable doubles, so both engines
    # round the identical value — whereas round(x, 4) on a double at a
    # .00005 boundary diverges (Spark rounds the shortest decimal
    # repr, DuckDB the binary value; observed at sf0.001)
    return s.select(
        "event_type",
        "hod",
        "n",
        (F.round(sq / n) / 10000).alias("mu"),
        F.when(
            n > 1, F.round(F.sqrt((sqq - sq * sq / n) / (n - 1))) / 10000
        ).alias("sd"),
    )


# ------------------------------------------- rolling correlation
_RCORR_SQL = """
    WITH q AS (
      SELECT event_id, event_type, ts,
             CAST(round(value * 10000) AS BIGINT) AS x,
             lag(CAST(round(value * 10000) AS BIGINT)) OVER
               (PARTITION BY event_type ORDER BY ts, event_id) AS y
      FROM events
    ), s AS (
      SELECT event_id, event_type, ts,
        count(y) OVER w AS n,
        sum(CASE WHEN y IS NOT NULL THEN x END) OVER w AS sx,
        sum(y) OVER w AS sy,
        sum(x * y) OVER w AS sxy,
        sum(CASE WHEN y IS NOT NULL THEN x * x END) OVER w AS sxx,
        sum(y * y) OVER w AS syy
      FROM q
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type,
      CASE WHEN n >= 2
        AND (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) > 0
        AND (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy) > 0
      THEN round(
        (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy) /
        (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) *
         sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 6)
      END AS corr20
    FROM s
"""


@_q("window_rolling_corr", _RCORR_SQL)
def window_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 20-row Pearson autocorrelation (value vs its lag) per
    event type — the rolling-moment window family beyond plain sums.
    All five moments accumulate 1e4-scaled BIGINTs over the rows
    frame, so every FP input is an identical exact integer on both
    engines and the final correlation (a fixed expression over those
    integers) is bit-identical before rounding.

    Scale shape: two window passes over the same (type, ts) sort —
    Catalyst computes lag and the five frame sums in ONE Window node
    each, no self-join, no shuffle beyond the partitionBy."""
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    q = F.expr(_HA.format(x="value", m=10000))
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = e.select(
        "event_id",
        "event_type",
        "ts",
        q.alias("x"),
        F.lag(q).over(wo).alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    y_ok = F.col("y").isNotNull()
    s = base.select(
        "event_id",
        "event_type",
        F.count("y").over(w).alias("n"),
        F.sum(F.when(y_ok, F.col("x"))).over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.when(y_ok, F.col("x") * F.col("x"))).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    vx = n * sxx - sx * F.col("sx")
    vy = n * syy - sy * F.col("sy")
    return s.select(
        "event_id",
        "event_type",
        F.when(
            (n >= 2) & (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * F.col("sy")) / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("corr20"),
    )


# --------------------------------------------------- EWMA window
#
# Exponentially weighted moving average with binary decay (alpha =
# 1/2) over a trailing 16-row frame.  Per-row weights 2^0..2^15 make
# every term an exact BIGINT (q <= 5e6 ≈ 2^23, max term 2^38, 16
# terms < 2^43), so the weighted sum is order-independent and the
# final double division is computed from identical integers on both
# engines.  The frame-ordered list is the weight carrier: collect
# over ROWS BETWEEN 15 PRECEDING AND CURRENT ROW preserves frame
# order in both Spark's collect_list and DuckDB's list().

_EWMA_SQL = """
    WITH q AS (
      SELECT event_id, event_type, ts,
             CAST(round(value * 10000) AS BIGINT) AS x
      FROM events
    ), l AS (
      SELECT event_id, event_type,
        list(x) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS xs
      FROM q
    )
    SELECT event_id, event_type,
      round(
        CAST(list_sum(list_transform(xs, (v, i) -> v * (1::BIGINT << (i - 1))))
             AS DOUBLE)
        / (((1::BIGINT << len(xs)) - 1) * 10000.0), 6) AS ewma
    FROM l
"""


@_q("window_ewma", _EWMA_SQL)
def window_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially weighted moving average (binary decay, trailing
    16 rows) per event type — the smoothing primitive of every
    monitoring/trading pipeline.  EWMA's recursive definition is not
    a plain frame sum; the rewrite carries the frame as an ordered
    list and folds position-dependent power-of-two weights over it —
    exact BIGINT arithmetic end-to-end (see module comment), one
    Window node, no self-join."""
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    q = F.expr(_HA.format(x="value", m=10000))
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, 0)
    )
    xs = F.collect_list(q).over(w)
    fold = (
        "aggregate(xs, named_struct('i', 0, 's', 0L), (st, v) -> "
        "named_struct('i', st.i + 1, 's', st.s + v * shiftleft(1L, st.i)), "
        "st -> st.s)"
    )
    return (
        e.select("event_id", "event_type", "ts", xs.alias("xs"))
        .select(
            "event_id",
            "event_type",
            F.round(
                F.expr(fold).cast("double")
                / ((F.expr("shiftleft(1L, size(xs))") - 1) * 10000.0),
                6,
            ).alias("ewma"),
        )
    )


# --------------------------------------------------- winsorization
@_q(
    "events_winsorize",
    """
    WITH b AS (
      SELECT event_type,
        quantile_cont(value, 0.01) AS lo,
        quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
      round(least(greatest(e.value, b.lo), b.hi), 4) AS clipped,
      (e.value < b.lo OR e.value > b.hi) AS was_clipped
    FROM events e JOIN b USING (event_type)
    """,
)
def events_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorization: clip each value into its type's [p1, p99] band
    — the standard outlier treatment before training-data statistics
    (a single wild sensor reading otherwise owns the mean).  Exact
    interpolated percentiles (the distributed-sort path; swap
    approx_percentile at the 100-TB tier, same shape) produce a
    |types|-row bound table that broadcasts back onto the scan —
    two passes over events, no window, no self-join."""
    e = t(spark, sf, "events")
    b = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    return e.join(F.broadcast(b), "event_type").select(
        "event_id",
        "event_type",
        F.round(F.least(F.greatest("value", F.col("lo")), F.col("hi")), 4).alias(
            "clipped"
        ),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "was_clipped"
        ),
    )


# ------------------------------------- cumulative distinct users


_CUME_SQL = """
    WITH d AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             user_id
      FROM events
    ), f AS (
      SELECT user_id, min(day) AS fd FROM d GROUP BY 1
    ), nu AS (
      SELECT fd AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM f GROUP BY 1
    ), days AS (
      SELECT DISTINCT day FROM d
    )
    SELECT days.day, coalesce(nu.new_users, 0) AS new_users,
      CAST(sum(coalesce(nu.new_users, 0)) OVER
             (ORDER BY days.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_users
    FROM days LEFT JOIN nu USING (day)
"""


@_q("events_cume_users", _CUME_SQL)
def events_cume_users(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative distinct users per day.  A naive running
    count(DISTINCT) window re-scans the pair table per day; the
    scalable rewrite aggregates each user to their FIRST day (one
    shuffle on user), so the cumulative curve is a plain running sum
    over the day table — |days| rows, single partition by design
    (bounded), everything upstream distributed."""
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    d = e.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    f = d.groupBy("user_id").agg(F.min("day").alias("fd"))
    nu = f.groupBy(F.col("fd").alias("day")).agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    days = d.select("day").distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    joined = days.join(nu, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    return joined.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


# ---------------------------------------------------- last-touch attribution
@_q(
    "events_attribution",
    """
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts <= p.ts
              AND c.ts >= p.ts - INTERVAL 7 DAY) AS click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def events_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the same
    user's most recent click within a 7-day lookback — the as-of-join
    composition (union + last-value window) applied WITHIN one event
    stream, the marketing-analytics twin of the tick-data as-of.
    Unmatched purchases keep a null click_ts.  The oracle is the
    correlated MAX form; Catalyst plans the composition as one
    user-partitioned window over the union — no correlated re-scan
    of events per purchase, which is the difference at 100 TB.
    Only the winning timestamp is projected, so same-ts click ties
    cannot produce nondeterminism."""
    from ..operators.asof_join import asof_join

    ev = t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases, clicks, on="ts", by="user_id", tolerance="7 days"
    )
    return out.select(
        "purchase_id", "user_id", F.col("ts").alias("purchase_ts"), "click_ts"
    )


# ---------------------------------------------------- A/B conversion lift


@_q(
    "events_ab_lift",
    """
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events
      GROUP BY user_id
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(sum(converted) AS DOUBLE) / count(*) AS conv_rate
    FROM per_user
    GROUP BY variant
    ORDER BY variant
    """,
)
def events_ab_lift(spark: SparkSession, sf: str) -> DataFrame:
    """A/B experiment readout: users deterministically assigned to a
    variant (id parity — in production, a salted hash), conversion =
    any purchase event; per-variant user counts, conversions, and
    conversion rate.  Two stacked aggregations (event->user,
    user->variant) — the first is the heavy one and is a map-side
    partial over the events scan; the variant rollup is 2 rows.
    Rates are exact-integer ratios, so the oracle compare is safe."""
    ev = t(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    return (
        per_user.withColumn("variant", (F.col("user_id") % 2).cast("int"))
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("converted").alias("n_converted"),
            (F.sum("converted").cast("double") / F.count("*")).alias(
                "conv_rate"
            ),
        )
        .orderBy("variant")
    )


# ------------------------------- event-sequence pattern matching (CEP)
@_q(
    "events_pattern_funnel",
    """
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS INT) AS n_events,
           CAST(len(regexp_extract_all(seq, 'vcp')) AS INT) AS funnels
    FROM seqs
    """,
)
def events_pattern_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Batch MATCH_RECOGNIZE twin: per-user event-type sequences as
    strings (one char per event — the five fixture types have
    distinct initials), then regex counting of the contiguous
    view->click->purchase funnel.  Leftmost non-overlapping match
    semantics are identical in Spark's regexp_count and DuckDB's
    regexp_extract_all, and the (ts, event_id) sort key is a total
    order, so the sequence strings are engine-identical.

    Scale shape: one hash aggregation keyed on user; the collected
    list is bounded by per-user event count (the CEP state bound any
    engine needs).  A 100-TB run would pre-partition the event log on
    user_id (bucketed layout) so the aggregation is exchange-free."""
    e = t(spark, sf, "events")
    seqs = e.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("ch"),
                        )
                    )
                ),
                lambda s: s.ch,
            ),
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("int").alias("n_events"),
        F.regexp_count("seq", F.lit("vcp")).cast("int").alias("funnels"),
    )


# ----------------------------------- time-weighted average (TWAP)
@_q(
    "events_twap",
    """
    WITH o AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(round(value * 10000) AS BIGINT) AS v,
             epoch_us(lead(ts) OVER (
               PARTITION BY event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)
               ORDER BY ts, event_id) ) - epoch_us(ts) AS dt
      FROM events
    ), m AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n_intervals,
             sum(CAST(v * dt AS DECIMAL(38,0))) AS num,
             sum(CAST(dt AS DECIMAL(38,0))) AS den
      FROM o WHERE dt IS NOT NULL
      GROUP BY event_type, day
    )
    SELECT event_type, day, n_intervals,
           round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) / 10000
             AS twap
    FROM m
    """,
)
def events_twap(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average value per (type, day) — the tick-data
    complement of VWAP: each observation is weighted by how long it
    remained the latest value (interval to the next event; the day's
    last observation carries no interval).  Numerator and denominator
    are exact integers (1e4-scaled value x microsecond interval,
    DECIMAL(38,0) sums), divided once and integer-space rounded —
    order-independent and engine-identical.  One window pass over
    (type, day) order, one hash aggregation; nothing touches the
    event log twice."""
    e = t(spark, sf, "events")
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    o = e.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.expr(_HA.format(x="value", m=10000)).alias("v"),
        "ts",
        "event_id",
    ).withColumn(
        "dt", F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
    )
    d38 = "decimal(38,0)"
    m = (
        o.filter(F.col("dt").isNotNull())
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum((F.col("v") * F.col("dt")).cast(d38)).alias("num"),
            F.sum(F.col("dt").cast(d38)).alias("den"),
        )
    )
    return m.select(
        "event_type",
        "day",
        F.col("n_intervals").cast("bigint").alias("n_intervals"),
        (
            F.round(F.col("num").cast("double") / F.col("den").cast("double"))
            / 10_000
        ).alias("twap"),
    )


# ------------------------------------------------ maximum drawdown


@_q(
    "window_drawdown",
    """
    WITH s AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 10000) AS BIGINT) AS v,
             max(CAST(round(value * 10000) AS BIGINT)) OVER (
               PARTITION BY event_type
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM events
    )
    SELECT event_type,
           max(peak - v) / 10000.0 AS max_drawdown,
           min(ts) FILTER (WHERE peak - v = (
             SELECT max(p2.peak - p2.v) FROM s p2
             WHERE p2.event_type = s.event_type)) AS trough_ts
    FROM s GROUP BY event_type
    """,
)
def window_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum drawdown per series (the classic tick/equity risk
    stat): running peak via an unbounded-preceding max window, then
    the largest peak-to-value drop and the FIRST timestamp it occurs
    (min-ts tie-break keeps the answer deterministic).  Values are
    exact 1e4-scaled integers, so peak - v and the final division are
    engine-identical.  One window pass + one aggregation; the
    trough timestamp comes from min_by-style conditional aggregation,
    not a re-scan."""
    e = t(spark, sf, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = e.select(
        "event_type",
        "ts",
        F.expr(_HA.format(x="value", m=10000)).alias("v"),
        "event_id",
    ).withColumn("peak", F.max("v").over(w))
    dd = s.withColumn("dd", F.col("peak") - F.col("v"))
    mx = dd.groupBy("event_type").agg(F.max("dd").alias("mdd"))
    return (
        dd.join(mx, "event_type")
        .groupBy("event_type")
        .agg(
            (F.max("mdd") / 10_000.0).alias("max_drawdown"),
            F.min(F.when(F.col("dd") == F.col("mdd"), F.col("ts"))).alias(
                "trough_ts"
            ),
        )
    )


# ------------------------------------------------------ RFM segmentation
_RFM_SQL = """
    WITH base AS (
      SELECT user_id,
        date_diff('day', max(ts),
                  (SELECT max(ts) FROM events)) AS recency_days,
        CAST(count(*) AS BIGINT) AS frequency,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_c
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT user_id,
        ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS r,
        ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f,
        ntile(5) OVER (ORDER BY monetary_c DESC, user_id ASC) AS m
      FROM base
    )
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
      CAST(count(*) AS BIGINT) AS users
    FROM scored GROUP BY r, f, m
    ORDER BY r, f, m
"""


@_q("events_rfm", _RFM_SQL)
def events_rfm(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation of
    the user base, reported as segment sizes.  Every ranking rides a
    TOTAL order (metric + user_id tie-break), so bin assignment is
    engine-identical; monetary sums are PER-ROW integer cents (the
    associative engine-exact convention shared with events_daily_ohlc
    — a post-sum round would depend on partial-agg addition order).

    Scale shape: one agg keyed on user_id, then three GLOBAL rankings
    over the USER table (not the event log).  A literal
    ``ntile(5) OVER (ORDER BY …)`` — the oracle's form — plans as
    Exchange SinglePartition, the canonical scale killer at 1B+
    users; here each ranking is operators.ranking.with_global_rank
    (range-partition + parallel partition-local windows + bounded
    per-partition offsets) and ``ntile_expr`` reproduces SQL NTILE's
    bucket arithmetic from the exact global rank, so the driver hash
    matches the ntile oracle with no single-partition exchange
    (pinned by tests/test_plan_shapes.py)."""
    from ..operators.ranking import ntile_expr, with_global_rank

    ev = t(spark, sf, "events")
    max_ts = ev.agg(F.max("ts").alias("gmax"))
    base = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("umax"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.expr(_HA.format(x="value", m=100))).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(max_ts))
        .select(
            "user_id",
            F.datediff(F.to_date("gmax"), F.to_date("umax")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary_c",
        )
        # with_global_rank orders ascending: negate the two DESC
        # metrics (bigint negation is exact) so every leg is ASC with
        # the same user_id tie-break the oracle uses
        .withColumn("neg_f", -F.col("frequency"))
        .withColumn("neg_m", -F.col("monetary_c"))
    ).persist()
    n = base.count()  # bounded: one long per job, needed by NTILE arithmetic
    ranked = with_global_rank(base, ["recency_days", "user_id"], "rk_r")
    ranked = with_global_rank(ranked, ["neg_f", "user_id"], "rk_f")
    ranked = with_global_rank(ranked, ["neg_m", "user_id"], "rk_m")
    scored = ranked.select(
        ntile_expr("rk_r", n, 5).alias("r"),
        ntile_expr("rk_f", n, 5).alias("f"),
        ntile_expr("rk_m", n, 5).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count("*").cast("bigint").alias("users"))
        .orderBy("r", "f", "m")
    )


# ------------------------------------------- user activity streaks
_STREAK_SQL = """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE ts IS NOT NULL
    ), g AS (
      SELECT user_id, day,
        date_diff('day', DATE '2024-01-01', day)
          - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM d
    ), s AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
      CAST(max(len) AS BIGINT) AS max_streak,
      CAST(count(*) AS BIGINT) AS n_streaks,
      CAST(sum(len) AS BIGINT) AS active_days
    FROM s GROUP BY user_id
"""


@_q("events_user_streaks", _STREAK_SQL)
def events_user_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern: distinct active days, island key =
    epoch_day - row_number() (constant within a run of consecutive
    days), then count per island and max per user.

    Scale shape: the distinct, the window, and both aggregations are
    all keyed by user_id — one hash partitioning carries the whole
    plan; no global window, no single-partition exchange
    (operators/streaks.py, Hypothesis-pinned against a pure-Python
    reference in tests/test_round7_properties.py)."""
    from ..operators.streaks import user_streaks

    return user_streaks(t(spark, sf, "events"), "user_id", "ts")


# ------------------------------------------- CUSUM change-point scan

_CUSUM_SQL = """
    WITH v AS (
      SELECT event_type, ts, event_id,
        CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL
    ), m AS (
      SELECT event_type, SUM(c) // COUNT(*) AS mu
      FROM v GROUP BY event_type
    ), cu AS (
      SELECT v.event_type,
        SUM(v.c - m.mu) OVER (
          PARTITION BY v.event_type ORDER BY v.ts, v.event_id
          ROWS UNBOUNDED PRECEDING) AS cusum
      FROM v JOIN m ON v.event_type = m.event_type
    )
    SELECT event_type,
      CAST(max(cusum) AS BIGINT) AS max_cusum,
      CAST(min(cusum) AS BIGINT) AS min_cusum,
      CAST(count(*) AS BIGINT) AS n
    FROM cu GROUP BY event_type
"""


@_q("window_cusum_changepoint", _CUSUM_SQL)
def window_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM drift detector per event-type series: cumulative sum of
    (value − series mean) in integer cents; the max/min excursion is
    the change-point statistic.  The mean is an INTEGER (floor of
    sum/count) so the running sum — and therefore the extrema — are
    exact in both engines; per-row cents use the half-adjust cast
    (round() on DOUBLE is a per-row BigDecimal in Spark — see
    plans/fastmoney.py).

    Scale shape: a time-ordered scan per series is the operator's
    semantics, so the window is keyed by event_type (the parallel
    unit, same posture as window_drawdown); the per-type means are a
    tiny broadcast."""
    v = (
        t(spark, sf, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            "ts",
            "event_id",
            F.expr(_HA.format(x="value", m=100)).alias("c"),
        )
    )
    m = v.groupBy("event_type").agg(
        F.expr("SUM(c) div COUNT(*)").alias("mu")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cu = v.join(F.broadcast(m), "event_type").select(
        "event_type",
        F.sum(F.col("c") - F.col("mu")).over(w).alias("cusum"),
    )
    return cu.groupBy("event_type").agg(
        F.max("cusum").cast("bigint").alias("max_cusum"),
        F.min("cusum").cast("bigint").alias("min_cusum"),
        F.count("*").cast("bigint").alias("n"),
    )


# ------------------------------------------- cohort lifetime value
_LTV_SQL = """
    WITH ue AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS m,
        CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL
    ), co AS (
      SELECT user_id, min(m) AS cohort FROM ue GROUP BY user_id
    ), sz AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
      FROM co GROUP BY cohort
    ), rev AS (
      SELECT co.cohort,
        date_diff('day', co.cohort, ue.m) // 7 AS age,
        SUM(ue.c) AS rev_c
      FROM ue JOIN co USING (user_id) GROUP BY 1, 2
    )
    SELECT r.cohort, CAST(r.age AS BIGINT) AS age, sz.n_users,
      CAST(SUM(r.rev_c) OVER (
        PARTITION BY r.cohort ORDER BY r.age) AS BIGINT) AS cum_rev_c,
      CAST(SUM(r.rev_c) OVER (PARTITION BY r.cohort ORDER BY r.age)
           // sz.n_users AS BIGINT) AS ltv_c_per_user
    FROM rev r JOIN sz ON r.cohort = sz.cohort
"""


@_q("events_cohort_ltv", _LTV_SQL)
def events_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime value: users grouped by first-activity month,
    cumulative revenue per cohort age in integer cents, and LTV per
    user (floor division — exact in both engines).  The companion of
    events_cohort_retention with money instead of presence.

    Scale shape: two user-keyed aggregations (first month, monthly
    revenue) that share one hash partitioning, then a window over the
    cohort×age frame — post-aggregation, provably ≤ months² rows."""
    ue = (
        t(spark, sf, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.to_date(F.date_trunc("week", "ts")).alias("m"),
            F.expr(_HA.format(x="value", m=100)).alias("c"),
        )
    )
    co = ue.groupBy("user_id").agg(F.min("m").alias("cohort"))
    sz = co.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    rev = (
        ue.join(co, "user_id")
        .groupBy(
            "cohort",
            (
                F.datediff(F.to_date("m"), F.to_date("cohort")) / 7
            ).cast("int").alias("age"),
        )
        .agg(F.sum("c").alias("rev_c"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(F.broadcast(sz), "cohort")
        .withColumn("cum_rev_c", F.sum("rev_c").over(w).cast("bigint"))
        .select(
            "cohort",
            F.col("age").cast("bigint").alias("age"),
            "n_users",
            "cum_rev_c",
            F.expr("cum_rev_c div n_users").cast("bigint").alias(
                "ltv_c_per_user"
            ),
        )
    )


# ------------------------------------------- revenue concentration

_PARETO_SQL = """
    WITH u AS (
      SELECT user_id,
        SUM(CAST(round(value * 100) AS BIGINT)) AS rev_c
      FROM events GROUP BY user_id
    ), r AS (
      SELECT user_id, rev_c,
        row_number() OVER (ORDER BY rev_c DESC, user_id ASC) AS rk
      FROM u
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, SUM(rev_c) AS total FROM u
    )
    SELECT b.pct,
      CAST((tot.n * b.pct + 99) // 100 AS BIGINT) AS k_users,
      CAST(SUM(CASE WHEN r.rk <= (tot.n * b.pct + 99) // 100
               THEN r.rev_c ELSE 0 END) * 1000000 // tot.total
           AS BIGINT) AS share_ppm
    FROM r, tot, (VALUES (1), (10), (50)) AS b(pct)
    GROUP BY b.pct, tot.n, tot.total
"""


@_q("events_power_users_pareto", _PARETO_SQL)
def events_power_users_pareto(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue concentration curve: the share of total revenue (ppm)
    held by the top 1 / 10 / 50 % of users — the whale-detection
    summary every monetization dashboard opens with.  Per-row integer
    cents (associative, engine-exact), ceil-divided bucket sizes.

    Scale shape: the user rollup is one keyed aggregation; the global
    ordering uses operators/ranking.with_global_rank (range partition
    + parallel windows + driver offsets — NO Exchange SinglePartition,
    the same machinery events_rfm uses); the scalar totals broadcast;
    the final frame is 3 rows."""
    from ..operators.ranking import with_global_rank

    u = t(spark, sf, "events").groupBy("user_id").agg(
        F.sum(F.expr(_HA.format(x="value", m=100))).alias("rev_c")
    )
    ranked = with_global_rank(
        u.withColumn("nrev", -F.col("rev_c")),
        ["nrev", "user_id"],
        rank_col="rk",
    )
    tot = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev_c").alias("total"),
    )
    pct = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(10), F.lit(50))).alias("pct")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pct))
        .groupBy("pct", "n", "total")
        .agg(
            F.sum(
                F.when(
                    F.col("rk") <= F.expr("(n * pct + 99) div 100"),
                    F.col("rev_c"),
                ).otherwise(F.lit(0))
            ).alias("top_rev")
        )
        .select(
            "pct",
            F.expr("(n * pct + 99) div 100").cast("bigint").alias(
                "k_users"
            ),
            F.expr("top_rev * 1000000 div total")
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


# ------------------------------------------- day-of-week heatmap
_HEAT_SQL = """
    SELECT CAST(isodow(ts) AS INT) AS dow,
      CAST(hour(ts) AS INT) AS hr,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_c
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
"""


@_q("events_dow_hour_heatmap", _HEAT_SQL)
def events_dow_hour_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """Activity heatmap: event count and integer-cents revenue per
    (ISO day-of-week, hour-of-day) cell — the standard temporal
    density matrix behind ops dashboards.  ISO numbering via Spark's
    ``weekday()+1`` (Monday=1) matches DuckDB's ``isodow``.

    Scale shape: one map-side-combinable aggregation into ≤168
    cells — the partial-aggregate shuffle is bytes, not data."""
    e = t(spark, sf, "events").filter(F.col("ts").isNotNull())
    return e.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.expr(_HA.format(x="value", m=100)))
        .cast("bigint")
        .alias("rev_c"),
    )


# ------------------------------------------- funnel conversion latency

_FLAT_SQL = """
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, v.t0, min(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0
      GROUP BY e.user_id, v.t0
    ), p AS (
      SELECT e.user_id, c.t1, min(e.ts) AS t2
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      GROUP BY e.user_id, c.t1
    ), lat AS (
      SELECT 'view_to_click' AS stage,
        epoch_us(t1) - epoch_us(t0) AS us FROM c
      UNION ALL
      SELECT 'click_to_purchase' AS stage,
        epoch_us(t2) - epoch_us(t1) AS us FROM p
    )
    SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
      CAST(min(us) AS BIGINT) AS min_us,
      round(quantile_cont(us, 0.25), 6) AS p25_us,
      round(quantile_cont(us, 0.50), 6) AS p50_us,
      round(quantile_cont(us, 0.75), 6) AS p75_us,
      CAST(max(us) AS BIGINT) AS max_us,
      CAST(SUM(us) // count(*) AS BIGINT) AS mean_us_floor
    FROM lat GROUP BY stage
"""


@_q("events_funnel_latency", _FLAT_SQL)
def events_funnel_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert distribution between funnel stages: for the
    view→click→purchase funnel of events_funnel, the per-stage latency
    (first qualifying next-stage event after the previous stage) as
    exact min/quartiles/max in integer microseconds plus a
    floor-division mean.  events_funnel reports WHO converts; this is
    the HOW-FAST companion every growth dashboard pairs with it.

    Scale shape: stage frames are user-keyed min-aggregations chained
    by equi-joins (one hash partitioning); the quartiles use the exact
    `percentile` aggregate — per-group buffered, the right call at
    dashboard row counts; at billions of conversions swap in
    percentile_approx (the agg_approx_quantiles tier) with the same
    frame."""
    e = t(spark, sf, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t1"), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    us = lambda a, b: (F.expr(f"unix_micros({a})") - F.expr(f"unix_micros({b})"))  # noqa: E731
    lat = c.select(
        F.lit("view_to_click").alias("stage"), us("t1", "t0").alias("us")
    ).unionByName(
        p.select(
            F.lit("click_to_purchase").alias("stage"),
            us("t2", "t1").alias("us"),
        )
    )
    return lat.groupBy("stage").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.min("us").cast("bigint").alias("min_us"),
        F.round(F.expr("percentile(us, 0.25)"), 6).alias("p25_us"),
        F.round(F.expr("percentile(us, 0.50)"), 6).alias("p50_us"),
        F.round(F.expr("percentile(us, 0.75)"), 6).alias("p75_us"),
        F.max("us").cast("bigint").alias("max_us"),
        F.expr("SUM(us) div count(*)").cast("bigint").alias(
            "mean_us_floor"
        ),
    )


# ----------------------------------------------------- top user paths
_PATHS_SQL = """
    WITH r AS (
      SELECT user_id, event_type,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
      FROM events
    ), p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS users
    FROM p GROUP BY path
    ORDER BY users DESC, path LIMIT 10
"""


@_q("events_top_paths", _PATHS_SQL)
def events_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 three-step user journeys: each user's first three events
    (by ts, tie-broken by event_id) joined into an ordered path
    string, counted across users — the classic path-mining /
    Sankey-source query.  Ordering inside the path is made
    deterministic on BOTH engines by sorting on the row number
    (sort_array of (rn, type) structs here, ``ORDER BY rn`` inside
    string_agg in the oracle) — never a bare collect_list.

    Scale shape: the row-number window and the path aggregation are
    both keyed by user_id (one exchange, reused by the groupBy under
    AQE); path counting is a map-side-combinable groupBy over short
    strings; only the top-10 tail is a global sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = (
        t(spark, sf, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .where("rn <= 3")
    )
    p = r.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        p.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("users"))
        .orderBy(F.desc("users"), "path")
        .limit(10)
    )


# ------------------------------------------------------- sliding WAU

_WAU_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL
    ), days AS (
      SELECT DISTINCT day FROM du
    ), contrib AS (
      SELECT CAST(du.day + (i * INTERVAL 1 DAY) AS DATE) AS t, du.user_id
      FROM du CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i)
    ), wau AS (
      SELECT c.t AS day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
      FROM contrib c JOIN days d ON d.day = c.t
      GROUP BY c.t
    ), dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
    )
    SELECT w.day, d.dau, w.wau,
      CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
    FROM wau w JOIN dau d USING (day)
    ORDER BY w.day
"""


@_q("events_wau_sliding", _WAU_SQL)
def events_wau_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """7-day rolling weekly-active-users per calendar day, with the
    DAU/WAU stickiness ratio in integer ppm.  A sliding COUNT
    DISTINCT cannot ride a window frame (distinct is not mergeable
    across frame slides).  This plan uses the INTERVAL SWEEP: a user
    counts toward WAU(t) iff t lies in some [day, day+6] coverage
    interval of their activity days, so per user the activity days
    merge into maximal coverage intervals (consecutive actives ≤6
    days apart fuse — one lag + one running-sum window per user, no
    fan-out), each interval emits +1 at its start and -1 the day
    after it ends, and WAU(t) is the prefix sum of the per-day delta
    totals.  Replaces the explode-7-offsets contribution shape
    (700M rows through a per-day distinct at x1000) with a keyed
    window over the deduped (user, day) pairs: measured 43.0 s →
    8.7 s at x1000 (exact-equality checked).

    Scale shape: one distinct over (day, user) (map-side
    combinable), one user_id-keyed window pass (the lag and the
    running interval-group sum share a single sort; the groupBy
    (user_id, grp) reuses the same hash partitioning — no second
    shuffle), boundary deltas collapse map-side to ≤|days|+7 rows,
    and the final prefix sum rides that tiny series (documented
    SinglePartition bound, same class as events_active_users).
    Never a per-day range self-join, which at 100 TB would be
    |days| × |events| nested-loop."""
    du = (
        t(spark, sf, "events")
        .where(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("day")
    iv = (
        du.withColumn(
            "new_iv",
            F.when(F.datediff("day", F.lag("day").over(wu)) > 6, 1).otherwise(0),
        )
        .withColumn(
            "grp",
            F.sum("new_iv").over(
                wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "grp")
        .agg(F.min("day").alias("s"), F.max("day").alias("e"))
    )
    days = du.select("day").distinct()
    deltas = (
        iv.select(F.col("s").alias("day"), F.lit(1).alias("d"))
        .unionAll(
            iv.select(F.date_add("e", 7).alias("day"), F.lit(-1).alias("d"))
        )
        .unionAll(days.select("day", F.lit(0).alias("d")))
        .groupBy("day")
        .agg(F.sum("d").alias("d"))
    )
    ws = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wau = deltas.withColumn("wau", F.sum("d").over(ws).cast("bigint")).drop("d")
    dau = du.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    return (
        wau.join(dau, "day")  # inner join keeps only observed days
        .select(
            "day",
            "dau",
            "wau",
            F.expr("dau * 1000000 div wau")
            .cast("bigint")
            .alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


# --------------------------------------------------- Bollinger bands

_BOLL_SQL = """
    WITH daily AS (
      SELECT o_orderdate AS day,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          // 100000 AS rev_k
      FROM orders GROUP BY o_orderdate
    ), m AS (
      SELECT day, rev_k,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(rev_k) OVER w AS BIGINT) AS s1,
        CAST(sum(rev_k * rev_k) OVER w AS BIGINT) AS s2
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, rev_k,
      CAST(round((CAST(s1 AS DOUBLE) / n) * 1000) AS BIGINT) AS mean_milli,
      CAST(round(sqrt((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE)
        * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * n * (n - 1)))
        * 1000) AS BIGINT) AS sd_milli,
      CAST(rev_k AS DOUBLE) * n > CAST(s1 AS DOUBLE)
        + 2 * n * sqrt((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE)
        * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * n * (n - 1)))
        AS breach_hi,
      CAST(rev_k AS DOUBLE) * n < CAST(s1 AS DOUBLE)
        - 2 * n * sqrt((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE)
        * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * n * (n - 1)))
        AS breach_lo
    FROM m WHERE n = 7 ORDER BY day
"""


@_q("window_bollinger_bands", _BOLL_SQL)
def window_bollinger_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Bollinger bands over the daily revenue series: rolling 7-day
    mean ± 2 sample standard deviations with band-breach flags.  A
    rolling stddev over DOUBLEs is accumulation-order-dependent
    (engines slide frames differently), so the window carries EXACT
    integer moments instead — daily revenue in thousand-dollar units
    (cents // 100000: at x1000 a day sums ~10¹⁰ dollars, whose SQUARE
    overflows 2⁶³ in dollars — caught by the x1000 probe — but is
    ~10¹⁴·7 in k$²), with n/Σx/Σx² exact BIGINTs — and every engine derives
    mean, σ, and the breach comparisons from those identical
    integers with correctly-rounded double arithmetic.  Breach tests
    are cross-multiplied (rev·n vs s1 ± 2n·σ) so no division feeds a
    comparison.

    Scale shape: one map-side-combinable groupBy to the per-day
    series, then a single window over the ~|days| aggregated rows —
    the only unbounded-input work is the first aggregation."""
    from .daily_bars import daily_revenue_kusd

    daily = daily_revenue_kusd(spark, sf)
    w = Window.orderBy("day").rowsBetween(-6, 0)
    m = daily.select(
        "day",
        "rev_k",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("rev_k").over(w).cast("bigint").alias("s1"),
        F.sum(F.expr("rev_k * rev_k")).over(w).cast("bigint").alias("s2"),
    )
    var = (
        "(CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * n * (n - 1))"
    )
    mean_milli = _HA.format(x="CAST(s1 AS DOUBLE) / n", m="1000")
    sd_milli = _HA.format(x=f"sqrt({var})", m="1000")
    return (
        m.where("n = 7")
        .select(
            "day",
            "rev_k",
            F.expr(mean_milli).alias("mean_milli"),
            F.expr(sd_milli).alias("sd_milli"),
            F.expr(
                "CAST(rev_k AS DOUBLE) * n >"
                f" CAST(s1 AS DOUBLE) + 2 * n * sqrt({var})"
            ).alias("breach_hi"),
            F.expr(
                "CAST(rev_k AS DOUBLE) * n <"
                f" CAST(s1 AS DOUBLE) - 2 * n * sqrt({var})"
            ).alias("breach_lo"),
        )
        .orderBy("day")
    )


# ------------------------------------------------------- Cutler RSI
_RSI_SQL = """
    WITH daily AS (
      SELECT o_orderdate AS day,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          // 100000 AS rev_k
      FROM orders GROUP BY o_orderdate
    ), chg AS (
      SELECT day, rev_k, rev_k - lag(rev_k) OVER (ORDER BY day) AS d
      FROM daily
    ), gl AS (
      SELECT day, rev_k,
        CASE WHEN d > 0 THEN d ELSE 0 END AS gain,
        CASE WHEN d < 0 THEN -d ELSE 0 END AS loss
      FROM chg WHERE d IS NOT NULL
    ), m AS (
      SELECT day, rev_k,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(gain) OVER w AS BIGINT) AS sum_gain,
        CAST(sum(loss) OVER w AS BIGINT) AS sum_loss
      FROM gl
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT day, rev_k, sum_gain, sum_loss,
      CAST(CASE WHEN sum_gain + sum_loss = 0 THEN 500000
           ELSE sum_gain * 1000000 // (sum_gain + sum_loss) END AS BIGINT)
        AS rsi_ppm,
      sum_gain * 10 > (sum_gain + sum_loss) * 7 AS overbought,
      sum_gain * 10 < (sum_gain + sum_loss) * 3 AS oversold
    FROM m WHERE n = 14 ORDER BY day
"""


@_q("window_rsi_cutler", _RSI_SQL)
def window_rsi_cutler(spark: SparkSession, sf: str) -> DataFrame:
    """Cutler's 14-day RSI over the daily revenue series, with
    70/30 overbought/oversold flags.  Cutler's simple-moving-sum
    variant (not Wilder's recursive EWMA) keeps the whole indicator
    inside a window frame — RSI = Σgain / (Σgain + Σloss) is an
    exact integer ratio, emitted in ppm, and the threshold flags are
    cross-multiplied so no division feeds a comparison.

    Scale shape: one map-side-combinable groupBy to the ~|days|
    daily series; the lag + rolling-sum windows ride that
    aggregated series (documented SinglePartition bound in
    scripts/plan_audit.py, same class as window_bollinger_bands)."""
    from .daily_bars import daily_revenue_kusd

    daily = daily_revenue_kusd(spark, sf)
    chg = daily.withColumn(
        "d", F.col("rev_k") - F.lag("rev_k").over(Window.orderBy("day"))
    ).where("d IS NOT NULL")
    gl = chg.select(
        "day",
        "rev_k",
        F.expr("CASE WHEN d > 0 THEN d ELSE 0 END").alias("gain"),
        F.expr("CASE WHEN d < 0 THEN -d ELSE 0 END").alias("loss"),
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    m = gl.select(
        "day",
        "rev_k",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("gain").over(w).cast("bigint").alias("sum_gain"),
        F.sum("loss").over(w).cast("bigint").alias("sum_loss"),
    )
    return (
        m.where("n = 14")
        .select(
            "day",
            "rev_k",
            "sum_gain",
            "sum_loss",
            F.expr(
                "CAST(CASE WHEN sum_gain + sum_loss = 0 THEN 500000"
                " ELSE sum_gain * 1000000 div (sum_gain + sum_loss) END"
                " AS BIGINT)"
            ).alias("rsi_ppm"),
            F.expr("sum_gain * 10 > (sum_gain + sum_loss) * 7").alias(
                "overbought"
            ),
            F.expr("sum_gain * 10 < (sum_gain + sum_loss) * 3").alias(
                "oversold"
            ),
        )
        .orderBy("day")
    )


# -------------------------------------------------------- ATR bands

_ATR_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), pc AS (
      SELECT *, lag(cl) OVER (PARTITION BY event_type ORDER BY day)
        AS prev_cl
      FROM px
    ), tr AS (
      SELECT event_type, day, cl,
        greatest(hi - lo, abs(hi - prev_cl), abs(lo - prev_cl)) AS tr
      FROM pc WHERE prev_cl IS NOT NULL
    ), m AS (
      SELECT event_type, day, cl,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(tr) OVER w AS BIGINT) AS st
      FROM tr
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, cl AS close_cents, st // n AS atr_cents,
      cl + 2 * (st // n) AS upper_cents, cl - 2 * (st // n) AS lower_cents
    FROM m WHERE n = 14 ORDER BY event_type, day
"""


@_q("window_atr_bands", _ATR_SQL)
def window_atr_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Average-true-range channel per event-type price series:
    per-day close ± 2·ATR(14), everything in exact integer cents.
    True range needs the previous close (gap-aware), so the lag and
    the rolling sum ride the per-(type, day) aggregate; ATR uses the
    simple 14-day mean (window-expressible; Wilder's smoothing is
    recursive).  tr ≥ 0 always, so floor-vs-truncate integer
    division cannot diverge between engines.

    Scale shape: one map-side-combinable groupBy to |types|·|days|
    rows, then windows PARTITIONED BY event_type over that tiny
    aggregate — no global exchange; the per-day OHLC pass is the
    only unbounded-input work (same shape as events_daily_ohlc,
    relational.py)."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf)
    wt = Window.partitionBy("event_type").orderBy("day")
    pc = px.withColumn("prev_cl", F.lag("cl").over(wt))
    tr = pc.where("prev_cl IS NOT NULL").select(
        "event_type",
        "day",
        "cl",
        F.expr(
            "greatest(hi - lo, abs(hi - prev_cl), abs(lo - prev_cl))"
        ).alias("tr"),
    )
    m = tr.select(
        "event_type",
        "day",
        "cl",
        F.count("*").over(wt.rowsBetween(-13, 0)).cast("bigint").alias("n"),
        F.sum("tr").over(wt.rowsBetween(-13, 0)).cast("bigint").alias("st"),
    )
    return (
        m.where("n = 14")
        .select(
            "event_type",
            "day",
            F.col("cl").alias("close_cents"),
            F.expr("st div n").alias("atr_cents"),
            F.expr("cl + 2 * (st div n)").alias("upper_cents"),
            F.expr("cl - 2 * (st div n)").alias("lower_cents"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------------------- CUPED lift
_CUPED_SQL = """
    WITH base AS (
      SELECT user_id, event_type, ts,
        CAST(round(value) AS BIGINT) AS dollars
      FROM events WHERE ts IS NOT NULL
    ), pu AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
        CAST(sum(CASE WHEN event_type = 'purchase'
              AND ts < TIMESTAMP '2024-01-16' THEN dollars ELSE 0 END)
          AS BIGINT) AS x,
        CAST(sum(CASE WHEN event_type = 'purchase'
              AND ts >= TIMESTAMP '2024-01-16' THEN dollars ELSE 0 END)
          AS BIGINT) AS y
      FROM base GROUP BY user_id
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pu
    ), v AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y
      FROM pu GROUP BY variant
    )
    SELECT variant, n_users, sum_x, sum_y,
      CAST(sum_y AS DOUBLE) / n_users AS raw_mean_y,
      CASE WHEN CAST(sxx AS DOUBLE) / n
             - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) = 0
        THEN CAST(sum_y AS DOUBLE) / n_users
        ELSE CAST(sum_y AS DOUBLE) / n_users
          - ((CAST(sxy AS DOUBLE) / n
              - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
             / (CAST(sxx AS DOUBLE) / n
              - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)))
            * (CAST(sum_x AS DOUBLE) / n_users - CAST(sx AS DOUBLE) / n)
      END AS adj_mean_y
    FROM v CROSS JOIN g ORDER BY variant
"""


@_q("events_ab_cuped", _CUPED_SQL)
def events_ab_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED-adjusted A/B revenue readout: covariate x = pre-period
    purchase dollars (days 1-15), outcome y = post-period purchase
    dollars, theta = cov(x,y)/var(x) from whole-population exact
    integer moments, adjusted mean per variant = mean(y_v) -
    theta·(mean(x_v) - mean(x)).  Moments are normalized per-n
    BEFORE multiplying — the textbook n·Σxy - Σx·Σy cross products
    of whole-table sums overflow 2⁶³ at x1000 — and the double
    expression tree is verbatim-identical in both engines, so the
    two emitted means are bit-identical.

    Scale shape: one groupBy(user) over the events scan (the heavy
    pass, map-side combinable), then a 2-row variant rollup and a
    1-row global-moment agg joined by broadcast (documented BNLJ
    bound, same class as events_ab_lift's totals)."""
    base = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL")
        .select(
            "user_id",
            "event_type",
            "ts",
            F.expr(_HA.format(x="value", m="1")).alias("dollars"),
        )
    )
    pu = base.groupBy("user_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN event_type = 'purchase'"
                " AND ts < TIMESTAMP '2024-01-16' THEN dollars ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.expr(
                "CASE WHEN event_type = 'purchase'"
                " AND ts >= TIMESTAMP '2024-01-16' THEN dollars ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("y"),
    )
    pu = pu.withColumn("variant", F.expr("CAST(user_id % 2 AS INT)"))
    g = pu.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    v = pu.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    theta = (
        "((CAST(sxy AS DOUBLE) / n"
        " - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))"
        " / (CAST(sxx AS DOUBLE) / n"
        " - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)))"
    )
    return (
        v.crossJoin(F.broadcast(g))
        .select(
            "variant",
            "n_users",
            "sum_x",
            "sum_y",
            F.expr("CAST(sum_y AS DOUBLE) / n_users").alias("raw_mean_y"),
            F.expr(
                "CASE WHEN CAST(sxx AS DOUBLE) / n"
                " - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) = 0"
                " THEN CAST(sum_y AS DOUBLE) / n_users"
                " ELSE CAST(sum_y AS DOUBLE) / n_users"
                f" - {theta}"
                " * (CAST(sum_x AS DOUBLE) / n_users"
                " - CAST(sx AS DOUBLE) / n)"
                " END"
            ).alias("adj_mean_y"),
        )
        .orderBy("variant")
    )


# --------------------------------------------- seasonal-naive backtest

_SNAIVE_SQL = """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(count(*) AS BIGINT) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT a.event_type,
      CAST(count(*) AS BIGINT) AS n_days,
      CAST(sum(abs(a.n - f.n)) AS BIGINT) AS sum_abs_err,
      CAST(sum(a.n - f.n) AS BIGINT) AS bias,
      CAST(sum(abs(a.n - f.n)) * 1000000 // sum(a.n) AS BIGINT) AS wape_ppm
    FROM d a JOIN d f
      ON f.event_type = a.event_type AND f.day = a.day - 7
    GROUP BY a.event_type ORDER BY a.event_type
"""


@_q("events_forecast_snaive", _SNAIVE_SQL)
def events_forecast_snaive(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive forecast backtest: forecast(type, day) =
    actual(type, day-7), scored with WAPE (Σ|err| / Σactual in ppm)
    and signed bias per event type — the baseline every real
    forecasting model must beat, and the denominator convention
    (weighted, not per-day MAPE) is what makes it integer-exact.

    Scale shape: forecast-vs-actual is an equality self-join ON THE
    PER-DAY AGGREGATE (|types|·|days| rows — broadcast-sized at any
    event count), never a lag window or self-join over raw events;
    the only unbounded-input work is the one map-side-combinable
    groupBy."""
    d = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    a = d.alias("a")
    f_ = d.alias("f")
    return (
        a.join(
            f_,
            (F.expr("f.event_type = a.event_type"))
            & (F.expr("f.day = date_sub(a.day, 7)")),
        )
        .groupBy(F.expr("a.event_type").alias("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum(F.expr("abs(a.n - f.n)")).cast("bigint").alias("sum_abs_err"),
            F.sum(F.expr("a.n - f.n")).cast("bigint").alias("bias"),
            F.expr(
                "CAST(sum(abs(a.n - f.n)) * 1000000 div sum(a.n) AS BIGINT)"
            ).alias("wape_ppm"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- stochastic oscillator
_STOCH_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), k AS (
      SELECT event_type, day, cl,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(max(hi) OVER w AS BIGINT) AS hh,
        CAST(min(lo) OVER w AS BIGINT) AS ll
      FROM px
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), kv AS (
      SELECT event_type, day, cl, hh, ll,
        CAST(CASE WHEN hh = ll THEN 500000
             ELSE (cl - ll) * 1000000 // (hh - ll) END AS BIGINT) AS k_ppm
      FROM k WHERE n = 14
    ), d AS (
      SELECT *, CAST(count(*) OVER w3 AS BIGINT) AS nk,
        CAST(sum(k_ppm) OVER w3 AS BIGINT) AS sk
      FROM kv
      WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, cl AS close_cents, k_ppm,
      CAST(sk // 3 AS BIGINT) AS d_ppm,
      k_ppm > 800000 AS overbought, k_ppm < 200000 AS oversold
    FROM d WHERE nk = 3 ORDER BY event_type, day
"""


@_q("window_stochastic_osc", _STOCH_SQL)
def window_stochastic_osc(spark: SparkSession, sf: str) -> DataFrame:
    """Stochastic oscillator per event-type price series: 14-day raw
    %K = (close − low₁₄) / (high₁₄ − low₁₄) and the 3-day simple-mean
    %D, both exact integer ppm; 80/20 overbought/oversold flags on
    %K.  The SMA smoothing (not an EWMA) keeps %D window-expressible;
    a flat 14-day range pins %K to the 500000 midpoint.

    Scale shape: one map-side-combinable per-(type, day) OHLC groupBy
    over the events scan; both window passes ride the |types|·|days|
    aggregate partitioned by event_type — same class as
    window_atr_bands."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf)
    wt = Window.partitionBy("event_type").orderBy("day")
    w14 = wt.rowsBetween(-13, 0)
    kv = (
        px.select(
            "event_type",
            "day",
            "cl",
            F.count("*").over(w14).cast("bigint").alias("n"),
            F.max("hi").over(w14).cast("bigint").alias("hh"),
            F.min("lo").over(w14).cast("bigint").alias("ll"),
        )
        .where("n = 14")
        .withColumn(
            "k_ppm",
            F.expr(
                "CAST(CASE WHEN hh = ll THEN 500000"
                " ELSE (cl - ll) * 1000000 div (hh - ll) END AS BIGINT)"
            ),
        )
    )
    w3 = wt.rowsBetween(-2, 0)
    return (
        kv.select(
            "event_type",
            "day",
            F.col("cl").alias("close_cents"),
            "k_ppm",
            F.count("*").over(w3).cast("bigint").alias("nk"),
            F.sum("k_ppm").over(w3).cast("bigint").alias("sk"),
        )
        .where("nk = 3")
        .select(
            "event_type",
            "day",
            "close_cents",
            "k_ppm",
            F.expr("sk div 3").cast("bigint").alias("d_ppm"),
            F.expr("k_ppm > 800000").alias("overbought"),
            F.expr("k_ppm < 200000").alias("oversold"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------- Donchian channels

_DONCHIAN_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), ch AS (
      SELECT event_type, day, cl,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(max(hi) OVER w AS BIGINT) AS upper_cents,
        CAST(min(lo) OVER w AS BIGINT) AS lower_cents
      FROM px
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), full_ch AS (
      SELECT event_type, day, cl, upper_cents, lower_cents,
        lag(upper_cents) OVER wt AS prev_upper,
        lag(lower_cents) OVER wt AS prev_lower,
        lag(n) OVER wt AS prev_n
      FROM ch WHERE n = 20
      WINDOW wt AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, cl AS close_cents, upper_cents, lower_cents,
      CAST((upper_cents + lower_cents) // 2 AS BIGINT) AS mid_cents,
      cl > prev_upper AS breakout_up, cl < prev_lower AS breakout_down
    FROM full_ch WHERE prev_n IS NOT NULL
    ORDER BY event_type, day
"""


@_q("window_donchian_channels", _DONCHIAN_SQL)
def window_donchian_channels(spark: SparkSession, sf: str) -> DataFrame:
    """Donchian 20-day channel per event-type price series in exact
    cents, with turtle-style breakout flags: close above/below the
    PRIOR day's full-window channel (the lag runs over rows that
    already have 20 days of history, so a breakout never compares
    against a partially-filled channel).  Midline is the floor of the
    channel mean — cents are positive, so truncating and flooring
    division agree.

    Scale shape: identical to window_stochastic_osc — one heavy
    per-(type, day) OHLC pass, then event_type-partitioned windows
    over the tiny aggregate."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf)
    wt = Window.partitionBy("event_type").orderBy("day")
    w20 = wt.rowsBetween(-19, 0)
    ch = px.select(
        "event_type",
        "day",
        "cl",
        F.count("*").over(w20).cast("bigint").alias("n"),
        F.max("hi").over(w20).cast("bigint").alias("upper_cents"),
        F.min("lo").over(w20).cast("bigint").alias("lower_cents"),
    ).where("n = 20")
    full_ch = ch.select(
        "event_type",
        "day",
        "cl",
        "upper_cents",
        "lower_cents",
        F.lag("upper_cents").over(wt).alias("prev_upper"),
        F.lag("lower_cents").over(wt).alias("prev_lower"),
        F.lag("n").over(wt).alias("prev_n"),
    )
    return (
        full_ch.where("prev_n IS NOT NULL")
        .select(
            "event_type",
            "day",
            F.col("cl").alias("close_cents"),
            "upper_cents",
            "lower_cents",
            F.expr("(upper_cents + lower_cents) div 2")
            .cast("bigint")
            .alias("mid_cents"),
            F.expr("cl > prev_upper").alias("breakout_up"),
            F.expr("cl < prev_lower").alias("breakout_down"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------- A/B sample-ratio check
_SRM_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL
    ), daily AS (
      SELECT day,
        CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS n_a,
        CAST(count(*) FILTER (user_id % 2 = 1) AS BIGINT) AS n_b
      FROM du GROUP BY day
      UNION ALL
      SELECT DATE '1900-01-01',
        CAST(count(DISTINCT user_id) FILTER (user_id % 2 = 0) AS BIGINT),
        CAST(count(DISTINCT user_id) FILTER (user_id % 2 = 1) AS BIGINT)
      FROM du
    )
    SELECT day, n_a, n_b,
      CAST((n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) AS BIGINT)
        AS chi2_milli,
      (n_a - n_b) * (n_a - n_b) * 1000 > 3841 * (n_a + n_b) AS srm
    FROM daily WHERE n_a + n_b > 0 ORDER BY day
"""


@_q("events_ab_srm_check", _SRM_SQL)
def events_ab_srm_check(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the id-parity experiment of
    events_ab_lift: per-exposure-day distinct-user
    counts per variant, the equal-split χ² = (nₐ−n_b)²/(nₐ+n_b) in
    exact milli-units, and the p<0.05 flag cross-multiplied against
    the 3.841 critical value — the check every A/B readout must pass
    before its lift number is believed.  A 1900-01-01 marker row
    carries the whole-experiment distinct-user SRM (not the sum of
    dailies — a user active on k days is one exposure, k day-rows).

    Scale shape: ONE aggregation chain — collect_set(day) per user
    (map-side-combinable; |users| groups, sets bounded by the date
    span), then each user's day set unfolds with a per-user
    (1900-01-01) marker twin appended, so a single per-day rollup
    yields both the daily exposure counts AND the whole-experiment
    distinct-user row (every user contributes the marker exactly
    once).  The pre-r07 formulation unioned two independent
    subtrees, each rescanning and re-distincting the 100M-event
    table; x1000 decomposition: union
    7.1 s / marker-twin-into-distinct 7.1 s / persist+two-rollups
    9.2 s / this per-user-set chain 5.6 s, against a measured
    irreducible 100M→40M-pair dedup stream (HISTORY.md "SRM distinct
    floor").  All
    integer arithmetic, no float χ² crosses the engine boundary."""
    per_user = (
        t(spark, sf, "events")
        .where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.collect_set(F.to_date("ts")).alias("days"))
    )
    fan = per_user.select(
        "user_id",
        F.explode(
            F.concat("days", F.array(F.lit("1900-01-01").cast("date")))
        ).alias("day"),
    )
    daily = fan.groupBy("day").agg(
        F.count_if(F.expr("user_id % 2 = 0")).cast("bigint").alias("n_a"),
        F.count_if(F.expr("user_id % 2 = 1")).cast("bigint").alias("n_b"),
    )
    return (
        daily.where("n_a + n_b > 0")
        .select(
            "day",
            "n_a",
            "n_b",
            F.expr(
                "CAST((n_a - n_b) * (n_a - n_b) * 1000 div (n_a + n_b)"
                " AS BIGINT)"
            ).alias("chi2_milli"),
            F.expr(
                "(n_a - n_b) * (n_a - n_b) * 1000 > 3841 * (n_a + n_b)"
            ).alias("srm"),
        )
        .orderBy("day")
    )


# ------------------------------------------------ floor-trader pivots
_PIVOT_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), pv AS (
      SELECT event_type, day, cl,
        lag(hi) OVER w AS ph, lag(lo) OVER w AS pl, lag(cl) OVER w AS pc
      FROM px WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, cl AS close_cents,
      CAST((ph + pl + pc) // 3 AS BIGINT) AS pivot_cents,
      CAST(2 * ((ph + pl + pc) // 3) - pl AS BIGINT) AS r1_cents,
      CAST(2 * ((ph + pl + pc) // 3) - ph AS BIGINT) AS s1_cents,
      CAST((ph + pl + pc) // 3 + (ph - pl) AS BIGINT) AS r2_cents,
      CAST((ph + pl + pc) // 3 - (ph - pl) AS BIGINT) AS s2_cents
    FROM pv WHERE ph IS NOT NULL ORDER BY event_type, day
"""


@_q("window_pivot_points", _PIVOT_SQL)
def window_pivot_points(spark: SparkSession, sf: str) -> DataFrame:
    """Classic floor-trader pivot levels per event-type series: pivot
    = (prevH + prevL + prevC) / 3 from the PRIOR day's bar, with
    R1/S1 (reflections through the pivot) and R2/S2 (range
    extensions) — the intraday support/resistance scaffold, all in
    exact integer cents (prices are positive, so the single floored
    /3 agrees across engines; every other level is ± arithmetic).

    Scale shape: one map-side-combinable per-(type, day) OHLC pass,
    then a single lag window over the |types|·|days| aggregate —
    same class as window_atr_bands."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf)
    wt = Window.partitionBy("event_type").orderBy("day")
    pv = px.select(
        "event_type",
        "day",
        "cl",
        F.lag("hi").over(wt).alias("ph"),
        F.lag("lo").over(wt).alias("pl"),
        F.lag("cl").over(wt).alias("pc"),
    )
    return (
        pv.where("ph IS NOT NULL")
        .select(
            "event_type",
            "day",
            F.col("cl").alias("close_cents"),
            F.expr("CAST((ph + pl + pc) div 3 AS BIGINT)").alias(
                "pivot_cents"
            ),
            F.expr(
                "CAST(2 * ((ph + pl + pc) div 3) - pl AS BIGINT)"
            ).alias("r1_cents"),
            F.expr(
                "CAST(2 * ((ph + pl + pc) div 3) - ph AS BIGINT)"
            ).alias("s1_cents"),
            F.expr(
                "CAST((ph + pl + pc) div 3 + (ph - pl) AS BIGINT)"
            ).alias("r2_cents"),
            F.expr(
                "CAST((ph + pl + pc) div 3 - (ph - pl) AS BIGINT)"
            ).alias("s2_cents"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------- diff-in-diff
_DID_SQL = """
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS variant,
        CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
             THEN 'pre' ELSE 'post' END AS period,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
        AND event_type = 'purchase'
      GROUP BY variant, period
    ), m AS (
      SELECT variant, period, n, cents,
        CAST(cents * 1000 // n AS BIGINT) AS mean_mc
      FROM cells
    )
    SELECT * FROM m
    UNION ALL
    SELECT CAST(-1 AS BIGINT), 'did', CAST(sum(n) AS BIGINT),
      CAST(sum(cents) AS BIGINT),
      CAST((max(CASE WHEN variant = 1 AND period = 'post' THEN mean_mc END)
          - max(CASE WHEN variant = 1 AND period = 'pre' THEN mean_mc END))
         - (max(CASE WHEN variant = 0 AND period = 'post' THEN mean_mc END)
          - max(CASE WHEN variant = 0 AND period = 'pre' THEN mean_mc END))
        AS BIGINT)
    FROM m
    ORDER BY variant, period
"""


@_q("events_diff_in_diff", _DID_SQL)
def events_diff_in_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences readout on the id-parity experiment
    (events_ab_lift): purchase-value means per
    (variant, period) cell split at 2024-01-16, in floored
    milli-cents, and a variant = −1 summary row whose mean_mc column
    carries DiD = (treat_post − treat_pre) − (control_post −
    control_pre) — the causal-lift estimate when pre-period trends
    differ.  Each cell mean is floored BEFORE the differencing (both
    engines do the identical floor, so the hash compare is exact;
    the ≤4 lost milli-cent fractions are below any decision
    threshold).

    Scale shape: one map-side-combinable 4-group aggregate over the
    filtered events scan; the DiD pivot rides the 4-row frame."""
    cells = (
        t(spark, sf, "events")
        .where(
            "ts IS NOT NULL AND value IS NOT NULL"
            " AND event_type = 'purchase'"
        )
        .groupBy(
            F.expr("CAST(user_id % 2 AS BIGINT)").alias("variant"),
            F.expr(
                "CASE WHEN to_date(ts) < DATE '2024-01-16'"
                " THEN 'pre' ELSE 'post' END"
            ).alias("period"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.expr(_HA.format(x="value", m="100")))
            .cast("bigint")
            .alias("cents"),
        )
        .withColumn("mean_mc", F.expr("CAST(cents * 1000 div n AS BIGINT)"))
    )
    summary = cells.agg(
        F.lit(-1).cast("bigint").alias("variant"),
        F.lit("did").alias("period"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
        F.expr(
            "CAST((max(CASE WHEN variant = 1 AND period = 'post'"
            " THEN mean_mc END)"
            " - max(CASE WHEN variant = 1 AND period = 'pre'"
            " THEN mean_mc END))"
            " - (max(CASE WHEN variant = 0 AND period = 'post'"
            " THEN mean_mc END)"
            " - max(CASE WHEN variant = 0 AND period = 'pre'"
            " THEN mean_mc END)) AS BIGINT)"
        ).alias("mean_mc"),
    )
    return cells.unionByName(summary).orderBy("variant", "period")


# ------------------------------------------------- Aroon indicator
_AROON_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo
      FROM base GROUP BY event_type, day
    ), rn AS (
      SELECT event_type, day, hi, lo,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
          AS BIGINT) AS r
      FROM px
    ), wm AS (
      SELECT event_type, day, r,
        CAST(count(*) OVER w AS BIGINT) AS n,
        max(hi * 100000 + r) OVER w AS pmax,
        min(lo * 100000 + (99999 - r)) OVER w AS pmin
      FROM rn
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
      CAST((25 - (r - ((pmax % 100000) + 100000) % 100000)) * 4
        AS BIGINT) AS aroon_up,
      CAST((25 - (r - (99999 - ((pmin % 100000) + 100000) % 100000))) * 4
        AS BIGINT) AS aroon_down,
      CAST(((25 - (r - ((pmax % 100000) + 100000) % 100000))
          - (25 - (r - (99999 - ((pmin % 100000) + 100000) % 100000)))) * 4
        AS BIGINT) AS aroon_osc
    FROM wm WHERE n = 25
    ORDER BY event_type, day
"""


@_q("window_aroon", _AROON_SQL)
def window_aroon(spark: SparkSession, sf: str) -> DataFrame:
    """25-day Aroon indicator per event-type price series:
    aroon_up = (25 - days_since_25d_high) · 4, aroon_down likewise on
    the low, oscillator = up - down — all exact integers.  The argmax
    day inside the rolling window comes from PACKED BIGINT extrema —
    ``max(hi·1e5 + rownum)`` (ties resolve to the most recent bar)
    and ``min(lo·1e5 + (99999 - rownum))`` for the argmin — instead
    of an arg_max window (which Spark lacks over frames); the
    double-mod ``((x % 1e5) + 1e5) % 1e5`` unpack is sign-safe and
    engine-identical.  rownum < 1e5 bounds the packing (calendar days
    — ~2.4k even at x1000).

    Scale shape: the indicator family's standard two stages — one
    map-side-combinable per-(type, day) extrema pass over the fact
    scan, then type-partitioned windows over the tiny bar frame
    (daily_ohlc_bars supplies hi/lo; close is unused here)."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf).select("event_type", "day", "hi", "lo")
    wt = Window.partitionBy("event_type").orderBy("day")
    w25 = wt.rowsBetween(-24, 0)
    wm = px.select(
        "event_type",
        "day",
        F.row_number().over(wt).cast("bigint").alias("r"),
        "hi",
        "lo",
    ).select(
        "event_type",
        "day",
        "r",
        F.count("*").over(w25).cast("bigint").alias("n"),
        F.max(F.expr("hi * 100000 + r")).over(w25).alias("pmax"),
        F.min(F.expr("lo * 100000 + (99999 - r)")).over(w25).alias("pmin"),
    )
    up = "(25 - (r - ((pmax % 100000) + 100000) % 100000))"
    dn = "(25 - (r - (99999 - ((pmin % 100000) + 100000) % 100000)))"
    return (
        wm.where("n = 25")
        .select(
            "event_type",
            "day",
            F.expr(f"CAST({up} * 4 AS BIGINT)").alias("aroon_up"),
            F.expr(f"CAST({dn} * 4 AS BIGINT)").alias("aroon_down"),
            F.expr(f"CAST(({up} - {dn}) * 4 AS BIGINT)").alias("aroon_osc"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------- on-balance volume

_OBV_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl,
        CAST(count(*) AS BIGINT) AS vol
      FROM base GROUP BY event_type, day
    ), ch AS (
      SELECT event_type, day, cl, vol,
        cl - lag(cl) OVER (PARTITION BY event_type ORDER BY day) AS d
      FROM px
    )
    SELECT event_type, day, cl AS close_cents, vol,
      CAST(sum(CASE WHEN d > 0 THEN vol WHEN d < 0 THEN -vol
                    ELSE 0 END)
        OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS BIGINT) AS obv
    FROM ch ORDER BY event_type, day
"""


@_q("window_obv_daily", _OBV_SQL)
def window_obv_daily(spark: SparkSession, sf: str) -> DataFrame:
    """On-balance volume per event-type series: daily volume (tick
    count) added on close-up days, subtracted on close-down days,
    accumulated — the classic volume-confirmation indicator, exact
    integers end to end (the sign comes from a CASE, not ``sign()``,
    which returns DOUBLE in both engines).  The first day of each
    series contributes 0 (NULL diff).

    Scale shape: one per-(type, day) close+count aggregate over the
    fact scan (volume rides the same pass as the close — no second
    scan), then a type-partitioned running sum over the bar frame."""
    ev = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL AND value IS NOT NULL")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            F.expr(_HA.format(x="value", m="100")).alias("cents"),
        )
    )
    px = ev.groupBy("event_type", "day").agg(
        F.expr("max_by(cents, ts)").cast("bigint").alias("cl"),
        F.count("*").cast("bigint").alias("vol"),
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    ch = px.select(
        "event_type", "day", "cl", "vol",
        (F.col("cl") - F.lag("cl").over(wt)).alias("d"),
    )
    return ch.select(
        "event_type",
        "day",
        F.col("cl").alias("close_cents"),
        "vol",
        F.sum(
            F.expr("CASE WHEN d > 0 THEN vol WHEN d < 0 THEN -vol ELSE 0 END")
        )
        .over(wt.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("obv"),
    ).orderBy("event_type", "day")


# ------------------------------------------- hourly burst detection

_BURST_SQL = """
    WITH hr AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
        CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, hour_ts
    ), wm AS (
      SELECT event_type, hour_ts, c,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(c) OVER w AS BIGINT) AS s,
        CAST(sum(c * c) OVER w AS BIGINT) AS s2
      FROM hr
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_ts, c,
      CAST(s * 1000 // 24 AS BIGINT) AS mean_milli,
      (24 * c - s) * (24 * c - s) > 9 * (24 * s2 - s * s)
        AND 24 * c > s AS is_burst
    FROM wm WHERE n = 24
    ORDER BY event_type, hour_ts
"""


@_q("events_burst_hours", _BURST_SQL)
def events_burst_hours(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly burst detection per event type: an hour is a burst when
    its count exceeds the trailing-24-observed-hours mean by more
    than 3 sigma AND is above the mean — evaluated entirely in
    integer space by cross-multiplying the z-test,
    (24c - s)^2 > 9·(24·s2 - s^2), so no engine float variance ever
    touches the flag boundary.  The trailing frame EXCLUDES the
    current hour (24 PRECEDING .. 1 PRECEDING): a burst must not
    inflate its own baseline.

    Scale shape: one map-side-combinable (type, hour) count over the
    fact scan, then type-partitioned windows over ~|types|·|hours|
    rows."""
    hr = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL")
        .groupBy(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour_ts"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-24, -1)
    )
    wm = hr.select(
        "event_type", "hour_ts", "c",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("c").over(w).cast("bigint").alias("s"),
        F.sum(F.expr("c * c")).over(w).cast("bigint").alias("s2"),
    )
    return (
        wm.where("n = 24")
        .select(
            "event_type",
            "hour_ts",
            "c",
            F.expr("CAST(s * 1000 div 24 AS BIGINT)").alias("mean_milli"),
            F.expr(
                "(24 * c - s) * (24 * c - s) > 9 * (24 * s2 - s * s)"
                " AND 24 * c > s"
            ).alias("is_burst"),
        )
        .orderBy("event_type", "hour_ts")
    )


# ------------------------------------------------ Ichimoku cloud
_ICHI_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), mids AS (
      SELECT event_type, day, cl,
        CAST(count(*) OVER w16 AS BIGINT) AS n16,
        (max(hi) OVER w4 + min(lo) OVER w4) // 2 AS tenkan,
        (max(hi) OVER w8 + min(lo) OVER w8) // 2 AS kijun,
        (max(hi) OVER w16 + min(lo) OVER w16) // 2 AS mid16
      FROM px
      WINDOW
        w4 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        w8 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
        w16 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
    ), sh AS (
      SELECT event_type, day, cl, n16, tenkan, kijun,
        lag((tenkan + kijun) // 2, 8) OVER wt AS senkou_a,
        lag(mid16, 8) OVER wt AS senkou_b,
        lag(n16, 8) OVER wt AS lag_n16,
        lead(cl, 8) OVER wt AS chikou
      FROM mids
      WINDOW wt AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, CAST(cl AS BIGINT) AS close_cents,
      CAST(tenkan AS BIGINT) AS tenkan,
      CAST(kijun AS BIGINT) AS kijun,
      CAST(senkou_a AS BIGINT) AS senkou_a,
      CAST(senkou_b AS BIGINT) AS senkou_b,
      CAST(chikou AS BIGINT) AS chikou,
      cl > greatest(senkou_a, senkou_b) AS above_cloud
    FROM sh WHERE n16 = 16 AND lag_n16 = 16
    ORDER BY event_type, day
"""


@_q("window_ichimoku", _ICHI_SQL)
def window_ichimoku(spark: SparkSession, sf: str) -> DataFrame:
    """Ichimoku cloud per event-type series in exact cents, with the
    classic 1:2:4 window ratio scaled to the ~30-day fixture span:
    tenkan (4-day midpoint), kijun (8-day), senkou A/B (the cloud —
    displaced 8 days forward, so today's cloud is lag(8) of the
    midpoint series), chikou (close displaced 8 back = lead(8),
    NULL near the series tail by definition), and the above-cloud
    flag.  The production parameters are the textbook 9/26/52 with
    26-day displacement — same plan shape, different frame bounds.
    Midpoints are (max+min) div 2 on positive cents — floor and
    trunc agree.  Rows require BOTH a full 16-day window today and a
    full window at the displaced origin (lag_n16 = 16): no
    partially-warmed cloud ever flags a signal.

    Scale shape: the indicator-family standard — one per-(type, day)
    OHLC reduction (shared daily_ohlc_bars builder), then three
    frame windows + one lag/lead pass, all partitioned by event_type
    over the tiny bar series."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf)
    wt = Window.partitionBy("event_type").orderBy("day")
    w16 = wt.rowsBetween(-15, 0)
    mids = px.select(
        "event_type",
        "day",
        "cl",
        F.count("*").over(w16).cast("bigint").alias("n16"),
        F.expr("(%s + %s) div 2"
               % ("max(hi) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
                  "min(lo) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)")).alias("tenkan"),
        F.expr("(%s + %s) div 2"
               % ("max(hi) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)",
                  "min(lo) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)")).alias("kijun"),
        F.expr("(%s + %s) div 2"
               % ("max(hi) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)",
                  "min(lo) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)")).alias("mid16"),
    )
    sh = mids.select(
        "event_type",
        "day",
        "cl",
        "n16",
        "tenkan",
        "kijun",
        F.lag(F.expr("(tenkan + kijun) div 2"), 8).over(wt).alias("senkou_a"),
        F.lag("mid16", 8).over(wt).alias("senkou_b"),
        F.lag("n16", 8).over(wt).alias("lag_n16"),
        F.lead("cl", 8).over(wt).alias("chikou"),
    )
    return (
        sh.where("n16 = 16 AND lag_n16 = 16")
        .select(
            "event_type",
            "day",
            F.col("cl").cast("bigint").alias("close_cents"),
            F.col("tenkan").cast("bigint"),
            F.col("kijun").cast("bigint"),
            F.col("senkou_a").cast("bigint"),
            F.col("senkou_b").cast("bigint"),
            F.col("chikou").cast("bigint"),
            F.expr("cl > greatest(senkou_a, senkou_b)").alias("above_cloud"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------ user-concentration HHI
_HHI_SQL = """
    WITH per AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_users,
      CAST(sum(c) AS BIGINT) AS n_events,
      CAST(sum(c * c) * 1000000 // (sum(c) * sum(c)) AS BIGINT)
        AS hhi_ppm,
      CAST((sum(c) * sum(c)) // sum(c * c) AS BIGINT)
        AS effective_users
    FROM per GROUP BY event_type ORDER BY event_type
"""


@_q("events_user_hhi", _HHI_SQL)
def events_user_hhi(spark: SparkSession, sf: str) -> DataFrame:
    """User-concentration Herfindahl index per event type:
    HHI = Σ share² in exact ppm via cross-multiplication
    (Σc²·10⁶ div (Σc)²) plus the inverse-Simpson effective user count
    ((Σc)² div Σc²) — the audience-concentration twin of
    text_source_diversity: an HHI near 10⁶ means one user IS the
    signal (and that type's per-user windows will skew).

    Scale shape: one map-side-combinable (type, user) count, then a
    |types|-row rollup of integer moments — no window, no join.
    BIGINT bound: Σc² ≤ Σc·max(c) ≈ 10¹² at x1000, ×10⁶ stays under
    2⁶³."""
    per = t(spark, sf, "events").groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("c").cast("bigint").alias("n_events"),
            F.sum(F.expr("c * c")).cast("bigint").alias("s2"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            F.expr(
                "CAST(s2 * 1000000 div (n_events * n_events) AS BIGINT)"
            ).alias("hhi_ppm"),
            F.expr(
                "CAST((n_events * n_events) div s2 AS BIGINT)"
            ).alias("effective_users"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- week-over-week deltas

_WOW_SQL = """
    WITH wk AS (
      SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week_start,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY event_type, week_start
    ), d AS (
      SELECT event_type, week_start, n_events, rev_c,
        lag(n_events) OVER w AS pn, lag(rev_c) OVER w AS pr
      FROM wk WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
    )
    SELECT event_type, week_start, n_events, rev_c,
      CASE WHEN pn > 0
        THEN CAST((n_events - pn) * 1000000 // pn AS BIGINT) END
        AS events_wow_ppm,
      CASE WHEN pr > 0
        THEN CAST((rev_c - pr) * 1000000 // pr AS BIGINT) END
        AS rev_wow_ppm
    FROM d WHERE pn IS NOT NULL
    ORDER BY event_type, week_start
"""


@_q("events_kpi_wow_delta", _WOW_SQL)
def events_kpi_wow_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Week-over-week KPI deltas per event type: weekly event counts
    and exact-cents revenue with the WoW change in integer ppm
    (NULL-guarded when the prior week's base is 0 — a ratio against
    nothing is not a number; negative deltas keep exact floor
    semantics on a positive divisor).  date_trunc('week') is
    Monday-anchored in both engines.

    Scale shape: one map-side-combinable (type, week) rollup over the
    fact scan, then a type-partitioned lag over ≤|types|·|weeks|
    rows."""
    wk = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL AND value IS NOT NULL")
        .groupBy(
            "event_type",
            F.to_date(F.date_trunc("week", "ts")).alias("week_start")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.expr(_HA.format(x="value", m="100")))
            .cast("bigint")
            .alias("rev_c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("week_start")
    d = wk.select(
        "*",
        F.lag("n_events").over(w).alias("pn"),
        F.lag("rev_c").over(w).alias("pr"),
    )
    return (
        d.where("pn IS NOT NULL")
        .select(
            "event_type",
            "week_start",
            "n_events",
            "rev_c",
            F.expr(
                "CASE WHEN pn > 0 THEN CAST((n_events - pn) * 1000000"
                " div pn AS BIGINT) END"
            ).alias("events_wow_ppm"),
            F.expr(
                "CASE WHEN pr > 0 THEN CAST((rev_c - pr) * 1000000"
                " div pr AS BIGINT) END"
            ).alias("rev_wow_ppm"),
        )
        .orderBy("event_type", "week_start")
    )


# ----------------------------------------- commodity channel index
_CCI_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), tp AS (
      SELECT event_type, day,
        (hi + lo + cl) * 1000 // 3 AS tp_m
      FROM px
    ), wm AS (
      SELECT event_type, day, tp_m,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(tp_m) OVER w AS BIGINT) AS s,
        array_agg(tp_m) OVER w AS xs
      FROM tp
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), dev AS (
      SELECT event_type, day, tp_m, n, s,
        list_sum(list_transform(xs, x -> abs(x * n - s))) AS md
      FROM wm WHERE n = 20
    )
    SELECT event_type, day, tp_m,
      CASE WHEN md > 0
        THEN CAST((tp_m * n - s) * n * 1000000 // (15 * md) AS BIGINT)
      END AS cci_milli
    FROM dev ORDER BY event_type, day
"""


@_q("window_cci", _CCI_SQL)
def window_cci(spark: SparkSession, sf: str) -> DataFrame:
    """20-day Commodity Channel Index per event-type series, exact to
    the milli: CCI = (tp − SMA) / (0.015 · meanAbsDev) evaluated
    entirely in n-scaled integer space — tp in milli-cents (the /3 is
    the only division, floored once), deviations as |xᵢ·n − s| so no
    rational mean is ever materialized, and the final
    (tp·n − s)·n·10⁶ div (15·md) folds the 0.015 into integers.  The
    window's member values ride a 20-element collect_list aggregated
    JVM-side with a higher-order fold — the mean-absolute-deviation
    needs every member against the CURRENT window's mean, which no
    pair of plain window sums can express.

    Scale shape: indicator-family standard — the heavy per-(type,
    day) OHLC pass, then type-partitioned windows carrying a bounded
    20-element array over the tiny bar frame."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf)
    tp = px.select(
        "event_type", "day",
        F.expr("(hi + lo + cl) * 1000 div 3").alias("tp_m"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-19, 0)
    )
    wm = tp.select(
        "event_type",
        "day",
        "tp_m",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("tp_m").over(w).cast("bigint").alias("s"),
        F.collect_list("tp_m").over(w).alias("xs"),
    )
    dev = wm.where("n = 20").select(
        "event_type",
        "day",
        "tp_m",
        "n",
        "s",
        F.expr(
            "aggregate(transform(xs, x -> abs(x * n - s)), 0L,"
            " (a, b) -> a + b)"
        ).alias("md"),
    )
    return dev.select(
        "event_type",
        "day",
        "tp_m",
        F.expr(
            "CASE WHEN md > 0 THEN CAST((tp_m * n - s) * n * 1000000"
            " div (15 * md) AS BIGINT) END"
        ).alias("cci_milli"),
    ).orderBy("event_type", "day")


# ------------------------------------ volume-weighted moving average
_VWMA_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl,
        CAST(count(*) AS BIGINT) AS vol
      FROM base GROUP BY event_type, day
    ), wm AS (
      SELECT event_type, day, cl, vol,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(cl * vol) OVER w AS BIGINT) AS pv,
        CAST(sum(vol) OVER w AS BIGINT) AS v
      FROM px
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, cl AS close_cents, vol,
      CAST(pv // v AS BIGINT) AS vwma_cents,
      cl > pv // v AS above_vwma
    FROM wm WHERE n = 10
    ORDER BY event_type, day
"""


@_q("window_vwma", _VWMA_SQL)
def window_vwma(spark: SparkSession, sf: str) -> DataFrame:
    """10-day volume-weighted moving average per event-type series in
    exact cents (floor of Σ(close·vol)/Σvol over the trailing full
    window — positive operands, trunc == floor both engines), with
    the close-above-VWMA flag.  The volume-weighted complement of the
    SMA family: a close drifting above its VWMA on thin volume reads
    differently than on heavy volume.

    Scale shape: close and volume ride ONE per-(type, day) pass, then
    a type-partitioned window over the bar frame; Σ(cl·vol) stays
    under BIGINT (1e6 cents · 1e5 ticks · 10 days = 1e12)."""
    ev = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL AND value IS NOT NULL")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            F.expr(_HA.format(x="value", m="100")).alias("cents"),
        )
    )
    px = ev.groupBy("event_type", "day").agg(
        F.expr("max_by(cents, ts)").cast("bigint").alias("cl"),
        F.count("*").cast("bigint").alias("vol"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-9, 0)
    )
    wm = px.select(
        "event_type",
        "day",
        "cl",
        "vol",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum(F.expr("cl * vol")).over(w).cast("bigint").alias("pv"),
        F.sum("vol").over(w).cast("bigint").alias("v"),
    )
    return (
        wm.where("n = 10")
        .select(
            "event_type",
            "day",
            F.col("cl").alias("close_cents"),
            "vol",
            F.expr("CAST(pv div v AS BIGINT)").alias("vwma_cents"),
            F.expr("cl > pv div v").alias("above_vwma"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------- new vs returning users

_NEWRET_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL
    ), first AS (
      SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id
    )
    SELECT du.day,
      CAST(count(*) AS BIGINT) AS active_users,
      CAST(sum(CASE WHEN f.first_day = du.day THEN 1 ELSE 0 END)
        AS BIGINT) AS new_users,
      CAST(count(*) - sum(CASE WHEN f.first_day = du.day THEN 1 ELSE 0
        END) AS BIGINT) AS returning_users,
      CAST(sum(CASE WHEN f.first_day = du.day THEN 1 ELSE 0 END)
        * 1000000 // count(*) AS BIGINT) AS new_share_ppm
    FROM du JOIN first f USING (user_id)
    GROUP BY du.day ORDER BY du.day
"""


def _events_day_bounds(spark, sf):
    """(min_day, max_day) of non-null event timestamps.

    Prefers parquet footer row-group statistics (pure metadata, no
    row scan — min/max stats exclude nulls, exactly ``F.min(ts)``
    semantics); falls back to a column-pruned scalar job when stats
    are absent or the table isn't a plain parquet path (e.g. the
    bucketed-layout tier)."""
    import glob as _g
    import os as _os

    path = f"{sf}/events.parquet"
    try:
        import pyarrow.parquet as pq

        files = (
            [path]
            if _os.path.isfile(path)
            else sorted(_g.glob(_os.path.join(path, "*.parquet")))
        )
        lo = hi = None
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["ts"]).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no ts stats")
                mn, mx = st.min, st.max
                if isinstance(mn, int):  # nanos-as-long physical type
                    import datetime as _dt

                    epoch = _dt.datetime(1970, 1, 1)
                    mn = epoch + _dt.timedelta(microseconds=mn // 1000)
                    mx = epoch + _dt.timedelta(microseconds=mx // 1000)
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        if lo is None:
            raise ValueError("no files")
        return lo.date(), hi.date()
    except Exception:
        row = (
            t(spark, sf, "events")
            .where("ts IS NOT NULL")
            .agg(F.min(F.to_date("ts")), F.max(F.to_date("ts")))
            .first()
        )
        return row[0], row[1]


@_q("events_new_vs_returning", _NEWRET_SQL)
def events_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """Daily new-vs-returning split: active users per day, how many
    are on their FIRST active day, the returning remainder, and the
    new share in exact ppm — the acquisition/retention pulse read
    next to events_cume_users (which shows the cumulative total this
    op decomposes per day).

    Scale shape (r8 rewrite): when the day span fits 64 bits, each
    user's activity collapses to ONE BIGINT day-bitmask — a
    primitive ``bit_or`` aggregate (whole-stage-codegen HashAggregate,
    no per-group objects), keyed by an explicit
    ``repartition(defaultParallelism, user_id)`` so the aggregate
    runs as a single complete pass after one compact raw exchange
    (measured: the partial+final plan re-hashes 3.1M rows/task into a
    1.4M-entry map-side table for a 2.3× row reduction — slower than
    shipping the raw 16-byte rows).  first active day = lowest set
    bit; the mask explodes (post-agg, ≤|days| bits) into the tiny
    day rollup.  The anchor day comes from parquet footer stats —
    no pre-scan.  Measured x1000: 9.5 s (r7 window-min) → 2.93 s,
    DuckDB 1.74 s → ratio 1.7.  Spans > 63 days (multi-year
    production corpora) fall back to the r7 window-min shape; the
    bitmask generalizes to an array-of-longs chunk per 64-day block
    if that tier ever needs the same treatment."""
    ev = t(spark, sf, "events").where("ts IS NOT NULL")
    dmin, dmax = _events_day_bounds(spark, sf)
    if dmin is not None and (dmax - dmin).days <= 63:
        n = spark.sparkContext.defaultParallelism
        masks = (
            ev.select(
                "user_id",
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    f" datediff(CAST(ts AS DATE), DATE'{dmin}'))"
                ).alias("bit"),
            )
            .repartition(n, "user_id")
            .groupBy("user_id")
            .agg(F.expr("bit_or(bit)").alias("mask"))
        )
        j = masks.select(
            F.expr(
                "filter(sequence(0, 63), k -> ((mask >> k) & 1) = 1)"
            ).alias("bits")
        ).select(
            F.element_at("bits", 1).alias("first_k"),
            F.explode("bits").alias("k"),
        )
        day_counts = j.groupBy(
            F.expr(f"date_add(DATE'{dmin}', k)").alias("day")
        ).agg(
            F.count("*").cast("bigint").alias("active_users"),
            F.sum(F.expr("CAST(k = first_k AS INT)"))
            .cast("bigint")
            .alias("new_users"),
        )
    else:
        du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
        j = du.select(
            "day",
            F.expr(
                "CASE WHEN day = min(day) OVER (PARTITION BY user_id)"
                " THEN 1 ELSE 0 END"
            ).alias("nw"),
        )
        day_counts = j.groupBy("day").agg(
            F.count("*").cast("bigint").alias("active_users"),
            F.sum("nw").cast("bigint").alias("new_users"),
        )
    return day_counts.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users"))
        .cast("bigint")
        .alias("returning_users"),
        F.expr(
            "CAST(new_users * 1000000 div active_users AS BIGINT)"
        ).alias("new_share_ppm"),
    ).orderBy("day")


# ------------------------------------------------------- MACD

# Binary-decay EMA discipline from window_ewma: weights
# 2^0..2^(len-1) over the frame-ordered list keep every term exact
# BIGINT (cents < 2^16, fast_num < 2^24, slow_num < 2^32,
# macd_num < 2^41, signal_num < 2^45), so both engines divide the
# same integers and round(x, 6) can never straddle an FP boundary.
_MACD_DEN = 255 * 65535  # (2^8-1)(2^16-1): common macd denominator

_MACD_SQL = f"""
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), l AS (
      SELECT event_type, day, cl,
        list(cl) OVER w8 AS xs8, list(cl) OVER w16 AS xs16
      FROM px
      WINDOW
        w8 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
        w16 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
    ), m AS (
      SELECT event_type, day, cl,
        list_sum(list_transform(xs8,
          (v, i) -> v * (1::BIGINT << (i - 1)))) * 65535
        - list_sum(list_transform(xs16,
            (v, i) -> v * (1::BIGINT << (i - 1)))) * 255 AS macd_num
      FROM l WHERE len(xs16) = 16
    ), s AS (
      SELECT event_type, day, cl, macd_num,
        list(macd_num) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ms
      FROM m
    )
    SELECT event_type, day, cl AS close_cents,
      round(CAST(macd_num AS DOUBLE) / {_MACD_DEN}.0, 6) AS macd_cents,
      round(CAST(list_sum(list_transform(ms,
          (v, i) -> v * (1::BIGINT << (i - 1)))) AS DOUBLE)
        / ({_MACD_DEN}.0 * 15), 6) AS signal_cents,
      macd_num * 15 > list_sum(list_transform(ms,
        (v, i) -> v * (1::BIGINT << (i - 1)))) AS macd_above_signal
    FROM s WHERE len(ms) = 4
    ORDER BY event_type, day
"""


@_q("window_macd", _MACD_SQL)
def window_macd(spark: SparkSession, sf: str) -> DataFrame:
    """MACD per event-type close series, fixture-scaled frames (fast
    8 / slow 16 / signal 4 — the classic 12/26/9 at the ~30-day
    span): macd = EMA_fast − EMA_slow on binary-decay frame EMAs
    (the window_ewma exact-BIGINT discipline — position weights
    2^0..2^(len−1) over the ordered frame list), signal = the same
    decay over the trailing 4 macd numerators, plus the
    above-signal crossover flag computed on exact integers
    (macd_num·15 vs signal_num — no float ever decides the flag).
    Rows gate on a full 16-day slow frame AND a full 4-row signal
    frame.

    Scale shape: the indicator-family standard — the shared
    per-(type, day) bar reduction, then two frame windows + one
    cascaded window over the macd numerators, all partitioned by
    event_type over the tiny bar series."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf).select("event_type", "day", "cl")
    wt = Window.partitionBy("event_type").orderBy("day")
    fold = (
        "aggregate({xs}, named_struct('i', 0, 's', 0L), (st, v) -> "
        "named_struct('i', st.i + 1, 's', st.s + v * shiftleft(1L, st.i)),"
        " st -> st.s)"
    )
    l = px.select(
        "event_type",
        "day",
        "cl",
        F.collect_list("cl").over(wt.rowsBetween(-7, 0)).alias("xs8"),
        F.collect_list("cl").over(wt.rowsBetween(-15, 0)).alias("xs16"),
    )
    m = l.where("size(xs16) = 16").select(
        "event_type",
        "day",
        "cl",
        F.expr(
            f"{fold.format(xs='xs8')} * 65535L"
            f" - {fold.format(xs='xs16')} * 255L"
        ).alias("macd_num"),
    )
    s = m.select(
        "event_type",
        "day",
        "cl",
        "macd_num",
        F.collect_list("macd_num").over(wt.rowsBetween(-3, 0)).alias("ms"),
    )
    sig = fold.format(xs="ms")
    return (
        s.where("size(ms) = 4")
        .select(
            "event_type",
            "day",
            F.col("cl").alias("close_cents"),
            F.round(
                F.expr(f"CAST(macd_num AS DOUBLE) / {_MACD_DEN}.0"), 6
            ).alias("macd_cents"),
            F.round(
                F.expr(f"CAST({sig} AS DOUBLE) / ({_MACD_DEN}.0 * 15)"), 6
            ).alias("signal_cents"),
            F.expr(f"macd_num * 15 > {sig}").alias("macd_above_signal"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------ DAU/WAU/MAU stickiness
_STICKY_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL
    ), days AS (
      SELECT DISTINCT day FROM du
    ), m AS (
      SELECT d.day,
        CAST(count(DISTINCT CASE WHEN du.day = d.day
          THEN du.user_id END) AS BIGINT) AS dau,
        CAST(count(DISTINCT CASE WHEN du.day > d.day - 7
          THEN du.user_id END) AS BIGINT) AS wau7,
        CAST(count(DISTINCT du.user_id) AS BIGINT) AS mau28
      FROM days d JOIN du
        ON du.day <= d.day AND du.day > d.day - 28
      GROUP BY d.day
    )
    SELECT day, dau, wau7, mau28,
      CAST(dau * 1000000 // mau28 AS BIGINT) AS stickiness_ppm
    FROM m ORDER BY day
"""


@_q("events_stickiness_dau_mau", _STICKY_SQL)
def events_stickiness_dau_mau(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / trailing-7 WAU / trailing-28 MAU per day plus the
    DAU/MAU "stickiness" ratio in exact ppm — the engagement pulse
    read next to events_wau_sliding (which tracks one window; this
    op tracks the ratio product teams actually watch).  Trailing
    windows warm up naturally at the span start (day 0's MAU window
    is day 0 alone) — same definition both engines.

    Scale shape (the events_new_vs_returning r8 kernel): each user
    collapses to ONE BIGINT day-bitmask via a primitive bit_or
    aggregate after an explicit user repartition — the three
    memberships then come from mask∧window-mask tests on the
    ≤|days|-per-user post-agg explode, so the corpus is touched once
    and the wide state is 8 bytes per user.  The oracle's literal
    shape (a day×(day,user) range join + three conditional count
    DISTINCTs) is the plan this kernel replaces.  Day spans > 62
    fall back to the distinct-pair explode (one (day,user) frame
    fanned to its ≤28 trailing days, then a count-distinct rollup)."""

    ev = t(spark, sf, "events").where("ts IS NOT NULL")
    dmin, dmax = _events_day_bounds(spark, sf)
    span = (dmax - dmin).days if dmin is not None else 9999
    if span <= 62:
        n = spark.sparkContext.defaultParallelism
        masks = (
            ev.select(
                "user_id",
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    f" datediff(CAST(ts AS DATE), DATE'{dmin}'))"
                ).alias("bit"),
            )
            .repartition(n, "user_id")
            .groupBy("user_id")
            .agg(F.expr("bit_or(bit)").alias("mask"))
        )
        # per user, only days whose trailing-28 window sees activity.
        # low d+1 bits built as shiftrightunsigned(-1L, 63-d): exact
        # for every d in [0, 62] — shiftleft(1L, d+1)-1 would overflow
        # at d = 62 under the ANSI canary (advisor r8 note).
        m28 = (
            "shiftrightunsigned(-1L, 63 - d)"
            " ^ (shiftleft(1L, greatest(d - 27, 0)) - 1)"
        )
        m7 = (
            "shiftrightunsigned(-1L, 63 - d)"
            " ^ (shiftleft(1L, greatest(d - 6, 0)) - 1)"
        )
        j = masks.select(
            F.explode(
                F.expr(
                    f"filter(sequence(0, {span}),"
                    f" d -> (mask & ({m28})) != 0)"
                )
            ).alias("d"),
            "mask",
        ).select(
            "d",
            F.expr("CAST((mask & shiftleft(1L, d)) != 0 AS INT)").alias(
                "is_dau"
            ),
            F.expr(f"CAST((mask & ({m7})) != 0 AS INT)").alias("is_wau"),
        )
        day_counts = j.groupBy(
            F.expr(f"date_add(DATE'{dmin}', d)").alias("day")
        ).agg(
            F.sum("is_dau").cast("bigint").alias("dau"),
            F.sum("is_wau").cast("bigint").alias("wau7"),
            F.count("*").cast("bigint").alias("mau28"),
        )
        # the oracle reports only days that actually have activity
        active_days = (
            masks.select(
                F.explode(
                    F.expr(
                        f"filter(sequence(0, {span}),"
                        " d -> (mask & shiftleft(1L, d)) != 0)"
                    )
                ).alias("d")
            )
            .distinct()
            .select(F.expr(f"date_add(DATE'{dmin}', d)").alias("day"))
        )
        day_counts = day_counts.join(active_days, "day", "left_semi")
    else:
        du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
        fan = du.select(
            "user_id",
            F.col("day").alias("active_day"),
            F.explode(
                F.expr("sequence(day, date_add(day, 27))")
            ).alias("day"),
        )
        day_counts = (
            fan.groupBy("day")
            .agg(
                F.count_distinct(
                    F.expr("CASE WHEN active_day = day THEN user_id END")
                ).cast("bigint").alias("dau"),
                F.count_distinct(
                    F.expr(
                        "CASE WHEN active_day > date_sub(day, 7)"
                        " THEN user_id END"
                    )
                ).cast("bigint").alias("wau7"),
                F.count_distinct("user_id").cast("bigint").alias("mau28"),
            )
            .join(du.select("day").distinct(), "day", "left_semi")
        )
    return day_counts.select(
        "day",
        "dau",
        "wau7",
        "mau28",
        F.expr("CAST(dau * 1000000 div mau28 AS BIGINT)").alias(
            "stickiness_ppm"
        ),
    ).orderBy("day")
