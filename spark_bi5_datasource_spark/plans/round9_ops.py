"""Round-9 catalog additions — financial-indicator windows (the
reference's home domain: Dukascopy tick archives,
spark-2.4/src/main/scala/be/salvania/BI5DataSource.scala, are FX price
ticks), experimentation readouts, and corpus-planning ops:

* Cutler RSI — 14-day relative-strength index over the daily revenue
  series.  Cutler's variant (simple moving sums of gains/losses)
  instead of Wilder's recursive smoothing precisely BECAUSE it is
  window-expressible: no recursion crosses the engine boundary, and
  the index is an exact integer ratio in ppm;
* ATR bands — average-true-range channel per event-type series:
  per-day OHLC in exact cents, true range via greatest(hi-lo,
  |hi-prev_close|, |lo-prev_close|), 14-day simple ATR, close ± 2·ATR
  bands — all BIGINT;
* distribution drift — the PSI-style governance check run before a
  retrain: fixed price buckets, per-half ppm shares, per-bucket and
  total L1 drift in ppm (float-free twin of the PSI ln-term);
* CUPED lift — variance-reduced A/B readout: pre-period purchase
  dollars as the covariate, theta from exact integer moments
  normalized per-n BEFORE any multiplication (n·Σxy-style cross
  products of whole-table sums overflow 2⁶³ at x1000; per-n doubles
  of exact integers are correctly rounded and bit-identical across
  engines when the expression tree is identical — it is, verbatim);
* seasonal-naive backtest — forecast(day) = actual(day-7) per
  event-type via an equality self-join on the per-day aggregate
  (never a window over raw events), with WAPE/bias in integer ppm;
* epoch plan — per-source repeat-factor mixture plan (uniform target
  share, 4-epoch cap) in milli-epochs, the "how many times do we
  repeat each source" table a data-mixture run starts from;
* token fertility — chars-per-token and tokens-per-doc per language
  in exact integer per-mille, the tokenizer-budget planning table.

Oracle policy: counts/sums/cents ride BIGINT; ratios are integer
ppm/ppk (`div`); the two CUPED means are doubles derived from exact
integers with the identical expression order in both engines.
Everything here is beyond-reference query surface (the reference is a
read-only scan connector)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import t

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


# ------------------------------------------------ distribution drift

_DRIFT_SQL = """
    WITH b AS (
      SELECT least(9, CAST(floor(o_totalprice / 60000.0) AS BIGINT))
          AS bucket,
        CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END
          AS half
      FROM orders
    ), c AS (
      SELECT bucket,
        CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM b GROUP BY bucket
    ), tot AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
      FROM c
    ), d AS (
      SELECT bucket, n_a, n_b,
        n_a * 1000000 // ta AS share_a_ppm,
        n_b * 1000000 // tb AS share_b_ppm
      FROM c CROSS JOIN tot
    )
    SELECT bucket, n_a, n_b, share_a_ppm, share_b_ppm,
      abs(share_a_ppm - share_b_ppm) AS drift_ppm
    FROM d
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(sum(n_a) AS BIGINT),
      CAST(sum(n_b) AS BIGINT), CAST(1000000 AS BIGINT),
      CAST(1000000 AS BIGINT),
      CAST(sum(abs(share_a_ppm - share_b_ppm)) AS BIGINT)
    FROM d
    ORDER BY bucket
"""


@_q("dq_distribution_drift", _DRIFT_SQL)
def dq_distribution_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Train/serve distribution-drift audit: order totals bucketed on
    FIXED price edges (floor(p/60k) capped at 9 — fixed edges, not
    quantiles, so the check is one aggregation and comparable across
    runs), per-half ppm shares, per-bucket drift, and a bucket = -1
    summary row carrying the total L1 drift (the float-free twin of
    a PSI: the ln-weighted terms need a log, the L1 statistic
    doesn't, and both order drifts identically for monitoring).

    Scale shape: one map-side-combinable groupBy over the scan to
    ≤10 bucket rows; the totals crossJoin is a 1-row broadcast
    (documented BNLJ bound, same class as sample_mixture); the
    summary union re-aggregates the 10-row frame."""
    b = t(spark, sf, "orders").select(
        F.expr("least(9, CAST(floor(o_totalprice / 60000.0D) AS BIGINT))")
        .alias("bucket"),
        F.expr(
            "CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END"
        ).alias("half"),
    )
    c = b.groupBy("bucket").agg(
        F.sum(F.expr("CASE WHEN half = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.expr("CASE WHEN half = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_b"),
    )
    tot = c.agg(
        F.sum("n_a").cast("bigint").alias("ta"),
        F.sum("n_b").cast("bigint").alias("tb"),
    )
    d = c.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_a",
        "n_b",
        F.expr("n_a * 1000000 div ta").alias("share_a_ppm"),
        F.expr("n_b * 1000000 div tb").alias("share_b_ppm"),
    )
    per_bucket = d.select(
        "bucket",
        "n_a",
        "n_b",
        "share_a_ppm",
        "share_b_ppm",
        F.expr("abs(share_a_ppm - share_b_ppm)").alias("drift_ppm"),
    )
    summary = d.agg(
        F.expr("CAST(-1 AS BIGINT)").alias("bucket"),
        F.sum("n_a").cast("bigint").alias("n_a"),
        F.sum("n_b").cast("bigint").alias("n_b"),
        F.expr("CAST(1000000 AS BIGINT)").alias("share_a_ppm"),
        F.expr("CAST(1000000 AS BIGINT)").alias("share_b_ppm"),
        F.sum(F.expr("abs(share_a_ppm - share_b_ppm)"))
        .cast("bigint")
        .alias("drift_ppm"),
    )
    return per_bucket.unionAll(summary).orderBy("bucket")


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


# -------------------------------------------------------- epoch plan

_EPOCH_SQL = """
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(chars) AS BIGINT) AS tc,
        CAST(count(*) AS BIGINT) AS ns
      FROM s
    )
    SELECT source, n_docs, chars,
      chars * 1000000 // tc AS weight_ppm,
      least(CAST(4000 AS BIGINT), (tc // ns) * 1000 // chars)
        AS epochs_x1000,
      chars * least(CAST(4000 AS BIGINT), (tc // ns) * 1000 // chars)
        // 1000 AS planned_chars
    FROM s CROSS JOIN tot ORDER BY source
"""


@_q("corpus_epoch_plan", _EPOCH_SQL)
def corpus_epoch_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixture epoch plan: each source's repeat factor toward a
    uniform per-source character budget, capped at 4 epochs (the
    "repeat small high-quality sources, downsample the giant crawl"
    table).  Repeat factors in exact milli-epochs; planned volume =
    chars · epochs, floor'd — integer end to end.

    Scale shape: one map-side-combinable groupBy over the documents
    scan to |sources| rows; the budget crossJoin is a 1-row
    broadcast (documented BNLJ bound, same class as
    sample_mixture)."""
    s = t(spark, sf, "documents").groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = s.agg(
        F.sum("chars").cast("bigint").alias("tc"),
        F.count("*").cast("bigint").alias("ns"),
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "chars",
            F.expr("chars * 1000000 div tc").alias("weight_ppm"),
            F.expr(
                "least(CAST(4000 AS BIGINT), (tc div ns) * 1000 div chars)"
            ).alias("epochs_x1000"),
            F.expr(
                "chars * least(CAST(4000 AS BIGINT),"
                " (tc div ns) * 1000 div chars) div 1000"
            ).alias("planned_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------- token fertility

_FERTILITY_SQL = """
    WITH tc AS (
      SELECT lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len(list_filter(
          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')))
          AS BIGINT) AS n_tokens,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens, sum_chars,
      CAST(sum_chars * 1000 // n_tokens AS BIGINT) AS chars_per_token_ppk,
      CAST(n_tokens * 1000 // n_docs AS BIGINT) AS tokens_per_doc_ppk
    FROM tc ORDER BY lang
"""


@_q("tok_fertility_by_lang", _FERTILITY_SQL)
def tok_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-fertility planning table: chars-per-token and
    tokens-per-doc per language, exact integer per-mille — the table
    a token-budget estimate starts from when converting a byte
    budget to a token budget per language.  Uses the corpus
    tokenization convention (lower + '[^a-z]+' split, the same
    tokenizer as tok_zipf_profile / tok_ttr_by_source /
    tok_oov_by_source), so the numbers compose with the rest of the
    token-planning ops.

    Scale shape: ONE Arrow token-count kernel pass (functions/text.py
    token_count_partials) — a single RE2 match-count scan that never
    materializes tokens, folding n_chars into the same pass, so the
    shuffle carries one |langs|-row partial per batch.  Measured at
    x1000 (5M docs): JVM size(split()) 2.46 s, term-partials kernel
    8.2 s (wasted per-term hash-grouping), this count kernel is the
    minimal-work formulation."""
    from ..functions.text import token_count_partials

    parts = token_count_partials(
        t(spark, sf, "documents"), ("lang",), "text", ("n_chars",)
    )
    return (
        parts.groupBy("lang")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "sum_chars",
            F.expr("CAST(sum_chars * 1000 div n_tokens AS BIGINT)").alias(
                "chars_per_token_ppk"
            ),
            F.expr("CAST(n_tokens * 1000 div n_docs AS BIGINT)").alias(
                "tokens_per_doc_ppk"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------- n-gram containment join

_CONTAIN_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS ic
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b,
      CAST(ic * 1000000 // sa.sz AS BIGINT) AS cont_ab_ppm,
      CAST(ic * 1000000 // sb.sz AS BIGINT) AS cont_ba_ppm
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(ic * 1000000 // sa.sz, ic * 1000000 // sb.sz) >= 500000
"""


@_q("dedup_ngram_containment", _CONTAIN_SQL)
def dedup_ngram_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric near-dup detection: n-gram CONTAINMENT
    cont(A→B) = |A∩B| / |A| — catches a document embedded inside a
    larger one (full containment, tiny Jaccard), the case symmetric
    resemblance misses; both directions in exact integer ppm,
    emitted when the larger direction clears 0.5.

    Scale shape: the operators/dedup.py inverted-shingle-index with
    exact-duplicate collapse (duplicate texts share shingle sets, so
    representatives carry the index join and members inherit the
    ppm pair — with the directional values flipped when the id
    normalization swaps sides); the oracle is the collapse-free
    all-pairs twin, equal by that inheritance argument."""
    from ..operators import ngram_containment_pairs

    return ngram_containment_pairs(
        t(spark, sf, "documents"), "doc_id", "text", n=3,
        threshold_ppm=500_000,
    )


# ------------------------------------------ Matryoshka prefix recall

_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
)
_NRM = "sqrt(list_sum(list_transform({v}, x -> x * x)))"

_MRL_SQL = f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        CAST(embedding AS DOUBLE[])[1:16] AS p
      FROM embeddings
    ), full_k AS (
      SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
        row_number() OVER (PARTITION BY b.vec_id ORDER BY
          {_DOT.format(a="a.e", b="b.e")}
            / ({_NRM.format(v="a.e")} * {_NRM.format(v="b.e")}) DESC,
          a.vec_id ASC) AS rank
      FROM n a, n b WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
      QUALIFY rank <= 5
    ), pre_k AS (
      SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
        row_number() OVER (PARTITION BY b.vec_id ORDER BY
          {_DOT.format(a="a.p", b="b.p")}
            / ({_NRM.format(v="a.p")} * {_NRM.format(v="b.p")}) DESC,
          a.vec_id ASC) AS rank
      FROM n a, n b WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
      QUALIFY rank <= 5
    )
    SELECT f.query_id,
      CAST(count(p.nbr_id) AS BIGINT) AS n_overlap,
      CAST(count(p.nbr_id) * 1000000 // 5 AS BIGINT) AS recall_ppm
    FROM full_k f LEFT JOIN pre_k p
      ON p.query_id = f.query_id AND p.nbr_id = f.nbr_id
    GROUP BY f.query_id ORDER BY f.query_id
"""


@_q("sim_mrl_prefix_recall", _MRL_SQL)
def sim_mrl_prefix_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-representation evaluation: top-5 recall of
    PREFIX-dimension (first 16 of 64) cosine retrieval against the
    full-dimension ranking, per query — the standard check before
    shipping truncated embeddings as the cheap first-stage retriever.
    Recall is an exact integer ratio in ppm.

    Scale shape: two cosine_topk legs (corpus scanned once per leg,
    ≤10-query broadcast — the documented BNLJ contract of
    sim_cosine_topk), then a broadcast-sized overlap join on the two
    k·|queries|-row top-k frames."""
    from ..operators.similarity import cosine_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    full_k = cosine_topk(emb, queries, k=5).select("query_id", "nbr_id")
    pre = emb.select(
        "vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding")
    )
    pre_k = (
        cosine_topk(pre, pre.filter(F.col("vec_id") < 10), k=5)
        .select("query_id", "nbr_id", F.lit(1).alias("hit"))
    )
    # r13: pre_k is k·|queries| rows (50 here) but sits behind a
    # window + filter, so Catalyst's size estimate blows past the
    # broadcast threshold and planned a sort-merge join — two
    # exchanges + sorts on 50-row inputs.  Explicit broadcast (the
    # bound is k·|queries| by construction, the documented contract
    # of this entry) makes it a BroadcastHashJoin.
    return (
        full_k.join(F.broadcast(pre_k), ["query_id", "nbr_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_overlap"),
            F.expr("CAST(count(hit) * 1000000 div 5 AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
        .orderBy("query_id")
    )
