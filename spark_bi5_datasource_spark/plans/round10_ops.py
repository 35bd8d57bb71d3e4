"""Round-10 catalog additions — more financial-indicator windows (the
reference's home domain is FX tick archives:
spark-2.4/src/main/scala/be/salvania/BI5DataSource.scala), data-quality
forensics, corpus-concentration planning, experiment guardrails, and a
graph-similarity primitive:

* stochastic oscillator — 14-day %K / 3-day %D per event-type price
  series in exact integer ppm (the raw and smoothed variants are both
  window sums over the per-day aggregate — no recursion);
* Donchian channels — 20-day high/low channel per series in exact
  cents, with breakout flags against the PRIOR day's channel (lag of
  the full-window extrema — the textbook turtle-trading signal);
* Benford first-digit audit — first-significant-digit shares of the
  order totals vs the Benford expectation in ppm, per-digit and total
  L1 deviation: the fraud/synthetic-data forensics check, float-free
  (the log10(1+1/d) expectations are pinned integer literals);
* source-size Gini — Lorenz curve + Gini coefficient of the
  per-source character mass, the corpus-concentration number a
  mixture plan starts from; exact integer rank formula
  (2·Σi·xᵢ − (n+1)·Σx)·10⁶ // (n·Σx) over ascending ranks;
* A/B sample-ratio-mismatch — per-day χ² SRM guardrail on the
  id-parity assignment of events_ab_lift (round5_ops.py): with equal
  expected splits χ² = (nₐ−n_b)²/(nₐ+n_b), kept exact in milli-units
  and the p<0.05 flag cross-multiplied against 3.841·(nₐ+n_b);
* neighbor Jaccard — link-prediction similarity |N(u)∩N(v)| /
  |N(u)∪N(v)| over the part co-purchase graph of graph_triangle_count
  (round4_ops.py), for connected pairs, in ppm;
* type-token ratio — per-source lexical diversity (TTR + hapax
  share) over the corpus tokenization convention of tok_vocab_topk.

Oracle policy: counts/cents ride BIGINT; ratios are integer ppm via
`div`/`//` (every numerator here is provably non-negative, so Spark's
truncating div and DuckDB's flooring // agree); flags are
cross-multiplied integer comparisons.  Everything is beyond-reference
query surface (the reference is a read-only scan connector)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .round4_ops import _copurchase_pairs, _salted_wedge_join
from .tables import t

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
    window_atr_bands (round9_ops.py)."""
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


# ---------------------------------------------- Benford digit audit

# floor(log10(1 + 1/d) * 1e6) for d = 1..9 — pinned literals so the
# expectation never touches engine float logs
_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    + " END"
)

_BENFORD_SQL = f"""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
          AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), agg AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY digit
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM agg),
    rows_d AS (
      SELECT digit, n,
        CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
        CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm
      FROM agg, tot
    ), dev AS (
      SELECT digit, n, share_ppm, benford_ppm,
        CAST(abs(share_ppm - benford_ppm) AS BIGINT) AS dev_ppm
      FROM rows_d
    )
    SELECT * FROM dev
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(sum(n) AS BIGINT),
      CAST(sum(share_ppm) AS BIGINT), CAST(sum(benford_ppm) AS BIGINT),
      CAST(sum(dev_ppm) AS BIGINT)
    FROM dev
    ORDER BY digit
"""


@_q("dq_benford_first_digit", _BENFORD_SQL)
def dq_benford_first_digit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law forensics on the order totals: first-significant-
    digit shares in ppm against the pinned floor(log10(1+1/d)·10⁶)
    expectations, per-digit absolute deviation, and a digit = −1
    summary row carrying the totals (same summary convention as
    dq_distribution_drift, round9_ops.py).  Fabricated or synthetic
    money columns fail this audit first; the expectations are integer
    literals so no float log crosses the engine boundary.

    Scale shape: first digit via string head of the exact cents (stays
    in codegen), one map-side-combinable 9-group aggregate, a 1-row
    totals crossJoin broadcast, and a ≤10-row summary union."""
    c = (
        t(spark, sf, "orders")
        .where("o_totalprice > 0")
        .select(
            F.expr(
                "CAST(substr(CAST("
                + _HA.format(x="o_totalprice", m="100")
                + " AS STRING), 1, 1) AS BIGINT)"
            ).alias("digit")
        )
    )
    agg = c.groupBy("digit").agg(F.count("*").cast("bigint").alias("n"))
    tot = agg.agg(F.sum("n").cast("bigint").alias("total"))
    dev = (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr("CAST(n * 1000000 div total AS BIGINT)").alias("share_ppm"),
            F.expr(f"CAST({_BENFORD_CASE} AS BIGINT)").alias("benford_ppm"),
        )
        .withColumn(
            "dev_ppm",
            F.expr("CAST(abs(share_ppm - benford_ppm) AS BIGINT)"),
        )
    )
    summary = dev.agg(
        F.lit(-1).cast("bigint").alias("digit"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("share_ppm").cast("bigint").alias("share_ppm"),
        F.sum("benford_ppm").cast("bigint").alias("benford_ppm"),
        F.sum("dev_ppm").cast("bigint").alias("dev_ppm"),
    )
    return dev.unionByName(summary).orderBy("digit")


# ------------------------------------------------- source-size Gini

_GINI_SQL = """
    WITH s AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ), r AS (
      SELECT source, chars,
        CAST(row_number() OVER (ORDER BY chars, source) AS BIGINT) AS rank,
        CAST(sum(chars) OVER (ORDER BY chars, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_chars
      FROM s
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(chars) AS BIGINT) AS t,
        CAST(sum(rank * chars) AS BIGINT) AS rx
      FROM r
    )
    SELECT rank, source, chars,
      CAST(chars * 1000000 // t AS BIGINT) AS share_ppm,
      CAST(cum_chars * 1000000 // t AS BIGINT) AS cum_share_ppm,
      CAST((2 * rx - (n + 1) * t) * 1000000 // (n * t) AS BIGINT)
        AS gini_ppm
    FROM r, g ORDER BY rank
"""


@_q("corpus_source_gini", _GINI_SQL)
def corpus_source_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-concentration readout: the Lorenz curve of per-source
    character mass (ascending rank, share and cumulative share in
    ppm) plus the Gini coefficient from the exact integer rank
    formula G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) — the number that
    says whether the corpus is a few-megasource monoculture before a
    mixture plan (corpus_epoch_plan, round9_ops.py) is drawn up.
    Sorted ascending, the numerator is provably ≥ 0, so floor and
    truncating division agree; ties rank deterministically by source.

    Scale shape: one map-side-combinable per-source sum over the
    documents scan; ranking, the cumulative sum, and the 1-row
    moment frame all ride the ≤|sources| aggregate (documented
    SinglePartition + BNLJ bounds in scripts/plan_audit.py)."""
    s = (
        t(spark, sf, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("chars"))
    )
    w = Window.orderBy("chars", "source")
    r = s.select(
        "source",
        "chars",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.sum("chars")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_chars"),
    )
    g = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("chars").cast("bigint").alias("t"),
        F.sum(F.expr("rank * chars")).cast("bigint").alias("rx"),
    )
    return (
        r.crossJoin(F.broadcast(g))
        .select(
            "rank",
            "source",
            "chars",
            F.expr("CAST(chars * 1000000 div t AS BIGINT)").alias("share_ppm"),
            F.expr("CAST(cum_chars * 1000000 div t AS BIGINT)").alias(
                "cum_share_ppm"
            ),
            F.expr(
                "CAST((2 * rx - (n + 1) * t) * 1000000 div (n * t) AS BIGINT)"
            ).alias("gini_ppm"),
        )
        .orderBy("rank")
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
    events_ab_lift (round5_ops.py): per-exposure-day distinct-user
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


# --------------------------------------------- neighbor Jaccard sim

_NBR_JACCARD_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), adj AS (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v, u FROM e
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node
    ), common AS (
      SELECT x.node AS u, y.node AS v, CAST(count(*) AS BIGINT) AS com
      FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      GROUP BY u, v
    )
    SELECT c.u, c.v, c.com AS common_nbrs, da.deg AS deg_u, db.deg AS deg_v,
      CAST(c.com * 1000000 // (da.deg + db.deg - c.com) AS BIGINT)
        AS jaccard_ppm
    FROM common c
    JOIN e ON e.u = c.u AND e.v = c.v
    JOIN deg da ON da.node = c.u
    JOIN deg db ON db.node = c.v
    ORDER BY jaccard_ppm DESC, c.u, c.v
    LIMIT 50
"""


@_q("graph_neighbor_jaccard", _NBR_JACCARD_SQL)
def graph_neighbor_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Link-prediction similarity over the part co-purchase graph of
    graph_triangle_count (round4_ops.py): for each connected pair,
    |N(u)∩N(v)| / |N(u)∪N(v)| in exact ppm (union by
    inclusion-exclusion on the degrees), top-50 by similarity — the
    'substitutable parts' readout.

    Scale shape: the common-neighbor count is the same wedge join as
    triangle counting (adjacency self-joined on the shared neighbor,
    grouped by endpoints — every wedge stays keyed on its endpoints
    through the shuffle); the semi-restriction to actual edges and
    the two degree joins are |edges|-sized.  Pair generation is the
    basket pattern (see graph_triangle_count, round4_ops.py): one
    collect_set groupBy keys the baskets (dedup for free), pairs
    unfold JVM-side from the sorted array — no self-join, no
    post-join distinct; clean x1000 head-to-head (234 s vs 250 s for
    the self-join + distinct shape) and the DuckDB disk-death story
    live in HISTORY.md "Graph pair-counting"."""
    from ..operators.pairs import maybe_prefilter_min2

    li = t(spark, sf, "lineitem")
    # r14: scale-adaptive singleton pre-filter ahead of the (u, v)
    # exchange (see basket_association_lift; the exact ``c >= 2``
    # filter below keeps it lossless)
    pairs = maybe_prefilter_min2(_copurchase_pairs(li), li)
    e = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("bigint").alias("deg"))
    x = adj.toDF("u", "nbr")
    y = adj.toDF("v", "nbr")
    common = (
        _salted_wedge_join(x, y, "nbr", "u")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("com"))
    )
    return (
        common.join(e, ["u", "v"], "semi")
        .join(deg.toDF("u", "deg_u"), "u")
        .join(deg.toDF("v", "deg_v"), "v")
        .select(
            "u",
            "v",
            F.col("com").alias("common_nbrs"),
            "deg_u",
            "deg_v",
            F.expr(
                "CAST(com * 1000000 div (deg_u + deg_v - com) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "u", "v")
        .limit(50)
    )


# ------------------------------------------------ type-token ratio

_TTR_SQL = """
    WITH toks AS (
      SELECT source, unnest(list_filter(
          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
      FROM documents
    ), tc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    )
    SELECT source,
      CAST(sum(c) AS BIGINT) AS total_tokens,
      CAST(count(*) AS BIGINT) AS distinct_tokens,
      CAST(count(*) FILTER (c = 1) AS BIGINT) AS hapax_tokens,
      CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm,
      CAST(count(*) FILTER (c = 1) * 1000000 // count(*) AS BIGINT)
        AS hapax_share_ppm
    FROM tc GROUP BY source ORDER BY source
"""


@_q("tok_ttr_by_source", _TTR_SQL)
def tok_ttr_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source lexical diversity under the corpus tokenization
    convention of tok_vocab_topk (curation_ops.py): type-token ratio
    (distinct / total tokens) and hapax-legomena share (once-seen /
    distinct) in exact ppm — low TTR or a collapsed hapax share flags
    boilerplate-heavy or template-generated sources before they feed
    a mixture.

    Scale shape: one Arrow term-count kernel pass (functions/text.py
    term_count_partials) — per-batch exact (source, term) partials,
    so the shuffle carries batch-vocab rows, never raw tokens
    (measured 18.7 s → JVM-explode-free at x1000, same kernel win as
    tok_zipf_profile); the second rollup is |sources| groups with all
    counters as partial aggregates."""
    from ..functions.text import term_count_partials

    tc = (
        term_count_partials(
            t(spark, sf, "documents"), ("source",), "text"
        )
        .withColumnRenamed("term", "tok")
        .groupBy("source", "tok")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.count("*").cast("bigint").alias("distinct_tokens"),
            F.count_if(F.expr("c = 1")).cast("bigint").alias("hapax_tokens"),
            F.expr("CAST(count(*) * 1000000 div sum(c) AS BIGINT)").alias(
                "ttr_ppm"
            ),
            F.expr(
                "CAST(count_if(c = 1) * 1000000 div count(*) AS BIGINT)"
            ).alias("hapax_share_ppm"),
        )
        .orderBy("source")
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
    same class as window_atr_bands (round9_ops.py)."""
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


# ------------------------------------------------ OOV rate by source

_OOV_SQL = """
    WITH toks AS (
      SELECT source, unnest(list_filter(
          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
        FROM toks GROUP BY tok
      ) WHERE rnk <= 20
    ), sc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    )
    SELECT source,
      CAST(sum(c) AS BIGINT) AS total_tokens,
      CAST(coalesce(sum(c) FILTER (tok NOT IN (SELECT tok FROM vocab)), 0)
        AS BIGINT) AS oov_tokens,
      CAST(coalesce(sum(c) FILTER (tok NOT IN (SELECT tok FROM vocab)), 0)
        * 1000000 // sum(c) AS BIGINT) AS oov_ppm
    FROM sc GROUP BY source ORDER BY source
"""


@_q("tok_oov_by_source", _OOV_SQL)
def tok_oov_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-vocabulary pressure per source: with the corpus top-20
    tokens as the closed vocabulary (frequency-ranked, ties broken
    lexically), the share of token OCCURRENCES each source emits
    outside it, in exact ppm — the per-source view of how badly a
    fixed tokenizer undercovers a new source before it is mixed in.

    Scale shape: ONE Arrow term-count kernel pass over the documents
    scan (functions/text.py term_count_partials — per-batch exact
    (source, term) partials, so the shuffle carries batch-vocab rows,
    never raw tokens); the per-source usage reduces those partials
    and the corpus-wide vocabulary is a second tiny rollup OF the
    per-source counts — the text is tokenized exactly once.  The
    ≤20-row vocabulary broadcasts into a left join and the final
    rollup is |sources| groups.  The vocabulary rank rides the
    distinct-term frame (same documented bound as tok_zipf_profile,
    scripts/plan_audit.py)."""
    from ..functions.text import term_count_partials

    sc = (
        term_count_partials(
            t(spark, sf, "documents"), ("source",), "text"
        )
        .withColumnRenamed("term", "tok")
        .groupBy("source", "tok")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    # r14 (catalog sweep for the zipf pattern): the vocabulary rank
    # used to run a single-partition row_number over the WHOLE
    # distinct-term frame for a top-20 answer; a distributed
    # TakeOrdered(20) prefix over the SAME total order (cnt DESC,
    # tok) selects an identical token set — the rank column was only
    # a selector and is not emitted, so no window remains at all.
    vocab = (
        sc.groupBy("tok")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(20)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        sc.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("in_vocab").isNull(), F.col("c"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("oov_tokens"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN in_vocab IS NULL THEN c END), 0)"
                " * 1000000 div sum(c) AS BIGINT)"
            ).alias("oov_ppm"),
        )
        .orderBy("source")
    )


# -------------------------------------------- dedup inflation factor

_INFLATION_SQL = """
    WITH g AS (
      SELECT source, text, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, text
    )
    SELECT source,
      CAST(sum(c) AS BIGINT) AS n_docs,
      CAST(count(*) AS BIGINT) AS distinct_texts,
      CAST(sum(c) - count(*) AS BIGINT) AS dup_docs,
      CAST((sum(c) - count(*)) * 1000000 // sum(c) AS BIGINT)
        AS dup_share_ppm,
      CAST(sum(c) * 1000 // count(*) AS BIGINT) AS inflation_ppk
    FROM g GROUP BY source ORDER BY source
"""


@_q("corpus_dedup_inflation", _INFLATION_SQL)
def corpus_dedup_inflation(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-duplicate inflation per source: document count vs
    distinct-text count, the duplicated share in ppm, and the
    inflation factor in ppk (n/distinct ≥ 1000) — the first number a
    corpus report quotes per source, and the denominator correction
    every mixture weight needs before repeats are planned
    (corpus_epoch_plan, round9_ops.py).

    Scale shape: one groupBy on (source, text) — map-side combinable,
    and the only pass that touches the text bytes — then a
    |sources|-group rollup of the counts."""
    g = (
        t(spark, sf, "documents")
        .groupBy("source", "text")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("distinct_texts"),
            F.expr("CAST(sum(c) - count(*) AS BIGINT)").alias("dup_docs"),
            F.expr(
                "CAST((sum(c) - count(*)) * 1000000 div sum(c) AS BIGINT)"
            ).alias("dup_share_ppm"),
            F.expr("CAST(sum(c) * 1000 div count(*) AS BIGINT)").alias(
                "inflation_ppk"
            ),
        )
        .orderBy("source")
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
    (events_ab_lift, round5_ops.py): purchase-value means per
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
