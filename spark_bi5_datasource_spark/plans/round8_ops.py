"""Round-8 catalog additions — dataset-governance and corpus-shape
diagnostics a training-data pipeline runs before every ingest:

* data-quality expectations — Deequ-style audit (key uniqueness,
  referential integrity, range and null checks) as one stacked
  summary table over orders/lineitem/customer/events;
* k-anonymity profile — quasi-identifier group-size risk counts at
  k ∈ {2,5,10,25} over customer (nation × segment × balance bucket);
* Zipf profile — rank/frequency table with integer ppm shares,
  cumulative coverage, and the rank-doubling ratio (freq[2r]/freq[r]
  in ppm; 500 000 ≡ a perfect slope −1 Zipf law) — the float-free
  twin of a log-log slope fit, so no ln() crosses the engine
  boundary;
* source diversity — Simpson repeat-probability and inverse-Simpson
  effective vocabulary per source (the float-free concentration twin
  of Shannon entropy: both are Rényi diversities, Simpson is exact
  in integer pair counts);
* top user paths — the 10 most common 3-step event journeys
  (deterministic sort_array/string_agg ordering on (rn));
* sliding WAU — 7-day rolling distinct-user counts per day with the
  DAU/WAU stickiness ratio in ppm, via the explode-7-offsets
  contribution trick (never a per-day range self-join);
* Bollinger bands — rolling 7-day mean ± 2σ over the daily revenue
  series with breach flags, variance from EXACT integer moment sums
  (thousand-dollar units) inside the window frame (rolling float
  sums are accumulation-order-dependent across engines; integer
  moments are not);
* boilerplate span inventory — the top-20 exact 12-token passages
  shared across the most documents (the C4-style boilerplate-removal
  candidate list; complements text_span_dedup's per-doc fractions);
* tolerance-bounded as-of join — pandas ``merge_asof(tolerance=...)``
  semantics: the backward match is DISCARDED (nulled, row kept) when
  it is older than the tolerance window — staleness control for
  feature lookups.

Oracle policy unchanged: counts and pair sums ride BIGINT; the two
Simpson ratios divide exact integers as IEEE doubles (conversion and
division are correctly rounded in both engines, so the doubles are
bit-identical) before one half-adjust cast; everything else is pure
integer ppm arithmetic.  Reference parity note: the reference
(spark-2.4/src/main/scala/be/salvania/BI5DataSource.scala) is a
read-only scan connector — this module is part of the
beyond-reference query surface the mandate adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import term_count_partials
from ..operators import asof_join
from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import t

_TKS = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"
_TKS_D = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"

# ---------------------------------------------- data-quality expectations

_DQ_SQL = """
    WITH oa AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS pk_dup,
        CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS bad_price
      FROM orders
    ), la AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS bad_qty,
        CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0
          END) AS BIGINT) AS bad_disc
      FROM lineitem
    ), ca AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS pk_dup
      FROM customer
    ), ea AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS null_ts,
        CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS null_val
      FROM events
    )
    SELECT * FROM (
      SELECT 'orders' AS tbl, 'pk_unique' AS chk, total,
        pk_dup AS violations FROM oa
      UNION ALL
      SELECT 'orders', 'totalprice_positive', total, bad_price FROM oa
      UNION ALL
      SELECT 'orders', 'fk_custkey_customer',
        (SELECT total FROM oa),
        (SELECT CAST(count(*) AS BIGINT) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'lineitem', 'quantity_positive', total, bad_qty FROM la
      UNION ALL
      SELECT 'lineitem', 'discount_in_unit_range', total, bad_disc FROM la
      UNION ALL
      SELECT 'lineitem', 'fk_orderkey_orders',
        (SELECT total FROM la),
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'customer', 'pk_unique', total, pk_dup FROM ca
      UNION ALL
      SELECT 'events', 'ts_not_null', total, null_ts FROM ea
      UNION ALL
      SELECT 'events', 'value_not_null', total, null_val FROM ea
    ) ORDER BY tbl, chk
"""


@_q("dq_expectations", _DQ_SQL)
def dq_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ-style data-quality audit: primary-key uniqueness,
    referential integrity, range checks, and null checks across four
    tables, emitted as one (tbl, chk, total, violations) summary — the
    gate a pipeline runs before promoting an ingest batch.

    Scale shape: each table contributes ONE scan — the per-table
    aggregate computes every non-join check in a single map-side-
    combinable pass (sum(CASE..) + one exact count distinct on the key
    column), then 2-4 scalar rows are stacked; the two FK checks are
    left-anti joins whose build side is just the key column (broadcast
    under AQE when small, shuffled hash above).  Output is O(checks)
    rows regardless of input size."""
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    c = t(spark, sf, "customer")
    e = t(spark, sf, "events")

    oa = o.agg(
        F.count("*").cast("bigint").alias("total"),
        (F.count("*") - F.count_distinct("o_orderkey"))
        .cast("bigint")
        .alias("pk_dup"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("bad_price"),
    ).select(
        F.lit("orders").alias("tbl"),
        F.expr(
            "stack(2, 'pk_unique', pk_dup,"
            " 'totalprice_positive', bad_price) AS (chk, violations)"
        ),
        "total",
    )
    la = li.agg(
        F.count("*").cast("bigint").alias("total"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("bad_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_disc"),
    ).select(
        F.lit("lineitem").alias("tbl"),
        F.expr(
            "stack(2, 'quantity_positive', bad_qty,"
            " 'discount_in_unit_range', bad_disc) AS (chk, violations)"
        ),
        "total",
    )
    ca = c.agg(
        F.count("*").cast("bigint").alias("total"),
        (F.count("*") - F.count_distinct("c_custkey"))
        .cast("bigint")
        .alias("pk_dup"),
    ).select(
        F.lit("customer").alias("tbl"),
        F.expr("stack(1, 'pk_unique', pk_dup) AS (chk, violations)"),
        "total",
    )
    ea = e.agg(
        F.count("*").cast("bigint").alias("total"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_ts"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_val"),
    ).select(
        F.lit("events").alias("tbl"),
        F.expr(
            "stack(2, 'ts_not_null', null_ts,"
            " 'value_not_null', null_val) AS (chk, violations)"
        ),
        "total",
    )

    def _orphans(child, key, parent, pkey, tbl, chk):
        n = child.select(F.col(key)).join(
            parent.select(F.col(pkey).alias(key)), key, "left_anti"
        )
        tot = child.agg(F.count("*").cast("bigint").alias("total"))
        return (
            n.agg(F.count("*").cast("bigint").alias("violations"))
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(tbl).alias("tbl"),
                F.lit(chk).alias("chk"),
                "violations",
                "total",
            )
        )

    fk1 = _orphans(o, "o_custkey", c, "c_custkey", "orders", "fk_custkey_customer")
    fk2 = _orphans(
        li, "l_orderkey", o, "o_orderkey", "lineitem", "fk_orderkey_orders"
    )
    cols = ["tbl", "chk", "total", "violations"]
    out = (
        oa.select(cols)
        .unionAll(la.select(cols))
        .unionAll(ca.select(cols))
        .unionAll(ea.select(cols))
        .unionAll(fk1.select(cols))
        .unionAll(fk2.select(cols))
    )
    return out.orderBy("tbl", "chk")


# ---------------------------------------------------- k-anonymity profile

_KANON_SQL = """
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        CAST(count(*) AS BIGINT) AS sz
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(k AS BIGINT) AS k,
      CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        AS groups_below,
      CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        AS rows_at_risk,
      CAST(count(*) AS BIGINT) AS total_groups,
      CAST(min(sz) AS BIGINT) AS min_group_size
    FROM q CROSS JOIN (SELECT unnest([2, 5, 10, 25]) AS k)
    GROUP BY k ORDER BY k
"""


@_q("dq_k_anonymity", _KANON_SQL)
def dq_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity risk profile: customers grouped by the
    quasi-identifier triple (nation, market segment, account-balance
    1000-bucket); for each k in {2, 5, 10, 25} report how many QI
    groups fall below k and how many rows sit in them — the standard
    re-identification audit before releasing a dataset.
    ``floor(c_acctbal / 1000.0)`` is IEEE division + floor, identical
    in both engines.

    Scale shape: one map-side-combinable groupBy on the QI columns;
    the four k thresholds are folded as conditional sums in a single
    second aggregation over the (much smaller) group-size table, then
    stacked — no join, no second scan, output is exactly 4 rows."""
    q = (
        t(spark, sf, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").alias(
                "bal_bucket"
            ),
        )
        .agg(F.count("*").cast("bigint").alias("sz"))
    )
    aggs = [
        F.count("*").cast("bigint").alias("total_groups"),
        F.min("sz").cast("bigint").alias("min_group_size"),
    ]
    for k in (2, 5, 10, 25):
        aggs.append(
            F.sum(F.when(F.col("sz") < k, 1).otherwise(0))
            .cast("bigint")
            .alias(f"gb{k}")
        )
        aggs.append(
            F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias(f"rar{k}")
        )
    flat = q.agg(*aggs)
    return flat.select(
        F.expr(
            "stack(4, 2L, gb2, rar2, 5L, gb5, rar5, 10L, gb10, rar10,"
            " 25L, gb25, rar25) AS (k, groups_below, rows_at_risk)"
        ),
        "total_groups",
        "min_group_size",
    ).orderBy("k")


# -------------------------------------------------------- Zipf profile

_ZIPF_SQL = f"""
    WITH tok AS (
      SELECT unnest({_TKS_D}) AS term FROM documents
    ), c AS (
      SELECT term, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY term
    ), tot AS (
      SELECT CAST(sum(freq) AS BIGINT) AS total FROM c
    ), r AS (
      SELECT term, freq,
        CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rk,
        CAST(sum(freq) OVER (ORDER BY freq DESC, term
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumfreq
      FROM c
    )
    SELECT r.rk, r.term, r.freq,
      CAST(r.freq * 1000000 // tot.total AS BIGINT) AS share_ppm,
      CAST(r.cumfreq * 1000000 // tot.total AS BIGINT) AS cum_ppm,
      CAST(d.freq * 1000000 // r.freq AS BIGINT) AS doubling_ppm
    FROM r CROSS JOIN tot
    LEFT JOIN r d ON d.rk = r.rk * 2
    WHERE r.rk <= 50
    ORDER BY r.rk
"""


@_q("tok_zipf_profile", _ZIPF_SQL)
def tok_zipf_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law profile of the corpus token distribution: the top-50
    rank/frequency table with integer ppm share, cumulative coverage,
    and the rank-doubling ratio freq[2r]/freq[r] in ppm — for an ideal
    Zipf law with slope −1 the doubling ratio is 500 000 at every
    rank, so deviation from 500k IS the slope diagnostic, computed in
    pure integer arithmetic (the float-free twin of a log-log
    regression; no ln() crosses the engine boundary).

    Scale shape: the Arrow partial-count kernel
    (functions.text.term_count_partials — measured ~1.8x the fused
    JVM split+explode at x1000) emits ≤|batch
    vocab| partial rows per batch, reduced by one groupBy-sum to the
    same exact counts; the ranking window runs over the
    POST-AGGREGATION vocabulary (bounded by |distinct terms|, not
    corpus size); the doubling lookup is a broadcast self-join of the
    ≤100 leading ranks; the 1-row total rides an identity
    broadcast."""
    c = (
        term_count_partials(t(spark, sf, "documents"))
        .groupBy("term")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
    )
    # r13: the rank/cumsum window used to run single-partition over
    # the WHOLE vocabulary for a top-50 answer (bounded but
    # single-threaded O(|vocab| log |vocab|), and the window subtree
    # re-executed for the doubling branch).  A distributed
    # TakeOrdered(100) prefix first makes the window a 100-row
    # triviality; rk/cumfreq values over the prefix are identical by
    # construction (prefix sums depend only on higher-ranked rows,
    # and (freq DESC, term) is a total order).  sf0.1-neutral
    # (0.878 → 0.873 same-window, result-equal) — this is a scale-
    # shape fix, not a bench win.
    top = c.orderBy(F.desc("freq"), "term").limit(100)
    wo = Window.orderBy(F.desc("freq"), "term")
    r = top.select(
        "term",
        "freq",
        F.row_number().over(wo).cast("bigint").alias("rk"),
        F.sum("freq")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cumfreq"),
    )
    tot = c.agg(F.sum("freq").cast("bigint").alias("total"))
    dbl = r.select(
        (F.col("rk")).alias("drk"), F.col("freq").alias("dfreq")
    )
    return (
        r.where("rk <= 50")
        .crossJoin(F.broadcast(tot))
        .withColumn("rk2", F.expr("rk * 2"))
        .join(F.broadcast(dbl), F.col("drk") == F.col("rk2"), "left")
        .select(
            "rk",
            "term",
            "freq",
            F.expr("freq * 1000000 div total").cast("bigint").alias("share_ppm"),
            F.expr("cumfreq * 1000000 div total")
            .cast("bigint")
            .alias("cum_ppm"),
            F.expr("dfreq * 1000000 div freq")
            .cast("bigint")
            .alias("doubling_ppm"),
        )
        .orderBy("rk")
    )


# --------------------------------------------------- source diversity

_DIVERSITY_SQL = f"""
    WITH tok AS (
      SELECT source, unnest({_TKS_D}) AS term FROM documents
    ), c AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY source, term
    ), s AS (
      SELECT source,
        CAST(sum(cnt) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS vocab,
        CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS pairs,
        CAST(max(cnt) AS BIGINT) AS top_cnt
      FROM c GROUP BY source
    )
    SELECT source, n_tokens, vocab,
      CASE WHEN n_tokens > 1 THEN
        CAST(round((pairs / (n_tokens * (n_tokens - 1.0))) * 1000000)
          AS BIGINT) END AS simpson_ppm,
      CASE WHEN pairs > 0 THEN
        CAST(round(((n_tokens * (n_tokens - 1.0)) / pairs) * 1000)
          AS BIGINT) END AS eff_vocab_milli,
      CAST(top_cnt * 1000000 // n_tokens AS BIGINT) AS top_share_ppm
    FROM s ORDER BY source
"""


@_q("text_source_diversity", _DIVERSITY_SQL)
def text_source_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Token-distribution concentration per source: Simpson
    repeat-probability (the chance two tokens drawn without
    replacement are equal, in ppm), inverse-Simpson effective
    vocabulary (milli-types), and the single most frequent token's
    share — the float-free concentration twins of Shannon entropy
    (all Rényi diversities; Simpson is order-2 and exact in integer
    pair counts, entropy needs ln() which is not correctly rounded
    across engines).  The two ratios divide exact BIGINTs as IEEE
    doubles — conversion, subtraction, multiplication, and division
    are all correctly rounded, so both engines compute bit-identical
    doubles before the one half-adjust cast.

    Scale shape: the Arrow partial-count kernel
    (functions.text.term_count_partials) tokenizes and pre-counts per
    batch, so the (source, term) shuffle carries ≤|vocab|·|sources|
    partials instead of ~10⁸ token rows (measured 16.2→9.1 s at
    x1000); then one |sources|-row reduction
    — Σ cnt·(cnt−1) stays in BIGINT (bounded by n_tokens²/vocab per
    source: ~4·10¹⁴ at x1000), the n·(n−1) denominator rides a
    double so it never overflows."""
    c = (
        term_count_partials(t(spark, sf, "documents"), ("source",))
        .groupBy("source", "term")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    s = c.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        F.sum(F.expr("cnt * (cnt - 1)")).cast("bigint").alias("pairs"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    simpson = _HA.format(
        x="pairs / (n_tokens * (n_tokens - 1.0D))", m="1000000"
    )
    eff = _HA.format(x="(n_tokens * (n_tokens - 1.0D)) / pairs", m="1000")
    return s.select(
        "source",
        "n_tokens",
        "vocab",
        F.expr(f"CASE WHEN n_tokens > 1 THEN {simpson} END").alias(
            "simpson_ppm"
        ),
        F.expr(f"CASE WHEN pairs > 0 THEN {eff} END").alias(
            "eff_vocab_milli"
        ),
        F.expr("top_cnt * 1000000 div n_tokens")
        .cast("bigint")
        .alias("top_share_ppm"),
    ).orderBy("source")


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


# -------------------------------------------- boilerplate span inventory

_BP_W, _BP_S = 12, 4

_BOILER_SQL = f"""
    WITH d AS (
      SELECT doc_id, {_TKS_D} AS tks FROM documents
    ), dd AS (
      SELECT doc_id, tks FROM d WHERE len(tks) >= {_BP_W}
    ), spans AS (
      SELECT doc_id,
        array_to_string(tks[(i * {_BP_S}) + 1 : (i * {_BP_S}) + {_BP_W}],
                        ' ') AS span
      FROM dd, unnest(generate_series(0,
        (len(tks) - {_BP_W}) // {_BP_S})) AS u(i)
    )
    SELECT span,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs,
      CAST(count(*) AS BIGINT) AS occurrences
    FROM spans GROUP BY span
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY ndocs DESC, occurrences DESC, span LIMIT 20
"""


@_q("text_boilerplate_spans", _BOILER_SQL)
def text_boilerplate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate inventory: the 20 exact 12-token passages shared
    by the most distinct documents (stride-4 windows, ≥2 docs) — the
    candidate list a C4-style boilerplate-removal pass strips
    corpus-wide.  text_span_dedup scores documents BY these spans;
    this op surfaces the spans themselves with document and
    occurrence counts.

    Scale shape: identical span stream to text_span_dedup (∝
    tokens/stride), ONE shuffle keyed on the span computing distinct
    docs and occurrences together, then a top-20 tail.  At 100 TB
    the span key hashes to 64 bits before the shuffle; exact strings
    kept here so the oracle certifies the pipeline end to end."""
    d = (
        t(spark, sf, "documents")
        .select("doc_id", F.expr(_TKS).alias("tks"))
        .filter(F.size("tks") >= _BP_W)
    )
    spans = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(tks) - {_BP_W}) div {_BP_S}),"
                f" i -> array_join(slice(tks, i * {_BP_S} + 1, {_BP_W}),"
                f" ' '))"
            )
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("ndocs"),
            F.count("*").cast("bigint").alias("occurrences"),
        )
        .where(F.col("ndocs") >= 2)
        .orderBy(F.desc("ndocs"), F.desc("occurrences"), "span")
        .limit(20)
    )


# ------------------------------------------- tolerance-bounded as-of

_ASOF_TOL_SQL = """
    SELECT e.event_id, e.user_id,
      CASE WHEN o.o_orderdate >= e.ts - INTERVAL 30 DAY
           THEN o.o_orderdate END AS recent_order_date
    FROM events e ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""


@_q("join_asof_tolerance", _ASOF_TOL_SQL)
def join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join with a staleness bound — pandas
    ``merge_asof(tolerance=Timedelta('30D'))`` semantics: each event
    takes the latest order at-or-before it, but a match older than 30
    days is nulled out (the row survives) — the freshness contract a
    feature-store point-in-time lookup enforces.  The oracle expresses
    the same thing as an unbounded ASOF LEFT JOIN + CASE; the engine
    applies the bound inside the operator.  Tie determinism: the only
    carried value column is the match time itself, so equal-timestamp
    right rows are indistinguishable and both engines agree.

    Scale shape: identical to join_asof_events_orders — one union +
    last-value window over a shared (user_id) partitioning (no
    row-multiplying join, no range self-join); the tolerance adds a
    per-row comparison, zero extra shuffles."""
    e = t(spark, sf, "events").select("event_id", "user_id", "ts")
    o = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        "o_orderdate",
    )
    joined = asof_join(e, o, on="ts", by="user_id", tolerance="30 DAY")
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderdate").alias("recent_order_date"),
    )
