"""Round-4 catalog: SQL-interface TPC-H pack (q13/q18/q22 shapes over
the fixture columns), interval-overlap join (bin-blocked), rolling
correlation from exact integer moments, co-occurrence graph + triangle
counting, dataset-mixture resampling, and cumulative-distinct users.

Oracle policy matches analytics_ops: deterministic, SQL-expressible
operators carry an exact DuckDB twin; money/value arithmetic runs in
scaled-integer space before any FP step so sums are order-independent
and engine-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .fastmoney import spark_fast_sql
from .registry import query as _q
from .tables import t

# one tokenization, same regex as the text/analytics tiers
_TKS_R4 = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"


# ------------------------------------------------- TPC-H q13 shape


_Q13_SQL = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM {p}customer c
      LEFT OUTER JOIN {p}orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
"""


@_q("sql_tpch_q13", _Q13_SQL.format(p=""))
def sql_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q13 (customer order-count distribution) through the SQL
    interface: outer join with an ON-clause filter on the null-
    producing side — the decorrelation-free outer-aggregate shape that
    trips engines which push the filter below the join.  Two hash
    aggregations; the second runs over |customers| rows only."""
    for tb in ("customer", "orders"):
        t(spark, sf, tb).createOrReplaceTempView(f"q13_{tb}")
    return spark.sql(spark_fast_sql(_Q13_SQL).format(p="q13_"))


# ------------------------------------------------- TPC-H q18 shape


_Q18_SQL = """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM {p}customer c
    JOIN {p}orders o ON c.c_custkey = o.o_custkey
    JOIN {p}lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM {p}lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 120
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
"""


@_q("sql_tpch_q18", _Q18_SQL.format(p=""))
def sql_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q18 (large-volume customers) via spark.sql: an IN
    subquery over a grouped HAVING — Catalyst rewrites it to a
    left-semi join against the aggregated lineitem, so the big table
    is scanned twice but never nested-looped.  Quantities are
    integral in the fixtures; summing them as BIGINT keeps the HAVING
    threshold and the output sums exact on both engines."""
    for tb in ("customer", "orders", "lineitem"):
        t(spark, sf, tb).createOrReplaceTempView(f"q18_{tb}")
    return spark.sql(spark_fast_sql(_Q18_SQL).format(p="q18_"))


# ------------------------------------------------- TPC-H q22 shape


_Q22_SQL = """
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / count(*) AS a
      FROM {p}customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 AS totacctbal
    FROM {p}customer c CROSS JOIN avg_bal
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) > avg_bal.a
      AND NOT EXISTS (
        SELECT 1 FROM {p}orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c.c_mktsegment
"""


@_q("sql_tpch_q22", _Q22_SQL.format(p=""))
def sql_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q22 shape (wealthy customers with no urgent orders,
    grouped by market segment) via spark.sql: an uncorrelated scalar
    subquery
    (the global average balance, broadcast as a literal-like one-row
    join) AND a correlated NOT EXISTS (anti join) in one query.
    Balances are compared and summed as exact cents (scaled BIGINT)
    so the average threshold and the totals are order-independent."""
    for tb in ("customer", "orders"):
        t(spark, sf, tb).createOrReplaceTempView(f"q22_{tb}")
    return spark.sql(spark_fast_sql(_Q22_SQL).format(p="q22_"))


# --------------------------------------------- VARIANT (semi-structured)


@_q(
    "scalar_variant_funcs",
    """
    SELECT event_id,
      CAST(json_extract(props, '$.k') AS INT) AS k,
      json_extract(props, '$.missing') IS NULL AS no_such_path,
      CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod
    FROM events
    """,
)
def scalar_variant_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 VARIANT type over the JSON props column: parse once
    into the binary semi-structured encoding, then typed path
    extraction (``variant_get``) and missing-path probes
    (``try_variant_get``) — the modern engine path for schema-on-read
    JSON, replacing per-access string re-parsing (get_json_object,
    covered by scalar_json_funcs) with a decoded tree the optimizer
    can push into.  The oracle reads the same paths with DuckDB's
    JSON extraction, certifying values and null semantics."""
    e = t(spark, sf, "events").withColumn("v", F.parse_json("props"))
    return e.select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        F.expr("try_variant_get(v, '$.missing', 'string')")
        .isNull()
        .alias("no_such_path"),
        (F.expr("variant_get(v, '$.k', 'int')") % 10).alias("k_mod"),
    )


# ------------------------------------------------- TPC-H q6 shape


_Q6_SQL = """
    SELECT (CAST(sum(CAST(round(l_extendedprice * l_discount * 1000000)
                          AS BIGINT)) AS DOUBLE) / 1000000.0) AS revenue,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM {p}lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
"""


@_q("sql_tpch_q6", _Q6_SQL.format(p=""))
def sql_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q6 (forecasting revenue change) via spark.sql — the
    purest pushdown probe in the suite: three range predicates and a
    single global aggregate, no join.  All three filters must reach
    the parquet scan (PushedFilters) and the sum runs partial+final;
    the scaled-long idiom keeps the money total exact."""
    t(spark, sf, "lineitem").createOrReplaceTempView("q6_lineitem")
    return spark.sql(spark_fast_sql(_Q6_SQL).format(p="q6_"))


# ------------------------------------------------ TPC-H q10 shape


_Q10_SQL = """
    SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
           (CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                * 1000000) AS BIGINT)) AS DOUBLE)
            / 1000000.0) AS revenue
    FROM {p}customer c
    JOIN {p}orders o ON c.c_custkey = o.o_custkey
    JOIN {p}lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN {p}nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@_q("sql_tpch_q10", _Q10_SQL.format(p=""))
def sql_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q10 (returned-item reporting: top-20 customers by lost
    revenue) via spark.sql: a three-table fact join with a broadcast
    dim, selective date + returnflag filters pushed to both fact
    scans, grouped aggregation over customer attributes, global
    top-k via TakeOrderedAndProject — the canonical reporting query
    shape."""
    for tb in ("customer", "orders", "lineitem", "nation"):
        t(spark, sf, tb).createOrReplaceTempView(f"q10_{tb}")
    return spark.sql(spark_fast_sql(_Q10_SQL).format(p="q10_"))


# ------------------------------------------------ TPC-H q14 shape


_Q14_SQL = """
    SELECT (100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%%'
             THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 1000000) AS BIGINT) ELSE 0 END) AS DOUBLE)
            / CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 1000000) AS BIGINT)) AS DOUBLE))
           AS promo_revenue_pct
    FROM {p}lineitem l
    JOIN {p}part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@_q("sql_tpch_q14", _Q14_SQL.format(p="").replace("%%", "%"))
def sql_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q14 (promotion effect) via spark.sql: conditional
    aggregation over a fact⋈dim join — part broadcasts, the month
    filter prunes lineitem at the scan, and the CASE-weighted ratio
    is computed from two exact scaled-long sums (the division is the
    only FP step, identical on both engines)."""
    for tb in ("lineitem", "part"):
        t(spark, sf, tb).createOrReplaceTempView(f"q14_{tb}")
    return spark.sql(spark_fast_sql(_Q14_SQL).format(p="q14_").replace("%%", "%"))


# ----------------------------------------- interval-overlap join
#
# Intervals are derived deterministically from events: start = ts,
# duration = (round(value*100) % 3600) + 60 seconds (integral, 1-61
# min).  The query side is the first 300 event ids; a pair matches
# when the two same-type intervals overlap (half-open [s, e)).

_IV_DUR = "(CAST(round(value * 100) AS BIGINT) % 3600 + 60)"


_OVERLAP_SQL = f"""
    WITH iv AS (
      SELECT event_id, event_type, epoch_us(ts) AS s,
             epoch_us(ts) + {_IV_DUR} * 1000000 AS e
      FROM events
    )
    SELECT a.event_id AS a_id, b.event_id AS b_id,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT)
             AS overlap_us
    FROM iv a JOIN iv b
      ON a.event_type = b.event_type
     AND a.s < b.e AND b.s < a.e
     AND a.event_id <> b.event_id
    WHERE a.event_id < 300
"""


@_q("join_interval_overlap", _OVERLAP_SQL)
def join_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap join (same-type event intervals that
    intersect) via BIN BLOCKING: each interval explodes to the hour
    buckets it covers (<=2 here, duration-bounded), candidates meet
    on the (type, bucket) equi-key, duplicates collapse, and only
    candidates evaluate the exact overlap predicate.  The oracle is
    the naive theta join, so the driver hash match certifies the
    blocking lost no pair.

    At 100 TB the theta join is a cross product per type; the binned
    rewrite's shuffle is instead ∝ Σ interval-hours, the same
    filter-and-verify discipline as the fuzzy/grep ops.  Skewed
    buckets (one hot hour) fall back to the salted-join escape hatch."""
    from ..operators.interval_join import interval_overlap_join

    iv = t(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("s"),
        (F.expr("unix_micros(ts)") + F.expr(spark_fast_sql(_IV_DUR)) * 1_000_000).alias("e"),
    )
    pairs = interval_overlap_join(
        iv.filter(F.col("event_id") < 300), iv, on=["event_type"]
    )
    return pairs.filter(F.col("event_id") != F.col("b_event_id")).select(
        F.col("event_id").alias("a_id"),
        F.col("b_event_id").alias("b_id"),
        (F.least("e", "b_e") - F.greatest("s", "b_s"))
        .cast("bigint")
        .alias("overlap_us"),
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


# ------------------------------------- co-occurrence graph + triangles


def _copurchase_pairs(lineitem) -> DataFrame:
    """Node-ordered co-purchase pairs (u < v), one row per distinct
    (order, u, v) — the basket pattern: ONE collect_set groupBy keys
    the baskets (per-order dedup comes free from the set semantics),
    then pairs unfold JVM-side from the sorted array with
    higher-order functions.  No self-join, no post-join distinct: the
    bounded ~C(items-per-order, 2) fan-out exists only between the
    generator and the next aggregation's map-side partials.  Clean
    head-to-head at x1000 (600M lineitem → 1.2B pairs): basket 234 s
    vs self-join + post-join distinct 250 s, with the smallest shuffle
    footprint of the three strategies tried (the pre-join-distinct variant
    exhausted shuffle disk first under concurrent load) — the pair
    stream itself is the remaining cost, and it partitions linearly
    across executors (HISTORY.md "Graph pair-counting")."""
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey))").alias("parts"))
        .where(F.expr("size(parts) >= 2"))
    )

    # r13: the pair unfold runs as a vectorized Arrow kernel instead
    # of the interpreted transform/slice/flatten HOF chain (Catalyst
    # HOFs have no codegen; the chain was ~0.3 s of the sf0.1 pair
    # stage vs ~0.14 for the kernel).  Emitted (u, v) multisets are
    # identical (pinned by test_copurchase_kernel_parity).
    from ..operators.pairs import unfold_sorted_pairs

    return unfold_sorted_pairs(baskets, "parts")


def _salted_wedge_join(x, y, key: str, salt_on: str, hub_cap: int = 4096,
                       salts: int = 16):
    """Skew guard for wedge generation (the r6 verdict's power-law
    note): ``x.join(y, key)`` where ``key`` is the shared middle
    node, except that HUB keys — y-side multiplicity > ``hub_cap`` —
    are salted: each x row takes one deterministic salt
    (``pmod(xxhash64(salt_on), salts)``), each hub y row replicates
    across all ``salts``, so a hub's deg² wedge fan-out spreads over
    ``salts`` shuffle tasks instead of landing on one.  Non-hub keys
    ride salt 0 — on a benign degree distribution (the fixtures) the
    hub set is empty, the broadcast is empty, and the join reduces to
    the plain equi-join with the SAME row set (each matching (x, y)
    pair meets at exactly one salt), so downstream aggregates hash
    identically with or without the guard (pinned in
    tests/test_round4_properties.py).

    Cost: one |y| counting pass for the hub set (broadcast — a graph
    has few nodes above any sane cap) and ×salts replication of hub
    rows only; the deg² work itself is the query's answer and cannot
    shrink, only spread.  Measured on a planted power-law graph in
    HISTORY.md ("Wedge skew guard")."""
    hubs = (
        y.groupBy(key)
        .agg(F.count("*").alias("__kc"))
        .where(F.col("__kc") > hub_cap)
        .select(key, F.lit(True).alias("__hub"))
    )
    xs = (
        x.join(F.broadcast(hubs), key, "left")
        .withColumn(
            "__salt",
            F.when(
                F.col("__hub").isNotNull(),
                F.pmod(F.xxhash64(salt_on), F.lit(salts)),
            ).otherwise(F.lit(0)),
        )
        .drop("__hub")
    )
    ys = (
        y.join(F.broadcast(hubs), key, "left")
        .withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("__hub").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("__hub")
    )
    return xs.join(ys, [key, "__salt"]).drop("__salt")


_TRI_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) m
    GROUP BY node
    ORDER BY triangles DESC, node
    LIMIT 50
"""


@_q("graph_triangle_count", _TRI_SQL)
def graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts
    co-occurring in >= 2 orders).  Edges are node-ordered (u < v) so
    each triangle materializes exactly once as (a < b < c) — the
    standard distributed formulation: one self-join extends edges to
    wedges, one more equi-join closes them; no wedge ever leaves the
    shuffle keyed on its endpoints.  Per-order fan-out is bounded
    (<= items-per-order choose 2), so the pair explosion is linear in
    lineitem with a small constant — and it is generated basket-side
    (one collect_set groupBy + array HOF unfold, `_copurchase_pairs`)
    so the fan-out never enters a join or a distinct.  Returns the
    top-50 parts by triangle membership."""
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
    e2 = e.toDF("v", "w")
    e3 = e.toDF("u3", "w3")
    tri = (
        _salted_wedge_join(e, e2, "v", "u")
        .join(
            e3,
            (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")),
            "semi",
        )
        .select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("w").alias("c"))
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
        .orderBy(F.col("triangles").desc(), "node")
        .limit(50)
    )


# --------------------------------------- dataset mixture resampling
#
# Target mixture: even-numbered sources get weight 2, odd get weight 1
# (the fixtures are uniform, so a non-trivial target is imposed).
# Deterministic acceptance: md5-fingerprint mod 1e6 < keep_ppm, where
# keep_ppm is exact integer arithmetic — reproducible across engines,
# runs, and partitionings, and commutes with dedup (content-keyed).

_MIX_SQL = """
    WITH w AS (
      SELECT source, count(*) AS cnt,
        CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
             THEN 2 ELSE 1 END AS wt
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(cnt) AS n, sum(wt) AS sw FROM w
    ), rates AS (
      SELECT source, cnt,
        least(1000000, (n * wt * 1000000) // (sw * cnt)) AS keep_ppm
      FROM w CROSS JOIN tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE CAST(
        ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || d.text),
                        1, 12)) AS BIGINT) % 1000000 < r.keep_ppm
"""


@_q("sample_mixture", _MIX_SQL)
def sample_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-mixture resampling: downsample each source toward a
    target weight profile (the core knob of LLM data curation —
    up/down-weighting web vs books vs code).  Per-source keep rates
    come from exact integer arithmetic over the count table (tiny,
    broadcast); acceptance is a content-keyed md5 threshold, so the
    sample is reproducible under any partitioning and commutes with
    dedup.  One aggregation + one broadcast join — no sampler state,
    no RNG."""
    d = t(spark, sf, "documents")
    w = d.groupBy("source").agg(F.count("*").alias("cnt")).withColumn(
        "wt",
        F.when(F.substring("source", 4, 10).cast("int") % 2 == 0, 2).otherwise(1),
    )
    tot = w.agg(F.sum("cnt").alias("n"), F.sum("wt").alias("sw"))
    rates = w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1_000_000).cast("bigint"),
            F.expr("(n * wt * 1000000) div (sw * cnt)"),
        ).alias("keep_ppm"),
    )
    fp = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), "text")),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(fp < F.col("keep_ppm"))
        .select("doc_id", "source")
    )


# -------------------------------------------- sentence statistics


@_q(
    "text_sentence_stats",
    """
    WITH s AS (
      SELECT doc_id,
        list_filter(
          list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
          x -> x <> '') AS sents
      FROM documents
    ), e AS (
      SELECT doc_id, unnest(sents) AS sent FROM s
    ), w AS (
      SELECT doc_id, sent,
        len(list_filter(string_split_regex(lower(sent), '[^a-z]+'),
                        x -> x <> '')) AS nw
      FROM e
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
      CAST(sum(nw) AS BIGINT) AS n_words,
      round(CAST(sum(nw) AS DOUBLE) / count(*), 6) AS words_per_sentence,
      CAST(max(nw) AS BIGINT) AS max_sentence_words
    FROM w GROUP BY doc_id
    """,
)
def text_sentence_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document sentence segmentation statistics (sentence count,
    word totals, mean/max sentence length) — the readability tier of
    the quality stack: run-on or fragment-heavy documents score far
    from the natural-language band.  Punctuation split + trim + word
    count all in one generator pass; one hash aggregation keyed on
    doc."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(split(text, '[.!?]+'), x -> trim(x)),"
                " x -> x <> '')"
            )
        ).alias("sent"),
    )
    w = d.select(
        "doc_id",
        F.size(
            F.expr("filter(split(lower(sent), '[^a-z]+'), x -> x <> '')")
        ).alias("nw"),
    )
    return w.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_sentences"),
        F.sum("nw").cast("bigint").alias("n_words"),
        F.round(F.sum("nw").cast("double") / F.count("*"), 6).alias(
            "words_per_sentence"
        ),
        F.max("nw").cast("bigint").alias("max_sentence_words"),
    )


# ------------------------------------------- dedup cluster profile


def _cluster_sizes_sql() -> str:
    from .llm_ops import _PAIRS_SQL

    return (
        _PAIRS_SQL
        + """
    , sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), closure(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT c.a, s.b FROM closure c JOIN sym s ON c.b = s.a
    ), comp AS (
      SELECT a AS node, least(a, min(b)) AS component
      FROM closure GROUP BY a
    ), csz AS (
      SELECT component, count(*) AS sz FROM comp GROUP BY 1
    ), hist AS (
      SELECT sz, count(*) AS n_clusters FROM csz GROUP BY 1
    ), singles AS (
      SELECT 1 AS sz,
        (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)
          AS n_clusters
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(sum(n_clusters) AS BIGINT) AS n_clusters
    FROM (SELECT * FROM hist
          UNION ALL SELECT * FROM singles WHERE n_clusters > 0) u
    GROUP BY sz
    """
    )


@_q("dedup_cluster_sizes", _cluster_sizes_sql())
def dedup_cluster_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate cluster-size histogram (cluster_size →
    n_clusters, singletons included) — the curation report that tells
    you HOW duplicated a crawl is, not just which rows survive.
    Composition: jaccard pairs → connected components → two tiny
    aggregations; everything heavy is the already-verified components
    machinery."""
    from .llm_ops import dedup_components

    docs = t(spark, sf, "documents")
    comp = dedup_components(spark, sf)
    csz = comp.groupBy("component").agg(F.count("*").alias("sz"))
    hist = csz.groupBy("sz").agg(F.count("*").alias("n_clusters"))
    totals = docs.agg(F.count("*").alias("nd")).crossJoin(
        comp.agg(F.count("*").alias("nc"))
    )
    singles = totals.select(
        F.lit(1).alias("sz"), (F.col("nd") - F.col("nc")).alias("n_clusters")
    ).filter(F.col("n_clusters") > 0)
    return (
        hist.unionByName(singles)
        .groupBy("sz")
        .agg(F.sum("n_clusters").cast("bigint").alias("n_clusters"))
        .select(F.col("sz").cast("bigint").alias("cluster_size"), "n_clusters")
    )


# --------------------------------------------- BPE-merge training


@_q("text_bpe_train", None)
def text_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE-merge training over the documents corpus
    (operators/bpe.py): 12 merges learned in word-count space — the
    subword tokenizer-training step of an LLM data pipeline.  No SQL
    oracle (inherently iterative: each merge conditions on the
    previous one); pinned by exact merge-sequence equality against a
    pure-Python reference trainer in tests/test_operators.py."""
    from ..operators.bpe import train_bpe

    return train_bpe(
        spark, t(spark, sf, "documents"), num_merges=12, min_pair_count=2
    )


@_q("text_bpe_encode", None)
def text_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer application: encode every document with the learned
    BPE merges (train on the corpus, then GPT-2-style lowest-rank
    merge loop per word inside an Arrow-batched pandas UDF with the
    tiny merge table in the closure).  Completes the tokenizer
    pipeline: train (text_bpe_train) → encode → count.  No SQL
    oracle (the encode loop is iterative per word); pinned by exact
    token-sequence equality against the pure-Python reference encoder
    in tests/test_round4_ops.py.  Token arrays are surfaced as a
    joined prefix string so the rows-only driver check sees a stable
    value column."""
    from ..operators.bpe import encode_bpe, train_bpe

    merges = [
        (r["left"], r["right"])
        for r in train_bpe(
            spark, t(spark, sf, "documents"), num_merges=12
        ).collect()
    ]
    enc = encode_bpe(t(spark, sf, "documents"), merges)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.slice("tokens", 1, 30), " ").alias("token_prefix"),
    )


# ----------------------------------------------- span-level dedup
#
# Substring-level duplication report (the signal behind train-data
# substring dedup a la "Deduplicating Training Data Makes Language
# Models Better"): overlapping token windows (12 tokens, stride 4)
# hashed... kept as exact strings here, counted across documents; a
# span appearing in >= 2 distinct docs is duplicated, and each doc
# reports the fraction of its spans that are duplicated.

_SPAN_W, _SPAN_S = 12, 4


_SPAN_SQL = f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS tks
      FROM documents
    ), dd AS (
      SELECT doc_id, tks FROM d WHERE len(tks) >= {_SPAN_W}
    ), spans AS (
      SELECT doc_id,
        array_to_string(tks[(i * {_SPAN_S}) + 1 : (i * {_SPAN_S}) + {_SPAN_W}],
                        ' ') AS span
      FROM dd, unnest(generate_series(0,
        (len(tks) - {_SPAN_W}) // {_SPAN_S})) AS u(i)
    ), df AS (
      SELECT span, count(DISTINCT doc_id) AS ndocs
      FROM spans GROUP BY span
    )
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      round(CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS dup_span_frac
    FROM spans s JOIN df USING (span)
    GROUP BY s.doc_id
"""


@_q("text_span_dedup", _SPAN_SQL)
def text_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document substring-duplication report: overlapping
    12-token windows (stride 4) counted across the corpus; a doc's
    score is the fraction of its windows appearing in >= 2 distinct
    documents — the detection side of substring-level dedup (docs
    above a threshold get their duplicated spans cut or the doc
    dropped).

    Scale shape: span stream ∝ tokens/stride, one shuffle keyed on
    the span for the document-frequency count, one more keyed back on
    doc for the report.  At 100 TB spans would hash to 64-bit keys
    before the shuffle (8-byte keys vs ~80-byte strings); kept exact
    strings here so the DuckDB twin certifies the full pipeline."""
    d = (
        t(spark, sf, "documents")
        .select("doc_id", F.expr(_TKS_R4).alias("tks"))
        .filter(F.size("tks") >= _SPAN_W)
    )
    spans = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(tks) - {_SPAN_W}) div {_SPAN_S}),"
                f" i -> array_join(slice(tks, i * {_SPAN_S} + 1, {_SPAN_W}),"
                f" ' '))"
            )
        ).alias("span"),
    )
    df_ = spans.groupBy("span").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    return (
        spans.join(df_, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.round(
                F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("dup_span_frac"),
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
