"""TPC-H pack: the ``sql_tpch_*`` queries (q2, q4, q6-q22) — the
official shapes run as SQL text, adapted to the fixture schema where
the official columns are absent:

- there is no ``partsupp`` table -> the distinct (l_partkey, l_suppkey)
  pairs of ``lineitem`` serve as the part-supplier bridge (q2/q11/q16/
  q20), and q9's supply cost is the deterministic expression
  ``0.6 * p_retailprice * l_quantity``;
- there are no ``l_commitdate``/``l_receiptdate`` columns -> "late"
  is re-expressed as ``l_shipdate > o_orderdate + INTERVAL n DAY``
  (q4/q12/q21);
- there are no ``p_container``/``l_shipmode``/``l_shipinstruct``
  columns -> q12 classes on ``l_returnflag``; q17/q19 predicate on
  ``p_brand``/``p_size``/``l_quantity`` only.

Every query keeps the ORIGINAL plan-stressing shape — correlated
scalar subqueries (q2/q17), EXISTS/NOT EXISTS chains (q4/q21), CTE +
self-aggregation (q11/q15), OR-of-conjunction pushdown (q19),
NOT IN (q16), nested semi-joins (q20), eight-table join tree (q8/q9)
— which is what the SQL-interface tier is certifying.  With q1/q3/q5
(DataFrame-API twins in relational.py) this covers all 22 TPC-H
shapes.

Oracle policy: both engines run the SAME SQL text (modulo view
prefix); money sums ride the scaled-BIGINT idiom so totals are
order-independent and engine-identical; every LIMIT has a total
ORDER BY.  q8 (a hand-shaped DataFrame join tree) and q14 (its LIKE
pattern escapes ``%``) register with ``query`` directly.  One escape
hatch: ``_q(..., spark_sql=...)`` substitutes a restructured
statement on the Spark side ONLY (the oracle always runs the original
text), used when a Spark plan shape needs restructuring (q21's
distinct-count rewrite); any such substitute carries the obligation
of value-hash equality against the original at every checked SF.
Reference parity note: the reference delegates ALL SQL to stock
Spark (spark-2.4/…/Bi5DataSourceReader.scala exposes only the scan),
so this tier is certified against DuckDB, not reference code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .fastmoney import spark_fast_sql
from .registry import query
from .tables import t


def _q(
    name: str,
    sql: str,
    tables: tuple[str, ...],
    spark_sql: str | None = None,
):
    """Register a SQL-interface query: the Spark side materializes the
    needed fixture tables as prefixed temp views and runs the same
    logical statement DuckDB gets (prefix-free) — modulo the
    ``spark_fast_sql`` money-idiom rewrite, which keeps the scaled-
    BIGINT sums inside whole-stage codegen (see fastmoney.py; the
    oracle text keeps ``round()``).  ``spark_sql`` substitutes a
    restructured-but-hash-identical statement on the Spark side only
    (the oracle always runs ``sql``)."""

    def wrap(doc: str):
        p = f"{name.rsplit('_', 1)[-1]}_"
        ssql = spark_fast_sql(spark_sql if spark_sql is not None else sql)

        def fn(spark: SparkSession, sf: str) -> DataFrame:
            for tb in tables:
                t(spark, sf, tb).createOrReplaceTempView(f"{p}{tb}")
            return spark.sql(ssql.format(p=p))

        fn.__name__ = name
        fn.__doc__ = doc
        return query(name, sql.format(p=""))(fn)

    return wrap


_CENTS = "CAST(round({x} * 1000000) AS BIGINT)"
_REV = _CENTS.format(x="l.l_extendedprice * (1 - l.l_discount)")


# ------------------------------------------------- q2: min-cost supplier

_Q2_SQL = """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      FROM {p}lineitem
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name
    FROM {p}part p
    JOIN ps ON p.p_partkey = ps.ps_partkey
    JOIN {p}supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN {p}nation n ON s.s_nationkey = n.n_nationkey
    JOIN {p}region r ON n.n_regionkey = r.r_regionkey
    WHERE p.p_size < 20 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
      AND s.s_acctbal = (
        SELECT min(s2.s_acctbal)
        FROM ps ps2
        JOIN {p}supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN {p}nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN {p}region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
      )
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
"""

sql_tpch_q2 = _q(
    "sql_tpch_q2", _Q2_SQL, ("lineitem", "part", "supplier", "nation", "region")
)(
    """TPC-H q2 shape (min-cost supplier per part within a region)
    with lineitem's distinct (partkey, suppkey) pairs standing in for
    partsupp and s_acctbal for ps_supplycost.  The plan stressor is
    the correlated scalar MIN subquery over the same bridge CTE —
    Catalyst decorrelates it into an aggregate + join rather than a
    per-row nested loop.  Equality on the DOUBLE acctbal is safe:
    both engines compare the identical parquet-read values.  The
    ORDER BY is total (suppkey x partkey unique per row)."""
)


# ------------------------------------------------- q4: order priority

_Q4_SQL = """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM {p}orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM {p}lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
"""

sql_tpch_q4 = _q("sql_tpch_q4", _Q4_SQL, ("orders", "lineitem"))(
    """TPC-H q4 (order-priority checking): correlated EXISTS whose
    predicate references BOTH sides (l_shipdate vs o_orderdate + 60
    days — the fixture-adapted lateness test, since l_commitdate /
    l_receiptdate don't exist).  Catalyst plans it as a left-semi
    join with the date filter above the join; the aggregate then runs
    over the filtered quarter of orders only."""
)


# ------------------------------------------------- q8: national market share

_Q8_SQL = f"""
    WITH vol AS (
      SELECT year(o.o_orderdate) AS o_year,
             {_REV} AS volume,
             n2.n_name AS supp_nation
      FROM {{p}}part p
      JOIN {{p}}lineitem l ON p.p_partkey = l.l_partkey
      JOIN {{p}}supplier s ON s.s_suppkey = l.l_suppkey
      JOIN {{p}}orders o ON o.o_orderkey = l.l_orderkey
      JOIN {{p}}customer c ON c.c_custkey = o.o_custkey
      JOIN {{p}}nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN {{p}}region r ON n1.n_regionkey = r.r_regionkey
      JOIN {{p}}nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE 0 END) AS DOUBLE)
           / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM vol
    GROUP BY o_year
    ORDER BY o_year
"""


@query("sql_tpch_q8", _Q8_SQL.format(p=""))
def sql_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q8 (national market share) — hand-shaped join tree.

    The literal SQL form passes the 60 M-row fact stream through
    SEVEN joins with the selective ASIA filter applied dead last
    (region is the outermost dim), so the stream stays full-width
    through customer and nation.  Measured piecewise at x100:
    1.76 s, of which the post-orders dim
    chain alone was 0.72 s.  This shape pre-reduces the dims BEFORE
    the stream is touched — supplier⋈nation composes the share
    dimension into one broadcast, customer⋈nation⋈region(ASIA)
    collapses to a broadcast key SET (300 k keys at x100, 1/5 the
    naive customer build), and the ASIA+date filters land on orders
    before its single co-bucketed SMJ with lineitem — 1.12 s at x100
    (the orders-broadcast variant measured WORSE, 3.7 s: a 4 M-row
    hashed relation rebuilt per executor wave).  Lineitem is scanned
    once; volumes are exact scaled BIGINTs, so the share division is
    a deterministic DOUBLE over exact integers."""
    from pyspark.sql import functions as F

    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    n = t(spark, sf, "nation")
    supp_n = (
        t(spark, sf, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    asia_cust = (
        t(spark, sf, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(n.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                t(spark, sf, "region")
                .filter(F.col("r_name") == "ASIA")
                .select(F.col("r_regionkey").alias("rk"))
            ),
            F.col("n_regionkey") == F.col("rk"),
        )
        .select("c_custkey")
    )
    ord_asia = (
        t(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(
            F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .select("o_orderkey", "o_orderdate")
    )
    part_promo = (
        t(spark, sf, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    vol = (
        li.join(F.broadcast(part_promo), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ord_asia, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.expr(
                spark_fast_sql(
                    _CENTS.format(x="l_extendedprice * (1 - l_discount)")
                )
            ).alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3", F.col("volume")
                    ).otherwise(0)
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ------------------------------------------------- q9: product-type profit

_Q9_SQL = f"""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           CAST(sum({_REV}
                    - {_CENTS.format(x="0.6 * p.p_retailprice * l.l_quantity")})
                AS DOUBLE) / 1000000.0 AS sum_profit
    FROM {{p}}part p
    JOIN {{p}}lineitem l ON p.p_partkey = l.l_partkey
    JOIN {{p}}supplier s ON s.s_suppkey = l.l_suppkey
    JOIN {{p}}orders o ON o.o_orderkey = l.l_orderkey
    JOIN {{p}}nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, year(o.o_orderdate)
    ORDER BY nation, o_year
"""

sql_tpch_q9 = _q(
    "sql_tpch_q9", _Q9_SQL, ("part", "lineitem", "supplier", "orders", "nation")
)(
    """TPC-H q9 (product-type profit by nation and year) with supply
    cost adapted to the deterministic ``0.6 * p_retailprice *
    l_quantity`` (no partsupp table).  Profit is computed per row as
    a DIFFERENCE of two exact scaled BIGINTs before the sum, so the
    aggregate is order-independent; the substring LIKE on p_name is
    evaluated on the (small, broadcast) part side before the fact
    join."""
)


# ------------------------------------------------- q11: important stock

_Q11_SQL = f"""
    WITH val AS (
      SELECT l.l_partkey AS ps_partkey,
             {_CENTS.format(x="l.l_extendedprice")} AS v
      FROM {{p}}lineitem l
      JOIN {{p}}supplier s ON s.s_suppkey = l.l_suppkey
      JOIN {{p}}nation n ON s.s_nationkey = n.n_nationkey
      JOIN {{p}}region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT ps_partkey,
           CAST(sum(v) AS DOUBLE) / 1000000.0 AS part_value
    FROM val
    GROUP BY ps_partkey
    HAVING sum(v) > (SELECT sum(v) * 0.001 FROM val)
    ORDER BY part_value DESC, ps_partkey
"""

sql_tpch_q11 = _q(
    "sql_tpch_q11", _Q11_SQL, ("lineitem", "supplier", "nation", "region")
)(
    """TPC-H q11 (important stock): per-part value held by one
    region's suppliers, kept only where it exceeds a fraction of the
    grand total — the HAVING-against-uncorrelated-scalar-subquery
    shape, with lineitem value standing in for ps_supplycost *
    ps_availqty.  Both the per-part sums and the global threshold
    are exact scaled BIGINTs (the 0.001 fraction scales the exact
    total once), so the > comparison is engine-identical.  The CTE
    is evaluated twice (once per aggregate) — Catalyst and DuckDB
    both plan it that way; at 100 TB the val frame would be a cached
    intermediate table."""
)


# ------------------------------------------------- q12: ship-class priority

_Q12_SQL = """
    SELECT l.l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM {p}orders o
    JOIN {p}lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    ORDER BY ship_class
"""

sql_tpch_q12 = _q("sql_tpch_q12", _Q12_SQL, ("orders", "lineitem"))(
    """TPC-H q12 (shipping-mode priority split) classed on
    l_returnflag (no l_shipmode column) with the late-receipt test
    adapted to ``l_shipdate >= o_orderdate + 30 days``.  The shape
    under test: conditional aggregation (pivoted CASE sums) above a
    fact-fact join where one predicate references both sides — the
    date filters push to the lineitem scan, the cross-table
    comparison stays in the join."""
)


# ------------------------------------------------- q15: top supplier

_Q15_SQL = f"""
    WITH revenue AS (
      SELECT l.l_suppkey AS supplier_no, sum({_REV}) AS total_rev
      FROM {{p}}lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(rv.total_rev AS DOUBLE) / 1000000.0 AS total_revenue
    FROM {{p}}supplier s
    JOIN revenue rv ON s.s_suppkey = rv.supplier_no
    WHERE rv.total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s.s_suppkey
"""

sql_tpch_q15 = _q("sql_tpch_q15", _Q15_SQL, ("lineitem", "supplier"))(
    """TPC-H q15 (top supplier): the view-self-aggregation shape —
    quarterly revenue per supplier, then the row(s) equal to the
    global max.  Because revenue totals are exact scaled BIGINTs the
    max-equality is safe (the official query has the same
    double-rounding hazard; the integer idiom removes it).  Catalyst
    evaluates the revenue CTE once per reference; both engines pick
    the same two-pass plan."""
)


# ------------------------------------------------- q16: supplier relationships

_Q16_SQL = """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      FROM {p}lineitem
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN {p}part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM {p}supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""

sql_tpch_q16 = _q("sql_tpch_q16", _Q16_SQL, ("lineitem", "part", "supplier"))(
    """TPC-H q16 (part/supplier relationship count): distinct-count
    of suppliers per (brand, type, size) bucket over the lineitem
    bridge, excluding blacklisted suppliers via NOT IN (negative
    acctbal standing in for the complaints LIKE, which needs the
    absent s_comment).  Stresses NOT IN null-semantics planning
    (null-safe anti join) under a count(DISTINCT) aggregate."""
)


# ------------------------------------------------- q17: small-quantity revenue

_Q17_SQL = f"""
    SELECT CAST(sum({_CENTS.format(x="l.l_extendedprice")}) AS DOUBLE)
           / 7000000.0 AS avg_yearly
    FROM {{p}}lineitem l
    JOIN {{p}}part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#12', 'Brand#13', 'Brand#14')
      AND p.p_size < 26
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM {{p}}lineitem l2
        WHERE l2.l_partkey = p.p_partkey
      )
"""

sql_tpch_q17 = _q("sql_tpch_q17", _Q17_SQL, ("lineitem", "part"))(
    """TPC-H q17 (small-quantity-order revenue): the correlated
    scalar AVG subquery against the same fact table — Catalyst
    rewrites it to a per-partkey aggregate joined back to the
    filtered scan (two passes over lineitem, no nested loop).
    Quantities are integral doubles, so avg() is an exact-integer
    sum over a count and the 0.2x threshold is engine-identical;
    the container predicate is adapted to brand+size."""
)


# ------------------------------------------------- q19: OR-of-conjunctions

_Q19_SQL = f"""
    SELECT CAST(sum({_REV}) AS DOUBLE) / 1000000.0 AS revenue
    FROM {{p}}lineitem l
    JOIN {{p}}part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 20 AND 30)
"""

sql_tpch_q19 = _q("sql_tpch_q19", _Q19_SQL, ("lineitem", "part"))(
    """TPC-H q19 (discounted revenue, disjunctive predicates): three
    OR-ed brand/size/quantity conjunctions spanning both join sides
    (shipmode/container/instruct legs dropped with their columns).
    The optimizer extracts the common join key, pushes the
    single-side residuals (brand+size to part, quantity to lineitem
    as a range union), and evaluates the cross-side disjunction in
    the join — the classic CNF-extraction probe."""
)


# ------------------------------------------------- q20: potential promotion

_Q20_SQL = """
    SELECT s.s_name, s.s_acctbal
    FROM {p}supplier s
    JOIN {p}nation n ON s.s_nationkey = n.n_nationkey
    JOIN {p}region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'AMERICA'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM {p}lineitem l
        JOIN {p}part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING sum(CAST(l.l_quantity AS BIGINT)) > 50
      )
    ORDER BY s.s_name
"""

sql_tpch_q20 = _q(
    "sql_tpch_q20", _Q20_SQL, ("supplier", "nation", "region", "lineitem", "part")
)(
    """TPC-H q20 (potential part promotion): nested semi-join chain —
    suppliers (region-filtered; a nation filter would be empty at the
    smallest fixture scale) IN a grouped-HAVING subquery that itself
    joins lineitem to name-filtered parts, with the availqty
    threshold adapted to shipped-quantity > 50 (no partsupp).
    Quantity sums ride BIGINT so the HAVING cut is exact."""
)


# ------------------------------------------------- q21: suppliers kept waiting

_Q21_SQL = """
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM {p}supplier s
    JOIN {p}lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN {p}orders o ON o.o_orderkey = l1.l_orderkey
    JOIN {p}nation n ON s.s_nationkey = n.n_nationkey
    JOIN {p}region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F' AND r.r_name = 'ASIA'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND EXISTS (
        SELECT 1 FROM {p}lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1
        FROM {p}lineitem l3
        JOIN {p}orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
"""

# Spark-side r13 restructure: the EXISTS is equivalent to "the order
# has >= 2 distinct suppliers" and the NOT EXISTS to "exactly one
# distinct supplier ships late in the order" (the correlated o3 is
# the SAME order row, already status 'F'), so both correlated
# subqueries collapse into per-order count(DISTINCT l_suppkey)
# aggregates: lineitem is read twice instead of three times and the
# wide lineitem-vs-lineitem anti join becomes two joins against
# per-order count rows.  sf0.1: 1.22 -> 1.03 s; result hash identical
# to the untouched oracle text (_Q21_SQL) at every checked SF.
#
# r14: the late CTE inlines twice (the l1 rows and the latesupp
# aggregate) and the two copies missed ReuseExchange over ONE
# divergent pushed filter — l1's supplier join pushes
# isnotnull(l_suppkey) into its copy, latesupp's does not — so
# lineitem was scanned AND shuffled three times at x100 (plan:
# Exchange(4) 1831 MiB ≡ Exchange(35) 1831 MiB, only
# IsNotNull(l_suppkey) apart).  The explicit `l_suppkey IS NOT NULL`
# in the CTE aligns both copies (a no-op on results: the supplier
# INNER join drops null-suppkey l1 rows anyway, and count(DISTINCT
# l_suppkey) ignores nulls), so the second copy plans as a
# ReusedExchange — one fewer lineitem-scale exchange + scan
# (guide §2.4; HISTORY.md "q21 ReusedExchange").
_Q21_SPARK_SQL = """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM {p}lineitem l
      JOIN {p}orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
        AND l.l_suppkey IS NOT NULL
    ), ordsupp AS (
      SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
      FROM {p}lineitem GROUP BY l_orderkey
    ), latesupp AS (
      SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_late
      FROM late GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN ordsupp os ON os.l_orderkey = l1.l_orderkey AND os.n_supp >= 2
    JOIN latesupp ls ON ls.l_orderkey = l1.l_orderkey AND ls.n_late = 1
    JOIN {p}supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN {p}nation n ON s.s_nationkey = n.n_nationkey
    JOIN {p}region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
"""

sql_tpch_q21 = _q(
    "sql_tpch_q21",
    _Q21_SQL,
    ("supplier", "lineitem", "orders", "nation", "region"),
    spark_sql=_Q21_SPARK_SQL,
)(
    """TPC-H q21 (suppliers who kept orders waiting): the hardest
    correlation shape in the suite — one EXISTS (another supplier
    contributed to the order) and one NOT EXISTS (no OTHER supplier
    was also late) against the same fact table, both correlated on
    l_orderkey.  Lateness is the fixture-adapted shipdate test.  The
    oracle keeps the literal EXISTS/NOT EXISTS chain; the Spark side
    runs the hash-identical distinct-supplier-count restructure
    (_Q21_SPARK_SQL above).  Region-filtered (a single nation can be
    empty at sf0.001)."""
)


# ---------------------------------------------------- SQL-API surface
_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           (CAST(SUM(CAST(round(volume * 1000000) AS BIGINT)) AS DOUBLE)
            / 1000000.0) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM {p}supplier s
      JOIN {p}lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN {p}orders o ON o.o_orderkey = l.l_orderkey
      JOIN {p}customer c ON c.c_custkey = o.o_custkey
      JOIN {p}nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN {p}nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                             AND TIMESTAMP '1996-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
"""


sql_tpch_q7 = _q(
    "sql_tpch_q7", _Q7_SQL, ("supplier", "lineitem", "orders", "customer", "nation")
)(
    """TPC-H q7 (volume shipping between two nations) run through the
    *SQL interface*: fixture tables registered as temp views, the
    query submitted verbatim via spark.sql — same Catalyst plan
    space as the DataFrame API (broadcast dims, partial+final agg),
    certifying the engine's SQL entry point against the identical
    DuckDB text.  Money sums use the scaled-long idiom (exact,
    order-independent)."""
)


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


sql_tpch_q13 = _q("sql_tpch_q13", _Q13_SQL, ("customer", "orders"))(
    """TPC-H q13 (customer order-count distribution) through the SQL
    interface: outer join with an ON-clause filter on the null-
    producing side — the decorrelation-free outer-aggregate shape that
    trips engines which push the filter below the join.  Two hash
    aggregations; the second runs over |customers| rows only."""
)


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


sql_tpch_q18 = _q(
    "sql_tpch_q18", _Q18_SQL, ("customer", "orders", "lineitem")
)(
    """TPC-H q18 (large-volume customers) via spark.sql: an IN
    subquery over a grouped HAVING — Catalyst rewrites it to a
    left-semi join against the aggregated lineitem, so the big table
    is scanned twice but never nested-looped.  Quantities are
    integral in the fixtures; summing them as BIGINT keeps the HAVING
    threshold and the output sums exact on both engines."""
)


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


sql_tpch_q22 = _q("sql_tpch_q22", _Q22_SQL, ("customer", "orders"))(
    """TPC-H q22 shape (wealthy customers with no urgent orders,
    grouped by market segment) via spark.sql: an uncorrelated scalar
    subquery
    (the global average balance, broadcast as a literal-like one-row
    join) AND a correlated NOT EXISTS (anti join) in one query.
    Balances are compared and summed as exact cents (scaled BIGINT)
    so the average threshold and the totals are order-independent."""
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


sql_tpch_q6 = _q("sql_tpch_q6", _Q6_SQL, ("lineitem",))(
    """TPC-H q6 (forecasting revenue change) via spark.sql — the
    purest pushdown probe in the suite: three range predicates and a
    single global aggregate, no join.  All three filters must reach
    the parquet scan (PushedFilters) and the sum runs partial+final;
    the scaled-long idiom keeps the money total exact."""
)


# ------------------------------------------------ TPC-H q10 shape


_Q10_SQL = f"""
    SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
           (CAST(sum({_REV}) AS DOUBLE) / 1000000.0) AS revenue
    FROM {{p}}customer c
    JOIN {{p}}orders o ON c.c_custkey = o.o_custkey
    JOIN {{p}}lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN {{p}}nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


sql_tpch_q10 = _q(
    "sql_tpch_q10", _Q10_SQL, ("customer", "orders", "lineitem", "nation")
)(
    """TPC-H q10 (returned-item reporting: top-20 customers by lost
    revenue) via spark.sql: a three-table fact join with a broadcast
    dim, selective date + returnflag filters pushed to both fact
    scans, grouped aggregation over customer attributes, global
    top-k via TakeOrderedAndProject — the canonical reporting query
    shape."""
)


# ------------------------------------------------ TPC-H q14 shape


_Q14_SQL = f"""
    SELECT (100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%%'
             THEN {_REV} ELSE 0 END) AS DOUBLE)
            / CAST(sum({_REV}) AS DOUBLE))
           AS promo_revenue_pct
    FROM {{p}}lineitem l
    JOIN {{p}}part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@query("sql_tpch_q14", _Q14_SQL.format(p="").replace("%%", "%"))
def sql_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q14 (promotion effect) via spark.sql: conditional
    aggregation over a fact⋈dim join — part broadcasts, the month
    filter prunes lineitem at the scan, and the CASE-weighted ratio
    is computed from two exact scaled-long sums (the division is the
    only FP step, identical on both engines)."""
    for tb in ("lineitem", "part"):
        t(spark, sf, tb).createOrReplaceTempView(f"q14_{tb}")
    return spark.sql(spark_fast_sql(_Q14_SQL).format(p="q14_").replace("%%", "%"))
