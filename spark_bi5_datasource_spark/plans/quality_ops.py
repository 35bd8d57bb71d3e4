"""Data-quality catalog: ``dq_*`` checks (expectations, null profiles,
referential integrity, reconciliation, drift, k-anonymity, Benford)
and ``profile_*`` table/join profiles over the fixture tables.

Each check is deterministic and SQL-expressible, so each carries an
exact DuckDB twin; rates are half-up integer ppm, counts BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import t


# ------------------------------------------------- data profiling
_PROFILE_NUMERIC = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
]
_PROFILE_OTHER = ["l_returnflag", "l_linestatus", "l_shipdate"]


def _profile_oracle() -> str:
    branches = []
    for c in _PROFILE_NUMERIC:
        branches.append(
            f"SELECT '{c}' AS col_name,"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f"   AS n_nulls,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" round(CAST(min({c}) AS DOUBLE), 6) AS min_d,"
            f" round(CAST(max({c}) AS DOUBLE), 6) AS max_d FROM lineitem"
        )
    for c in _PROFILE_OTHER:
        branches.append(
            f"SELECT '{c}',"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT),"
            f" CAST(count(DISTINCT {c}) AS BIGINT),"
            f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM lineitem"
        )
    return " UNION ALL ".join(branches)


@_q("profile_lineitem", _profile_oracle())
def profile_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Column profiling (null counts, exact distinct counts, numeric
    ranges) in ONE scan: all per-column measures ride a single
    aggregate, then unpivot to a row per column.  The multi-
    count_distinct EXPAND is the standard profiling cost; at 100 TB
    swap in approx_count_distinct (agg_approx_sketches is that tier).
    The oracle computes each column independently — a hash match
    certifies the fused single-pass plan."""
    li = t(spark, sf, "lineitem")
    aggs, structs = [], []
    for c in _PROFILE_NUMERIC + _PROFILE_OTHER:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
        if c in _PROFILE_NUMERIC:
            aggs.append(F.round(F.min(c).cast("double"), 6).alias(f"mn_{c}"))
            aggs.append(F.round(F.max(c).cast("double"), 6).alias(f"mx_{c}"))
    one = li.agg(*aggs)
    for c in _PROFILE_NUMERIC + _PROFILE_OTHER:
        mn = F.col(f"mn_{c}") if c in _PROFILE_NUMERIC else F.lit(None).cast("double")
        mx = F.col(f"mx_{c}") if c in _PROFILE_NUMERIC else F.lit(None).cast("double")
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"nn_{c}").alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                mn.alias("min_d"),
                mx.alias("max_d"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# ------------------------------------------ join-skew diagnosis
@_q(
    "profile_join_skew",
    """
    WITH e AS (
      SELECT user_id AS k, count(*) AS n_events
      FROM events GROUP BY user_id
    ), o AS (
      SELECT o_custkey AS k, count(*) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT e.k, CAST(e.n_events AS BIGINT) AS n_events,
           CAST(o.n_orders AS BIGINT) AS n_orders,
           CAST(e.n_events * o.n_orders AS BIGINT) AS join_rows
    FROM e JOIN o USING (k)
    ORDER BY join_rows DESC, k ASC
    LIMIT 20
    """,
)
def profile_join_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Join-skew diagnosis: the 20 keys contributing the most output
    rows to an events-orders join (per-side key counts multiplied) —
    the report that decides whether a key needs the salted-join
    escape hatch.  Two map-side-combined aggregations over key-sized
    tables; the event log and order log are each scanned once."""
    e = t(spark, sf, "events").groupBy(
        F.col("user_id").alias("k")
    ).agg(F.count("*").alias("n_events"))
    o = t(spark, sf, "orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count("*").alias("n_orders"))
    return (
        e.join(o, "k")
        .select(
            "k",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            (F.col("n_events") * F.col("n_orders"))
            .cast("bigint")
            .alias("join_rows"),
        )
        .orderBy(F.col("join_rows").desc(), F.col("k").asc())
        .limit(20)
    )


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
    dq_distribution_drift).  Fabricated or synthetic
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


# ------------------------------------- referential-integrity audit
_REFINT_SQL = """
    WITH checks AS (
      SELECT 'lineitem.l_orderkey->orders' AS fk,
        (SELECT count(*) FROM lineitem) AS n_child,
        (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
        (SELECT count(*) FROM lineitem),
        (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM part p
                           WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
        (SELECT count(*) FROM lineitem),
        (SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM supplier s
                           WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 'orders.o_custkey->customer',
        (SELECT count(*) FROM orders),
        (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey))
    )
    SELECT fk, CAST(n_child AS BIGINT) AS n_child,
      CAST(n_orphans AS BIGINT) AS n_orphans,
      CAST(n_orphans * 1000000 // n_child AS BIGINT) AS orphan_ppm
    FROM checks ORDER BY fk
"""


@_q("dq_referential_integrity", _REFINT_SQL)
def dq_referential_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Foreign-key orphan audit across the four star-schema edges:
    per edge, the child row count, the count of non-null child keys
    with no parent (left-anti join), and the orphan rate in exact
    ppm — the ingestion gate every warehouse load runs before a
    snapshot is trusted (intact TPC-H fixtures audit to zero, which
    is the assertion).

    Scale shape: each edge is one anti-join keyed on the FK — Spark
    picks broadcast for dim-sized parents (part/supplier/customer)
    and a shuffled hash anti-join for orders; the per-edge result is
    a 1-row scalar aggregate pair (documented plan-audit bound) and
    the union is 4 rows."""
    edges = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
    ]
    frames = []
    for fk, child, ck, parent, pk in edges:
        c = t(spark, sf, child)
        p = t(spark, sf, parent).select(F.col(pk).alias(ck))
        n_child = c.agg(F.count("*").cast("bigint").alias("n_child"))
        orphans = (
            c.select(ck)
            .where(F.col(ck).isNotNull())
            .join(p, ck, "left_anti")
            .agg(F.count("*").cast("bigint").alias("n_orphans"))
        )
        frames.append(
            n_child.crossJoin(orphans).select(
                F.lit(fk).alias("fk"), "n_child", "n_orphans"
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out.select(
        "fk", "n_child", "n_orphans",
        F.expr("CAST(n_orphans * 1000000 div n_child AS BIGINT)").alias(
            "orphan_ppm"
        ),
    ).orderBy("fk")


# -------------------------------------------- per-column null audit

_NULLPROF_SQL = """
    WITH p AS (
      SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        count(*) - count(doc_id) AS n_null,
        count(DISTINCT doc_id) AS n_distinct FROM documents
      UNION ALL
      SELECT 'text', count(*), count(*) - count(text),
        count(DISTINCT text) FROM documents
      UNION ALL
      SELECT 'lang', count(*), count(*) - count(lang),
        count(DISTINCT lang) FROM documents
      UNION ALL
      SELECT 'source', count(*), count(*) - count(source),
        count(DISTINCT source) FROM documents
      UNION ALL
      SELECT 'n_chars', count(*), count(*) - count(n_chars),
        count(DISTINCT n_chars) FROM documents
    )
    SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
      CAST(n_null AS BIGINT) AS n_null,
      CAST(n_distinct AS BIGINT) AS n_distinct,
      CAST(n_null * 1000000 // n_rows AS BIGINT) AS null_ppm
    FROM p ORDER BY col_name
"""


@_q("dq_null_profile", _NULLPROF_SQL)
def dq_null_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column completeness/cardinality profile of the documents
    table: row count, null count, exact distinct count, null rate in
    ppm — one row per column, the schema-drift companion to
    dq_expectations (which checks value RANGES; this checks SHAPE).

    Scale shape: ONE aggregate pass computes every column's metrics —
    Spark plans the multi-column distinct via Expand (x|cols| row
    multiplication feeding partial aggregates, here x5), which
    map-side-combines before the single shuffle; the stack() unpivot
    runs on the 1-row result."""
    d = t(spark, sf, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(
            (F.count("*") - F.count(c)).alias(f"null_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    one = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', null_{c}, dist_{c}" for c in cols
    )
    return (
        one.select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack}) AS (col_name, n_null,"
                " n_distinct)"
            ),
        )
        .select(
            "col_name",
            F.col("n_rows").cast("bigint"),
            F.col("n_null").cast("bigint"),
            F.col("n_distinct").cast("bigint"),
            F.expr("CAST(n_null * 1000000 div n_rows AS BIGINT)").alias(
                "null_ppm"
            ),
        )
        .orderBy("col_name")
    )


# ------------------------------------- order/lineitem reconciliation
_RECON_SQL = """
    WITH lc AS (
      SELECT l_orderkey,
        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
          * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS actual_c
      FROM lineitem GROUP BY l_orderkey
    ), j AS (
      SELECT o.o_orderstatus,
        CAST(round(o.o_totalprice * 100) AS BIGINT) AS expected_c,
        lc.actual_c
      FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CASE WHEN abs(expected_c - actual_c) > 100
               THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
      CAST(sum(abs(expected_c - actual_c)) AS BIGINT) AS total_abs_diff_c,
      CAST(sum(CASE WHEN abs(expected_c - actual_c) > 100
               THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        AS mismatch_ppm
    FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@_q("dq_order_reconciliation", _RECON_SQL)
def dq_order_reconciliation(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table money reconciliation: per order, the header total
    vs the sum of line charges extprice·(1-disc)·(1+tax), both
    half-adjusted to exact integer cents PER ROW before any sum (the
    fastmoney discipline — the double product is computed identically
    by both engines, and once in cents the aggregation is exact), a
    mismatch flag at a 1-dollar tolerance, and per-status totals —
    the classic "does the header lie" audit on a denormalized feed.
    The synthetic fixture's headers are independent of its lines, so
    the audit REPORTS near-total mismatch — which is the point: the
    numbers are deterministic and the oracle pins them.

    Scale shape: one map-side-combinable per-order aggregate over
    lineitem, one equi-join to orders on the natural clustering key
    (exchange-free under the bucketed layout, the q21 shape), one
    |status|-row rollup."""
    li = t(spark, sf, "lineitem")
    lc = li.groupBy("l_orderkey").agg(
        F.sum(
            F.expr(
                _HA.format(
                    x="l_extendedprice * (1 - l_discount) * (1 + l_tax)",
                    m="100",
                )
            )
        )
        .cast("bigint")
        .alias("actual_c")
    )
    od = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr(_HA.format(x="o_totalprice", m="100")).alias("expected_c"),
    )
    j = od.join(lc, od.o_orderkey == lc.l_orderkey)
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.expr(
                    "CASE WHEN abs(expected_c - actual_c) > 100"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_mismatch"),
            F.sum(F.expr("abs(expected_c - actual_c)"))
            .cast("bigint")
            .alias("total_abs_diff_c"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "n_mismatch",
            "total_abs_diff_c",
            F.expr("CAST(n_mismatch * 1000000 div n_orders AS BIGINT)").alias(
                "mismatch_ppm"
            ),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------- event-ordering audit
_ORDERING_SQL = """
    WITH s AS (
      SELECT event_type, ts,
        lag(ts) OVER (PARTITION BY event_type ORDER BY event_id) AS pts
      FROM events WHERE ts IS NOT NULL
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_steps,
      CAST(sum(CASE WHEN ts < pts THEN 1 ELSE 0 END) AS BIGINT)
        AS n_regressions,
      CAST(sum(CASE WHEN ts < pts THEN 1 ELSE 0 END) * 1000000
        // count(*) AS BIGINT) AS regression_ppm,
      CAST(max(CASE WHEN ts < pts
               THEN date_diff('microseconds', ts, pts) ELSE 0 END)
        AS BIGINT) AS max_regression_us
    FROM s WHERE pts IS NOT NULL
    GROUP BY event_type ORDER BY event_type
"""


@_q("dq_event_ordering", _ORDERING_SQL)
def dq_event_ordering(spark: SparkSession, sf: str) -> DataFrame:
    """Ingestion-order audit: within each event type, how often does
    the timestamp REGRESS along the append order (event_id)?  Reports
    step count, regression count/rate (ppm) and the worst backward
    jump in exact integer microseconds — the check that decides
    whether downstream sessionization can trust arrival order or must
    sort (and how much watermark slack a streaming twin needs).

    Scale shape: one type-keyed lag window over (event_id, ts) pairs,
    then a |types|-row rollup — single exchange."""
    s = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL")
        .select(
            "event_type",
            "ts",
            F.lag("ts")
            .over(Window.partitionBy("event_type").orderBy("event_id"))
            .alias("pts"),
        )
    )
    return (
        s.where("pts IS NOT NULL")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_steps"),
            F.sum(F.expr("CASE WHEN ts < pts THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_regressions"),
            F.max(
                F.expr(
                    "CASE WHEN ts < pts"
                    " THEN unix_micros(pts) - unix_micros(ts) ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("max_regression_us"),
        )
        .select(
            "event_type",
            "n_steps",
            "n_regressions",
            F.expr(
                "CAST(n_regressions * 1000000 div n_steps AS BIGINT)"
            ).alias("regression_ppm"),
            "max_regression_us",
        )
        .orderBy("event_type")
    )


# --------------------------------------------- duplicate-event audit
_DUPEVENT_SQL = """
    WITH g AS (
      SELECT event_type, user_id, ts, value,
        CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id, ts, value
    )
    SELECT event_type,
      CAST(sum(c) AS BIGINT) AS n_events,
      CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_groups,
      CAST(sum(c - 1) AS BIGINT) AS n_extra_rows,
      CAST(sum(c - 1) * 1000000 // sum(c) AS BIGINT) AS extra_ppm
    FROM g GROUP BY event_type ORDER BY event_type
"""


@_q("dq_duplicate_event_audit", _DUPEVENT_SQL)
def dq_duplicate_event_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicate-event audit per type: identical
    (user, ts, type, value) tuples collapsed, reporting the group
    count, the surplus rows a retry/at-least-once pipeline injected,
    and the surplus rate in exact ppm — the idempotency check run
    before any counting metric downstream is believed (a clean feed
    audits to zero surplus, which is the assertion on the fixture).

    Scale shape (hash-first two-pass, r9): pass 1 exchanges ONLY the
    8-byte xxhash64 of the tuple into a complete count (explicit
    repartition — on a clean feed every group is unique, so a
    partial+final plan re-hashes 100M rows/wave for no reduction),
    pass 2 re-groups EXACTLY the rows whose hash is duplicated (hash
    collisions are resolved here, so the result is exact; the dup
    hash set broadcasts — it is bounded by the surplus row count,
    ~0 on a clean feed), plus a |types|-row totals pass.  Measured
    x1000: 6.6 → 4.74 s (ratio 3.28×, from 4.6×).  The remaining gap
    is the 100M-unique-key complete-agg engine constant: pass 1
    ALONE measures 4.5 s, and every alternative measured worse —
    full-tuple two-pass 5.7 s (r8), partial+final hash pass 5.9 s,
    sortWithinPartitions + vectorized Arrow dup-scan 4.2 s
    (HISTORY.md "Duplicate-event audit")."""
    ev = t(spark, sf, "events").select(
        "event_type", "user_id", "ts", "value"
    )
    n = spark.sparkContext.defaultParallelism
    h = F.xxhash64("event_type", "user_id", "ts", "value")
    dup_h = (
        ev.select(h.alias("__h"))
        .repartition(n, "__h")
        .groupBy("__h")
        .agg(F.count("*").alias("__hc"))
        .filter("__hc > 1")
        .select("__h")
    )
    dups = (
        ev.withColumn("__h", h)
        .join(F.broadcast(dup_h), "__h")
        .groupBy("event_type", "user_id", "ts", "value")
        .agg(F.count("*").cast("bigint").alias("c"))
        .filter("c > 1")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_dup_groups"),
            F.sum(F.expr("c - 1")).cast("bigint").alias("n_extra_rows"),
        )
    )
    totals = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return (
        totals.join(dups, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce("n_dup_groups", F.lit(0))
            .cast("bigint")
            .alias("n_dup_groups"),
            F.coalesce("n_extra_rows", F.lit(0))
            .cast("bigint")
            .alias("n_extra_rows"),
            F.expr(
                "CAST(coalesce(n_extra_rows, 0) * 1000000 div n_events"
                " AS BIGINT)"
            ).alias("extra_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------- doc/embedding coverage audit
_DOCVEC_SQL = """
    WITH d AS (
      SELECT doc_id, source FROM documents
    ), e AS (
      SELECT vec_id FROM embeddings
    ), per AS (
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_with_vec
      FROM d LEFT JOIN e ON e.vec_id = d.doc_id
      GROUP BY d.source
    ), orphans AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM e LEFT JOIN d ON d.doc_id = e.vec_id
      WHERE d.doc_id IS NULL
    ), nullsrc AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM d WHERE source IS NULL
    )
    SELECT source, n_docs, n_with_vec,
      CAST(n_with_vec * 1000000 // n_docs AS BIGINT) AS coverage_ppm,
      (SELECT n FROM orphans) AS orphan_vectors,
      (SELECT n FROM nullsrc) AS null_source_docs
    FROM per WHERE source IS NOT NULL ORDER BY source
"""


@_q("dq_doc_embedding_coverage", _DOCVEC_SQL)
def dq_doc_embedding_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Document↔embedding alignment audit: per source, how many
    documents have a vector (doc_id = vec_id — the pipeline contract
    between the text and embedding stages), the coverage in exact
    ppm, and the count of orphan vectors pointing at no document —
    the check an embedding-indexing pipeline runs after every
    backfill before ANN queries are allowed to trust the index.  A
    healthy pipeline audits to full coverage and zero orphans, which
    is the assertion on the fixture (the dq_referential_integrity
    discipline extended to the unstructured tier).

    Scale shape (one-pass full-outer, r9): coverage AND orphans come
    off a SINGLE full-outer id join — orphan vectors are exactly the
    NULL-document rows, so the per-source aggregate carries them as
    its NULL-source group and the scalar orphan count is a second
    aggregate over the ≤|sources|+1 post-agg rows.  The r8 shape ran
    two separate joins (per-source left + orphan left_anti) — two
    scans of each table and two id exchanges; measured x1000
    4.97 → 3.67 s, against a
    0.36 s two-table scan floor — the residual is the 5M×5M id
    exchange itself, which DuckDB's single-process in-memory hash
    join does in 0.11 s (the shuffle-constant class; at broadcast-
    able embedding-side sizes AQE would elide it, and at 100 TB the
    id-partitioned exchange is the only shape that holds).  The
    documents.source NOT NULL contract is AUDITED, not assumed: any
    NULL-source doc lands in the full-outer's NULL group with a
    non-null doc_id, is counted apart from the orphan vectors
    (doc_id NULL), and surfaces as a nonzero null_source_docs
    column."""
    d = t(spark, sf, "documents").select("doc_id", "source")
    e = t(spark, sf, "embeddings").select("vec_id")
    f = d.join(e, d.doc_id == e.vec_id, "full_outer")
    per = f.groupBy("source").agg(
        F.count("doc_id").cast("bigint").alias("n_docs"),
        F.sum(
            F.expr(
                "CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_with_vec"),
        F.sum(F.expr("CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("__orph"),
    )
    # the NULL-source group holds BOTH orphan vectors (doc_id NULL)
    # and any contract-violating NULL-source documents (doc_id NOT
    # NULL, counted by n_docs) — split them so a violation surfaces
    # as a nonzero null_source_docs column instead of folding away
    # silently (ADVICE r9).  Totals come off a GLOBAL WINDOW over the
    # ≤|sources|+1 post-agg rows rather than a crossJoin of a second
    # aggregate: an aggregate branch re-executes the whole join+agg
    # subtree (Spark plans each DataFrame reference independently —
    # observed as a second full scan pair in the executed plan), while
    # the window is a single-partition shuffle of ~21 rows on the SAME
    # pipeline — the genuinely one-pass shape.
    w = Window.partitionBy()
    return (
        per.withColumn(
            "orphan_vectors", F.sum("__orph").over(w).cast("bigint")
        )
        .withColumn(
            "null_source_docs",
            F.sum(
                F.when(
                    F.col("source").isNull(), F.col("n_docs")
                ).otherwise(F.lit(0))
            )
            .over(w)
            .cast("bigint"),
        )
        .where("source IS NOT NULL")
        .select(
            "source",
            "n_docs",
            "n_with_vec",
            F.expr(
                "CAST(n_with_vec * 1000000 div n_docs AS BIGINT)"
            ).alias("coverage_ppm"),
            "orphan_vectors",
            "null_source_docs",
        )
        .orderBy("source")
    )
