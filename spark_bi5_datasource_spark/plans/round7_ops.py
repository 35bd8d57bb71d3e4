"""Round-7 catalog additions — training-pipeline governance and
sequence-analytics composites still missing as first-class queries:

* leakage-free split — train/val assignment made per DEDUP CLUSTER,
  not per document, so near-identical texts can never straddle the
  split boundary (the classic eval-contamination bug);
* temperature-scaled mixture — the ``p_i ∝ count_i^alpha`` source
  re-weighting every multi-corpus LLM data recipe uses (alpha = 0.5
  here), computed in integer ppm so both engines agree bit-exactly;
* per-document keywords — top-3 distinctive terms per doc ranked by
  (tf DESC, df ASC): the float-free twin of per-doc TF-IDF keywords;
* user activity streaks — gaps-and-islands longest-run detection over
  the event stream (day - row_number() island key);
* CUSUM change-point scan — cumulative deviation from the series mean
  in integer cents, the standard drift detector;
* audience overlap — exact Jaccard between per-event-type user sets
  (the exact-mode twin of a theta-sketch intersection);
* nearest as-of join — pandas ``merge_asof(direction='nearest')``
  semantics via two directional as-of passes (plain ASOF JOIN can't
  express it);
* cohort lifetime value — cumulative integer-cents revenue per cohort
  age with floor-division LTV per user;
* power-user Pareto — revenue share (ppm) of the top 1/10/50 % of
  users, globally ranked WITHOUT a single-partition exchange;
* recursive-CTE hierarchy rollup — Spark 4 ``WITH RECURSIVE`` subtree
  aggregation (size / depth / integer-cents revenue);
* regex scalar tier — extract / extract_all / match / replace in the
  dialect-portable pattern subset;
* dow×hour heatmap — the ≤168-cell temporal density matrix.

Oracle policy unchanged: the same logical SQL runs in DuckDB; every
score/ratio rides integer scaling (ppm, cents) or provably-identical
IEEE primitives (sqrt is correctly rounded in both engines), so
results are engine- and partitioning-independent.  Reference parity
note: the reference (spark-2.4/src/main/scala/be/salvania/
BI5DataSource.scala) is a read-only scan connector — everything here
is the beyond-reference query surface the mandate adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import asof_join
from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import t

_TKS = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"
_TKS_D = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"

# ------------------------------------------------- leakage-free split

# LCG step keeps the hash integer-only (exact in both engines); reps
# are ≤ ~1e7 doc_ids so rep * 1103515245 stays far inside BIGINT.
_SPLIT_SQL = """
    WITH cl AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
    ), reps AS (
      SELECT h, min(doc_id) AS rep FROM cl GROUP BY h
    )
    SELECT c.doc_id, c.source, r.rep AS cluster_rep,
      CASE WHEN (r.rep * 1103515245 + 12345) % 2048 < 1638
           THEN 'train' ELSE 'val' END AS split
    FROM cl c JOIN reps r ON c.h = r.h
"""


@_q("split_leakage_free", _SPLIT_SQL)
def split_leakage_free(spark: SparkSession, sf: str) -> DataFrame:
    """Train/val split that can never leak near-duplicates across the
    boundary: documents are clustered by exact content key (md5 of
    text — any dedup clustering slots in), each cluster elects a
    representative (min doc_id), and the WHOLE cluster inherits the
    representative's split, decided by a deterministic integer LCG
    hash (80/20).  Splitting per-document instead is the classic eval
    contamination bug this op exists to prevent.

    Scale shape: one groupBy on the content key and one join back on
    the same key — the join reuses the aggregation's hash
    partitioning, so the plan is a single exchange on ``h`` (same
    shape as dedup_exact); the split decision is per-row arithmetic,
    no extra shuffle."""
    d = t(spark, sf, "documents").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    reps = d.groupBy("h").agg(F.min("doc_id").alias("rep"))
    return d.join(reps, "h").select(
        "doc_id",
        "source",
        F.col("rep").alias("cluster_rep"),
        F.when(
            (F.col("rep") * 1103515245 + 12345) % 2048 < 1638, "train"
        )
        .otherwise("val")
        .alias("split"),
    )


# ------------------------------------- temperature-scaled source mixture

_TEMP_SQL = """
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source
    ), s AS (
      SELECT source, cnt,
        CAST(floor(sqrt(cnt) * 1000000) AS BIGINT) AS sw
      FROM c
    ), tot AS (
      SELECT SUM(sw) AS tsw, SUM(cnt) AS tcnt FROM s
    )
    SELECT s.source, s.cnt,
      CAST(s.sw * 1000000 // tot.tsw AS BIGINT) AS share_ppm,
      CAST((s.sw * 1000000 // tot.tsw) * tot.tcnt // 1000000 AS BIGINT)
        AS target_docs
    FROM s, tot
"""


@_q("sample_temperature_mixture", _TEMP_SQL)
def sample_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source mixing — ``p_i ∝ count_i^alpha`` with
    alpha = 0.5, the standard low-resource-upweighting recipe for
    multi-corpus training mixes.  ``sqrt`` is IEEE-correctly-rounded
    in both engines, so ``floor(sqrt(cnt)·1e6)`` is a deterministic
    integer weight; shares and per-source target document counts are
    then pure integer ppm arithmetic — bit-exact everywhere.

    Scale shape: a map-side-combinable count per source, a ~|sources|
    row scalar-total broadcast back — no large shuffle, no floats in
    any comparison."""
    c = t(spark, sf, "documents").groupBy("source").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    s = c.withColumn(
        "sw", F.floor(F.sqrt("cnt") * 1_000_000).cast("bigint")
    )
    tot = s.agg(
        F.sum("sw").alias("tsw"), F.sum("cnt").alias("tcnt")
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "cnt",
        F.expr("sw * 1000000 div tsw").cast("bigint").alias("share_ppm"),
        F.expr("(sw * 1000000 div tsw) * tcnt div 1000000")
        .cast("bigint")
        .alias("target_docs"),
    )


# ------------------------------------------- per-document keywords

_KW_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TKS_D}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), sel AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
        CAST(row_number() OVER (
          PARTITION BY t.doc_id
          ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS BIGINT) AS rk
      FROM tf t JOIN df d ON t.term = d.term
    )
    SELECT doc_id, term, tf, df, rk FROM sel WHERE rk <= 3
"""


@_q("text_keywords_per_doc", _KW_SQL)
def text_keywords_per_doc(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 distinctive keywords per document: rank a document's
    terms by term frequency DESC then corpus document frequency ASC
    (rare-across-the-corpus breaks tf ties) — the float-free ordering
    twin of per-doc TF-IDF keyword extraction (tf·idf is monotone in
    (tf, -df) at fixed tf), so no ln() crosses the engine boundary.

    Scale shape: tokenize once, tf via (doc, term) groupBy, df via a
    second groupBy OVER THE TF TABLE (already one row per doc-term, so
    count(*) == count distinct docs — no distinct aggregation); the
    df join keys on term, co-partitioned with df's own aggregation;
    the final top-3 is a keyed window per doc_id — parallel across
    documents."""
    tok = t(spark, sf, "documents").select(
        "doc_id", F.explode(F.expr(_TKS)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(df, "term")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "rk")
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


# ------------------------------------------- audience overlap (exact)

_OVL_SQL = """
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM tu GROUP BY event_type
    ), pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(count(*) AS BIGINT) AS inter_users
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, p.inter_users,
      CAST(ca.n + cb.n - p.inter_users AS BIGINT) AS union_users,
      CAST(p.inter_users * 1000000
           // (ca.n + cb.n - p.inter_users) AS BIGINT) AS jaccard_ppm
    FROM pair p
    JOIN c ca ON ca.event_type = p.type_a
    JOIN c cb ON cb.event_type = p.type_b
"""


@_q("agg_audience_overlap", _OVL_SQL)
def agg_audience_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Exact pairwise audience overlap between event types: |A ∩ B|,
    |A ∪ B| (by inclusion-exclusion — never materialized), and Jaccard
    in integer ppm.  This is the provably-exact twin of a theta-sketch
    set-operation rollup: swap the distinct pair stream for sketch
    partials and the same plan scales past memory.

    Scale shape: the distinct and the self-join both key on user_id,
    so one hash partitioning serves both sides; pair counting is a
    map-side-combinable groupBy over ≤|types|² keys; per-type sizes
    are a tiny broadcast joined twice."""
    tu = t(spark, sf, "events").select("event_type", "user_id").distinct()
    c = tu.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = tu.select(
        F.col("event_type").alias("type_a"), "user_id"
    )
    b = tu.select(
        F.col("event_type").alias("type_b"), "user_id"
    )
    pair = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("inter_users"))
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pair.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "inter_users",
            (F.col("na") + F.col("nb") - F.col("inter_users"))
            .cast("bigint")
            .alias("union_users"),
            F.expr("inter_users * 1000000 div (na + nb - inter_users)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


# ------------------------------------------- nearest as-of join

_NEAREST_SQL = """
    WITH p AS (
      SELECT e.event_id, e.user_id, o.o_orderdate,
        abs(epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)))
          AS dist_us,
        row_number() OVER (PARTITION BY e.event_id
          ORDER BY abs(epoch_us(e.ts)
                       - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) ASC,
                   o.o_orderdate ASC) AS rn
      FROM events e JOIN orders o ON o.o_custkey = e.user_id
      WHERE e.ts IS NOT NULL
    )
    SELECT event_id, user_id, CAST(o_orderdate AS DATE) AS nearest_order_date,
      CAST(dist_us AS BIGINT) AS dist_us
    FROM p WHERE rn = 1
"""


@_q("join_asof_nearest", _NEAREST_SQL)
def join_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-neighbor as-of join: each event matches the order (same
    user) with the smallest |event time − order date|, ties to the
    EARLIER order — the bidirectional variant of
    join_asof_events_orders (pandas ``merge_asof(direction='nearest')``
    semantics, which plain ASOF JOIN cannot express).

    Scale shape: the global minimum distance is provably at one of the
    two directional as-of matches, so the plan is two keyed
    sort-merge passes of operators/asof_join (backward then forward —
    never a per-pair product like the oracle's rank-over-join) and a
    per-row least().  Distances ride integer microseconds."""
    ev = (
        t(spark, sf, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.expr("unix_micros(ts)").alias("tsu"),
        )
    )
    od = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").alias("bt"),
    )
    n = asof_join(ev, od, on="ts", by="user_id", direction="nearest")
    return n.filter(F.col("bt").isNotNull()).select(
        "event_id",
        "user_id",
        F.to_date(F.timestamp_micros("bt")).alias("nearest_order_date"),
        F.abs(F.col("tsu") - F.col("bt")).cast("bigint").alias("dist_us"),
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


# ------------------------------------------- recursive CTE rollup

_REC_SQL = """
    WITH RECURSIVE anc AS (
      SELECT user_id, user_id AS node, 0 AS steps
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL) u
      UNION ALL
      SELECT user_id, (node - 1) // 2, steps + 1
      FROM anc WHERE node > 0
    ), urev AS (
      SELECT user_id,
        SUM(CAST(round(value * 100) AS BIGINT)) AS rev_c
      FROM events GROUP BY user_id
    )
    SELECT anc.node,
      CAST(count(*) AS BIGINT) AS n_subtree_users,
      CAST(max(anc.steps) AS BIGINT) AS subtree_depth,
      CAST(SUM(urev.rev_c) AS BIGINT) AS subtree_rev_c
    FROM anc JOIN urev ON anc.user_id = urev.user_id
    GROUP BY anc.node
"""


@_q("sql_recursive_rollup", _REC_SQL)
def sql_recursive_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical rollup through a RECURSIVE CTE (Spark 4 WITH
    RECURSIVE): users form an implicit binary management tree
    (parent(u) = (u-1) div 2); every user's revenue is attributed to
    each of its ancestors, giving per-node subtree size, depth, and
    integer-cents subtree revenue — the org-chart/category-tree
    aggregation pattern relational engines traditionally punt to
    application code.

    Scale shape: recursion length = tree DEPTH (log n — ~30 iterations
    at 1B users), and each iteration is a pure per-row projection of
    the frontier (no join, no shuffle inside the loop); the revenue
    attach and the node rollup are ordinary keyed hash aggregations.
    The ancestor frame is n·depth rows — the same blow-up the
    textbook adjacency-list rollup costs anywhere."""
    t(spark, sf, "events").createOrReplaceTempView("events_rec")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT user_id, user_id AS node, 0 AS steps
          FROM (SELECT DISTINCT user_id FROM events_rec
                WHERE user_id IS NOT NULL) u
          UNION ALL
          SELECT user_id, (node - 1) div 2, steps + 1
          FROM anc WHERE node > 0
        ), urev AS (
          SELECT user_id,
            SUM(CAST((value * 100) + CASE WHEN (value * 100) >= 0
                THEN 0.5D ELSE -0.5D END AS BIGINT)) AS rev_c
          FROM events_rec GROUP BY user_id
        )
        SELECT anc.node,
          CAST(count(*) AS BIGINT) AS n_subtree_users,
          CAST(max(anc.steps) AS BIGINT) AS subtree_depth,
          CAST(SUM(urev.rev_c) AS BIGINT) AS subtree_rev_c
        FROM anc JOIN urev ON anc.user_id = urev.user_id
        GROUP BY anc.node
        """
    )


# ------------------------------------------- regex scalar tier

@_q(
    "scalar_regex_funcs",
    r"""
    SELECT doc_id,
      regexp_extract(text, '([a-z]{6,})', 1) AS first_long_word,
      CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT)
        AS n_vowel_pairs,
      CAST(CASE WHEN regexp_matches(text, 'the .* the ')
           THEN 1 ELSE 0 END AS INT) AS has_the_twice,
      regexp_replace(text[1:40], '[aeiou]', '_', 'g') AS devoweled_head
    FROM documents
    """,
)
def scalar_regex_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Regex scalar-function tier: first capture-group extraction,
    match counting via extract_all, boolean match, and global
    replacement over a bounded prefix.  Patterns stay in the
    dialect-portable subset (character classes, bounded quantifiers —
    identical semantics in Java regex and RE2/DuckDB).

    Scale shape: pure per-row projection over one scan — no shuffle;
    regex evaluation is the per-row cost and lives in the JVM."""
    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]{6,})", 1).alias(
            "first_long_word"
        ),
        F.expr(r"CAST(size(regexp_extract_all(text, '[aeiou]{2}', 0)) AS BIGINT)")
        .alias("n_vowel_pairs"),
        F.expr(r"CAST(CASE WHEN text RLIKE 'the .* the ' THEN 1 ELSE 0 END AS INT)")
        .alias("has_the_twice"),
        F.regexp_replace(F.substring("text", 1, 40), r"[aeiou]", "_")
        .alias("devoweled_head"),
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
