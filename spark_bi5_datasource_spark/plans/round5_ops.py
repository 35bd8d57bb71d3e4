"""Round-5 catalog additions: deterministic MODE aggregation, the
parse_url scalar tier, last-touch attribution (as-of composition over
a single event stream), an A/B conversion-lift report, and the PQ
(product-quantization) ANN tier in exact and production modes.

Oracle policy unchanged: deterministic SQL-expressible ops carry an
exact DuckDB twin running the same logical statement; the PQ
production mode is approximate by nature and is pinned by the
recall/equality pytest suite instead, while its exact mode
(shortlist >= corpus) shares the brute-force cosine oracle — the
same exact-mode-under-the-hash-gate trick as sim_ivf_exact /
sim_lsh_exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import t

# ---------------------------------------------------- deterministic mode


@_q(
    "agg_mode",
    """
    SELECT l_returnflag, mode_qty, mode_count FROM (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS mode_qty,
             CAST(count(*) AS BIGINT) AS mode_count,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY count(*) DESC, CAST(l_quantity AS BIGINT) ASC
             ) AS rn
      FROM lineitem
      GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    ) WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic MODE (most frequent value) per group.  Engines'
    native ``mode()`` leaves ties implementation-defined (both Spark
    and DuckDB pick an arbitrary winner), so the catalog form is the
    composition that pins them: count per (group, value), then a
    row_number window ordered by (count DESC, value ASC) — exact,
    engine-identical, and the same two-exchange plan a native
    tie-broken mode would need.  Quantities are integral doubles;
    grouping on their BIGINT cast keeps the key exact."""
    li = t(spark, sf, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("mode_qty")
    )
    counts = li.groupBy("l_returnflag", "mode_qty").agg(
        F.count("*").alias("mode_count")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("mode_count").desc(), F.col("mode_qty").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", "mode_qty", "mode_count")
    )


# ---------------------------------------------------- parse_url tier


@_q(
    "scalar_url_funcs",
    # the oracle certifies Spark's parse_url against ground truth:
    # it rebuilds the same URL fields directly from the source
    # columns instead of re-parsing the string
    """
    SELECT doc_id,
           source || '.example.com' AS url_host,
           '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS url_path,
           'ref=corpus&page=' || CAST(doc_id % 7 AS VARCHAR) AS url_query,
           CAST(doc_id % 7 AS INT) AS page,
           'sec' || CAST(doc_id % 3 AS VARCHAR) AS url_frag
    FROM documents
    """,
)
def scalar_url_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """URL scalar-function tier: build a deterministic URL per
    document, then extract host / path / query / named query param /
    fragment with Spark's ``parse_url`` (a JVM engine function the
    scalar tiers hadn't covered).  The oracle reconstructs each field
    from the source columns — certifying the parser against ground
    truth rather than against another parser."""
    d = t(spark, sf, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("?ref=corpus&page="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("#sec"),
            (F.col("doc_id") % 3).cast("string"),
        ),
    )
    return d.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("url_host"),
        F.parse_url("url", F.lit("PATH")).alias("url_path"),
        F.parse_url("url", F.lit("QUERY")).alias("url_query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page"))
        .cast("int")
        .alias("page"),
        F.parse_url("url", F.lit("REF")).alias("url_frag"),
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


# ---------------------------------------------------- LATERAL top-k join


_LATERAL_SQL = """
    SELECT r.r_name, t.n_name, t.c_name, t.c_acctbal
    FROM {p}region r, LATERAL (
      SELECT n.n_name, c.c_name, c.c_acctbal
      FROM {p}customer c
      JOIN {p}nation n ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      ORDER BY c.c_acctbal DESC, c.c_name
      LIMIT 3
    ) t
    ORDER BY r.r_name, t.c_acctbal DESC, t.c_name
"""


@_q("sql_lateral_topk", _LATERAL_SQL.format(p=""))
def sql_lateral_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — per-region
    top-3 customers by balance, expressed as the SQL-standard lateral
    join rather than the row_number idiom (window_topk_per_segment
    covers that form).  Catalyst decorrelates the lateral limit into
    a per-group window under a DomainJoin; DuckDB runs the same
    statement natively, certifying the rewrite end to end."""
    for tb in ("region", "nation", "customer"):
        t(spark, sf, tb).createOrReplaceTempView(f"lat_{tb}")
    return spark.sql(_LATERAL_SQL.format(p="lat_"))


# ---------------------------------------------------- null-safe join


@_q(
    "join_null_safe",
    """
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN user_id % 10 = 0 THEN NULL
                  ELSE CAST(user_id % 5 AS INT) END AS seg,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    seg_dim AS (
      SELECT DISTINCT
             CASE WHEN n_nationkey % 10 = 0 THEN NULL
                  ELSE CAST(n_nationkey % 5 AS INT) END AS seg,
             CAST(n_nationkey % 5 AS INT) AS seg_code
      FROM nation WHERE n_nationkey < 10
    )
    SELECT u.user_id, u.seg, u.n_events, d.seg_code
    FROM per_user u
    JOIN seg_dim d ON u.seg IS NOT DISTINCT FROM d.seg
    """,
)
def join_null_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equi-join (Spark's ``<=>`` / SQL ``IS NOT DISTINCT
    FROM``): NULL segment keys MATCH each other instead of dropping —
    the semantics a plain equi-join silently loses.  Catalyst plans
    ``<=>`` as a hash join on a null-safe key (no fallback to
    nested-loop), which is what makes the form usable at scale;
    the oracle runs the standard-SQL spelling."""
    ev = t(spark, sf, "events")
    na = t(spark, sf, "nation")
    per_user = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .withColumn(
            "seg",
            F.when(F.col("user_id") % 10 == 0, F.lit(None).cast("int")).otherwise(
                (F.col("user_id") % 5).cast("int")
            ),
        )
    )
    seg_dim = (
        na.filter(F.col("n_nationkey") < 10)
        .select(
            F.when(
                F.col("n_nationkey") % 10 == 0, F.lit(None).cast("int")
            )
            .otherwise((F.col("n_nationkey") % 5).cast("int"))
            .alias("seg"),
            (F.col("n_nationkey") % 5).cast("int").alias("seg_code"),
        )
        .distinct()
    )
    return per_user.join(
        seg_dim, per_user["seg"].eqNullSafe(seg_dim["seg"]), "inner"
    ).select(
        "user_id", per_user["seg"].alias("seg"), "n_events", "seg_code"
    )


# ---------------------------------------------------- exact-moment corr/cov


@_q(
    "agg_corr_cov",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS sx,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS sy,
             sum(CAST(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS sxx,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS syy,
             sum(CAST(CAST(l_quantity AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 100.0, 6)
             AS covar_pop_qty_price,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 100.0, 6)
             AS covar_samp_qty_price,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS corr_qty_price
    FROM m ORDER BY l_returnflag
    """,
)
def agg_corr_cov(spark: SparkSession, sf: str) -> DataFrame:
    """Correlation / covariance aggregates from EXACT integer moments:
    native corr()/covar_samp() accumulate doubles whose value depends
    on partition merge order — fine statistically, fatal for a hash
    gate and for reproducible pipelines.  The catalog form sums the
    five moments as DECIMAL(38,0) (quantities integral, prices exact
    cents; decimal sums never overflow at 100-TB row counts where a
    BIGINT sum of squared cents would) and assembles Pearson r and
    covariances in one final double step — order-independent,
    engine-identical, and still a single map-side-partial hash agg
    over the scan."""
    li = t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.expr(_HA.format(x="l_extendedprice", m=100)).alias("y"),
    )
    d38 = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
    )
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    num = n * sxy - sx * sy
    return m.select(
        "l_returnflag",
        F.round(num / (n * n) / 100.0, 6).alias("covar_pop_qty_price"),
        F.round(num / (n * (n - F.lit(1).cast("double"))) / 100.0, 6).alias(
            "covar_samp_qty_price"
        ),
        F.round(
            num / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------- bitwise scalar tier


@_q(
    "scalar_bitwise_funcs",
    """
    SELECT event_id,
           user_id & 255 AS low_byte,
           user_id | 4096 AS with_flag,
           xor(user_id, event_id) AS mixed,
           user_id << 3 AS shifted_l,
           event_id >> 2 AS shifted_r,
           CAST(bit_count(user_id) AS INT) AS popcnt,
           ~user_id AS flipped
    FROM events
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Bitwise scalar tier: AND/OR/XOR/NOT, shifts, and popcount over
    BIGINT ids — the primitive layer under the simhash/banding ops,
    exposed as engine functions (all JVM codegen, no UDFs).  The
    oracle uses DuckDB's spellings (xor(), <<, ~); Spark's ^ is
    bitwise xor and shiftleft/shiftright are functions."""
    ev = t(spark, sf, "events")
    return ev.select(
        "event_id",
        F.expr("user_id & 255").alias("low_byte"),
        F.expr("user_id | 4096").alias("with_flag"),
        F.expr("user_id ^ event_id").alias("mixed"),
        F.shiftleft(F.col("user_id"), 3).alias("shifted_l"),
        F.shiftright(F.col("event_id"), 2).alias("shifted_r"),
        F.bit_count(F.col("user_id")).cast("int").alias("popcnt"),
        F.expr("~user_id").alias("flipped"),
    )


# ---------------------------------------------- grouped-agg pandas UDF


@_q(
    "agg_pandas_udf_trimmed",
    """
    WITH n AS (
      SELECT label,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x))) AS nrm
      FROM embeddings
    ), g AS (
      SELECT label, list_sort(list(nrm)) AS s, count(*) AS cnt
      FROM n GROUP BY label
    )
    SELECT label,
      round(CASE WHEN cnt > 2 * CAST(floor(cnt * 0.1) AS BIGINT)
            THEN list_sum(list_slice(s, CAST(floor(cnt * 0.1) AS BIGINT) + 1,
                                     cnt - CAST(floor(cnt * 0.1) AS BIGINT)))
                 / (cnt - 2 * CAST(floor(cnt * 0.1) AS BIGINT))
            ELSE list_sum(s) / cnt END, 6) AS trimmed_norm
    FROM g ORDER BY label
    """,
)
def agg_pandas_udf_trimmed(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label 10%-trimmed mean of embedding norms via a
    GROUPED_AGG pandas UDF — the aggregation cell of the Python-
    boundary matrix (functions/pandas_udfs.py): the whole group
    arrives as one Arrow series, reduces to one scalar.  The oracle
    computes the identical trim with list_sort + list_slice, so the
    Arrow aggregation path sits under the hash gate."""
    from ..functions.pandas_udfs import trimmed_mean
    from ..operators.similarity import with_norm

    emb = with_norm(t(spark, sf, "embeddings"), "embedding")
    return (
        emb.groupBy("label")
        .agg(F.round(trimmed_mean(F.col("norm")), 6).alias("trimmed_norm"))
        .orderBy("label")
    )


# ---------------------------------------------------- training shards


@_q(
    "split_training_shards",
    """
    WITH h AS (
      SELECT doc_id, n_chars,
        CAST(CAST(('0x' || substr(md5('ep0' || CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 8 AS INT) AS shard,
        md5('ep0' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(shuffle_key) AS first_key
    FROM h GROUP BY shard ORDER BY shard
    """,
)
def split_training_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Training-shard assignment profile: documents deterministically
    sharded 8 ways by salted md5 (operators/sharding.py), per-shard
    doc/char totals plus the first shuffle key — certifying that the
    shard function and the within-shard hash order are engine-
    portable and salt-reproducible (the delivery contract a training
    pipeline rebuilds against).  The heavy path (hash-partition
    exchange + per-partition sort + partitionBy write) is exercised
    by the round-trip pytest; this query pins the assignment
    arithmetic under the hash gate."""
    from ..operators.sharding import assign_training_shards

    docs = t(spark, sf, "documents")
    a = assign_training_shards(docs, "doc_id", 8, salt="ep0")
    return (
        a.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("shuffle_key").alias("first_key"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------- PQ ANN tier


_BRUTE_COSINE_SQL = """
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round(list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))
            / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]),
              CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))
              / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT) AS rank
    FROM n a, n b
    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
    QUALIFY rank <= 5
"""


@_q("sim_pq_exact", _BRUTE_COSINE_SQL)
def sim_pq_exact(spark: SparkSession, sf: str) -> DataFrame:
    """PQ ANN in exact mode: with ``shortlist`` >= |corpus| every
    non-self candidate reaches the exact re-scorer, so the train /
    encode / ADC-scan / shortlist / refine pipeline provably equals
    brute force and shares its oracle — putting the whole PQ
    plumbing under the hard hash gate.  Production mode (small
    shortlist) is sim_pq_topk."""
    from ..operators.pq import pq_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    return pq_topk(emb, queries, k=5, shortlist=n, iters=4, sample=512)


@_q("sim_pq_topk", None)
def sim_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ ANN, production mode: 8-byte codes scanned in place of
    256-byte vectors, ADC shortlist of 64, exact re-scoring of the
    shortlist only.  Approximate by nature (no SQL twin); recall vs
    the exact baseline and determinism are pinned in
    tests/test_operators.py."""
    from ..operators.pq import pq_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(emb, queries, k=5, shortlist=64, iters=4, sample=512)


# ------------------------------------------- multi-source BFS depth


@_q(
    "graph_bfs_depth",
    """
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), e AS (
      SELECT u AS s, v AS d FROM e0
      UNION ALL
      SELECT v AS s, u AS d FROM e0
    ), srcs AS (
      SELECT s AS node FROM e GROUP BY s ORDER BY s LIMIT 5
    ), reach(node, depth) AS (
      SELECT node, 0 FROM srcs
      UNION
      SELECT e.d, r.depth + 1 FROM reach r JOIN e ON e.s = r.node
      WHERE r.depth < 6
    )
    SELECT node, CAST(min(depth) AS INT) AS depth
    FROM reach GROUP BY node
    """,
)
def graph_bfs_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS over the part co-purchase graph (same edge
    set as graph_triangle_count): shortest-hop depth from the 5
    smallest part nodes, capped at 6 hops.  The Spark plan is
    synchronous frontier expansion (operators/bfs.py — one
    expansion join + one anti-join per round, first-reach = min
    depth); the oracle is the textbook recursive CTE with UNION
    dedup, so a hash match certifies the frontier machinery against
    the declarative fixed point."""
    from ..operators.bfs import bfs_depths

    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    b = li.toDF("l_orderkey", "b_partkey")
    pairs = (
        li.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("b_partkey"))
        .select(
            "l_orderkey",
            F.col("l_partkey").alias("u"),
            F.col("b_partkey").alias("v"),
        )
        .distinct()
    )
    e0 = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    nodes = e0.select(F.col("u").alias("node")).unionByName(
        e0.select(F.col("v").alias("node"))
    )
    sources = nodes.distinct().orderBy("node").limit(5)
    return bfs_depths(e0, sources, src="u", dst="v", max_depth=6)


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


# -------------------------------- incremental view maintenance (IVM)


@_q(
    "mv_incremental_orders",
    # oracle = the DECLARATIVE full recompute over the post-delta
    # order set (base minus retractions plus late inserts): a hash
    # match certifies the counting-algorithm maintenance path never
    # touched the base yet landed on the same view
    """
    WITH b AS (
      SELECT *, CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                     AS BIGINT) % 100 AS bucket
      FROM orders
    ), post AS (
      SELECT * FROM b WHERE bucket >= 10
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM post
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def mv_incremental_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance, certified: a count/sum view over
    the base orders (md5 buckets 0-89) is maintained under one signed
    delta batch — inserts (buckets 90-99, arriving late) and
    retractions (bucket 0-9 rows, deleted) — via operators/ivm.py's
    counting algorithm.  The base table is scanned once to build the
    view and NEVER again; the oracle recomputes the post-delta state
    declaratively, so the hash gate certifies the merge arithmetic.

    Money stays exact as bigint cents (the house scaled-integer
    idiom)."""
    from ..operators.ivm import delta_agg_apply

    orders = t(spark, sf, "orders").withColumn(
        "bucket",
        F.conv(F.md5(F.col("o_orderkey").cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % 100,
    ).withColumn(
        "cents", F.expr(_HA.format(x="o_totalprice", m=100))
    )
    base = orders.filter(F.col("bucket") < 90)
    mv = base.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.sum("cents").alias("total_cents"),
    )
    inserts = orders.filter(F.col("bucket") >= 90).withColumn(
        "_sign", F.lit(1)
    )
    retracts = orders.filter(F.col("bucket") < 10).withColumn(
        "_sign", F.lit(-1)
    )
    delta = inserts.unionByName(retracts).select(
        "o_orderstatus", "o_orderpriority", "cents", "_sign"
    )
    return delta_agg_apply(
        mv,
        delta,
        keys=["o_orderstatus", "o_orderpriority"],
        sums={"total_cents": "cents"},
    ).select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
    )


# ------------------------------ point-in-time SCD2 dimension lookup


@_q(
    "join_scd2_pointintime",
    """
    WITH v AS (
      SELECT o_custkey, o_orderkey, o_orderstatus,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS valid_to
      FROM orders
    )
    SELECT e.event_id, e.user_id, e.ts, v.o_orderkey, v.o_orderstatus
    FROM events e JOIN v ON v.o_custkey = e.user_id
      AND e.ts >= v.valid_from
      AND (v.valid_to IS NULL OR e.ts < v.valid_to)
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time ("time travel") dimension lookup: each event is
    joined to the SCD2 version (operators/scd.py intervals over the
    order log) valid AT the event's timestamp.  Same-date versions
    collapse to empty [d, d) intervals, so the non-empty intervals
    partition time and every event matches at most one version —
    the half-open containment the oracle states declaratively.

    Scale shape: the join is EQUI on the customer key (hash join;
    the interval containment is a post-filter), with fan-out bounded
    by versions-per-customer — no inequality-only join, no window
    over the event log."""
    from ..operators.scd import scd2_build

    orders = t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    v = scd2_build(
        orders, ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"]
    )
    e = t(spark, sf, "events").select("event_id", "user_id", "ts")
    return e.join(
        v,
        (F.col("user_id") == F.col("o_custkey"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_orderstatus")


# ----------------------------------- table diff / reconciliation


@_q(
    "table_diff_orders",
    # the oracle CLASSIFIES the planted delta declaratively; the Spark
    # side must rediscover it through the generic diff operator
    """
    WITH k AS (
      SELECT o_orderkey,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM orders
    )
    SELECT o_orderkey, 'removed' AS status FROM k WHERE bucket < 5
    UNION ALL
    SELECT o_orderkey, 'changed' FROM k WHERE bucket BETWEEN 5 AND 9
    UNION ALL
    SELECT o_orderkey + 1000000000, 'added' FROM k
    WHERE bucket BETWEEN 10 AND 14
    """,
)
def table_diff_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reconciliation (operators/diff.py): a second snapshot
    of orders is derived with a planted delta — md5 buckets 0-4
    deleted, 5-9 repriced, 10-14 duplicated under shifted keys — and
    the generic full-outer null-safe diff must classify exactly that
    delta (unchanged rows never surface).  The oracle states the
    planted classification declaratively, so the hash gate certifies
    the diff machinery end to end."""
    from ..operators.diff import table_diff

    orders = t(spark, sf, "orders").withColumn(
        "bucket",
        F.conv(F.md5(F.col("o_orderkey").cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % 100,
    )
    changed = orders.filter((F.col("bucket") >= 5) & (F.col("bucket") < 10))
    added = orders.filter(
        (F.col("bucket") >= 10) & (F.col("bucket") < 15)
    ).withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1_000_000_000))
    snapshot_b = (
        orders.filter(F.col("bucket") >= 5)
        .withColumn(
            "o_orderpriority",
            F.when(F.col("bucket") < 10, F.lit("X-DIFF")).otherwise(
                F.col("o_orderpriority")
            ),
        )
        .unionByName(added)
    )
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    return table_diff(
        orders.select(*cols),
        snapshot_b.select(*cols),
        keys=["o_orderkey"],
    )


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


# --------------------- weighted sampling without replacement (A-ES)


@_q(
    "sample_weighted_wor",
    """
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             x -> x <> '')) AS w
      FROM documents
    ), keyed AS (
      SELECT doc_id, w,
             -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 0.5) / 4294967296.0) / w AS k
      FROM d WHERE w > 0
    )
    SELECT doc_id, CAST(w AS BIGINT) AS weight
    FROM keyed
    ORDER BY k ASC, doc_id ASC
    LIMIT 100
    """,
)
def sample_weighted_wor(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    exponential keys — the one-pass distributed algorithm): each doc
    draws key = -ln(u)/w and the k smallest keys are the sample,
    giving inclusion probability proportional to weight w (token
    count here).  The uniform u comes from md5(doc_id) instead of an
    RNG, so the draw is reproducible across runs, engines, and
    partitionings — the same determinism contract as the other
    content-keyed samplers — and the whole selection sits under the
    hash gate.  Selection is a global top-k (TakeOrdered): only k
    rows per partition survive the shuffle."""
    docs = t(spark, sf, "documents")
    w = F.size(
        F.filter(
            F.split(F.lower("text"), "[^a-z]+"), lambda x: x != F.lit("")
        )
    )
    u = (
        F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = docs.select(
        "doc_id", w.alias("w"), (-F.log(u) / w).alias("k")
    ).filter(F.col("w") > 0)
    return (
        keyed.orderBy(F.col("k").asc(), F.col("doc_id").asc())
        .limit(100)
        .select("doc_id", F.col("w").cast("bigint").alias("weight"))
    )


# --------------------------- per-group OLS regression aggregates


@_q(
    "agg_regression",
    """
    WITH p AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) - epoch(TIMESTAMP '2024-01-01')
                  AS BIGINT) AS x,  -- floor: Spark's unix_timestamp truncates
             CAST(round(value * 1000000) AS BIGINT) AS y
      FROM events
    ), m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM p GROUP BY event_type
    )
    , a AS (
      SELECT event_type,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
             CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
      FROM m
    )
    -- integer-space rounding (house idiom): round(scaled double) to
    -- an integer, then divide — round(x, 6) on a double at a
    -- boundary diverges between the engines' shortest-repr vs
    -- binary rounding
    SELECT event_type,
           round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                 * 86400.0) / 1000000.0 AS slope_per_day,
           round((syd - (nd * sxyd - sxd * syd)
                        / (nd * sxxd - sxd * sxd) * sxd) / nd)
             / 1000000.0 AS intercept,
           round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                 / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
                 * 1000000.0) / 1000000.0 AS r2
    FROM a ORDER BY event_type
    """,
)
def agg_regression(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group OLS regression (value drift per day per event type)
    from EXACT integer moments — the regr_slope/intercept/r2 tier.
    Native regr_* aggregates accumulate doubles whose value depends on
    partition merge order (hash-gate-fatal, like corr); the catalog
    form sums five DECIMAL(38,0) moments over (seconds-since-anchor,
    micro-scaled value) and assembles slope/intercept/r² in one final
    double step — order-independent, engine-identical, still one
    map-side-partial hash agg over the scan."""
    e = t(spark, sf, "events").select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
        ).cast("bigint").alias("x"),
        F.expr(_HA.format(x="value", m=1000000)).alias("y"),
    )
    d38 = "decimal(38,0)"
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
    )
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    num = n * sxy - sx * sy
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    slope = num / den_x
    # integer-space rounding (the seasonal-profile idiom): round the
    # 1e6-scaled double to an INTEGER, then divide — identical on
    # both engines where round(x, 6) diverges at repr boundaries
    return m.select(
        "event_type",
        (F.round(slope * 86_400.0) / 1_000_000.0).alias("slope_per_day"),
        (F.round((sy - slope * sx) / n) / 1_000_000.0).alias("intercept"),
        (F.round(num * num / (den_x * den_y) * 1_000_000.0) / 1_000_000.0)
        .alias("r2"),
    ).orderBy("event_type")


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


# ------------------------------------------- array set operations


@_q(
    "array_setops",
    # per-order part lists vs the order's supplier-duplicated list:
    # intersect/union/except with SORTED outputs (both engines leave
    # set-op element order unspecified) joined to strings for the
    # cross-engine hash
    """
    WITH g AS (
      SELECT l_orderkey,
             list_sort(list(DISTINCT l_partkey)) AS parts,
             coalesce(list_sort(list(DISTINCT l_partkey)
                       FILTER (WHERE l_linenumber <= 3)),
                      CAST([] AS BIGINT[])) AS head_parts
      FROM lineitem GROUP BY l_orderkey
    )
    -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL
    -- where Spark's array_join is ''
    SELECT l_orderkey,
           coalesce(array_to_string(
             list_sort(list_intersect(parts, head_parts)), ','), '')
             AS inter,
           coalesce(array_to_string(list_sort(list_distinct(
             list_concat(parts, head_parts))), ','), '') AS uni,
           coalesce(array_to_string(list_sort(list_filter(parts,
             x -> NOT list_contains(head_parts, x))), ','), '') AS diff,
           CAST(len(parts) AS INT) AS n_parts
    FROM g
    """,
)
def array_setops(spark: SparkSession, sf: str) -> DataFrame:
    """Array set-operation tier: array_intersect / array_union /
    array_except over per-order part lists (full list vs the first
    three line numbers).  Both engines leave set-op element ORDER
    unspecified, so results are canonicalized by array_sort and
    joined to strings before the hash — the same normalization the
    inverted-index postings use."""
    li = t(spark, sf, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts"),
        F.array_sort(
            F.collect_set(
                F.when(F.col("l_linenumber") <= 3, F.col("l_partkey"))
            )
        ).alias("head_parts"),
    )
    def joined(col):
        return F.array_join(
            F.transform(F.array_sort(col), lambda x: x.cast("string")), ","
        )
    return g.select(
        "l_orderkey",
        joined(F.array_intersect("parts", "head_parts")).alias("inter"),
        joined(F.array_union("parts", "head_parts")).alias("uni"),
        joined(F.array_except("parts", "head_parts")).alias("diff"),
        F.size("parts").cast("int").alias("n_parts"),
    )


# ------------------------------------------------ struct scalar tier


@_q(
    "scalar_struct_funcs",
    # struct construction, lexicographic struct MAX (field order =
    # comparison order in both engines), field access, and JSON
    # serialization (identical compact key:value form).  Timestamps
    # stay OUT of to_json (engine serialization formats differ) and
    # are emitted as plain columns instead.
    """
    WITH s AS (
      SELECT event_type,
             max(struct_pack(v := CAST(round(value * 100) AS BIGINT),
                             ts := ts, eid := event_id)) AS peak,
             max(struct_pack(ts := ts, eid := event_id,
                             v := CAST(round(value * 100) AS BIGINT)))
               AS latest
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           to_json(struct_pack(v := peak.v, eid := peak.eid)) AS peak_json,
           peak.ts AS peak_ts,
           latest.ts AS latest_ts,
           latest.eid AS latest_eid
    FROM s
    """,
)
def scalar_struct_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Struct tier, completing the complex-type family (arrays, maps,
    VARIANT already under the gate): construction, lexicographic
    struct aggregation (field order IS the comparison order — the
    argmax-by-tuple idiom OHLC uses), dot field access, and to_json
    serialization, identical across engines for string/int fields."""
    e = t(spark, sf, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.expr(_HA.format(x="value", m=100)).alias("v"),
    )
    s = e.groupBy("event_type").agg(
        F.max(F.struct("v", "ts", F.col("event_id").alias("eid"))).alias("peak"),
        F.max(
            F.struct("ts", F.col("event_id").alias("eid"), "v")
        ).alias("latest"),
    )
    return s.select(
        "event_type",
        F.to_json(
            F.struct(F.col("peak.v").alias("v"), F.col("peak.eid").alias("eid"))
        ).alias("peak_json"),
        F.col("peak.ts").alias("peak_ts"),
        F.col("latest.ts").alias("latest_ts"),
        F.col("latest.eid").alias("latest_eid"),
    )
