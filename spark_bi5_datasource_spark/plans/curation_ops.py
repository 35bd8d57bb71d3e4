"""Round-4 curation catalog: fuzzy joins, KNN graph, time-grid
regularization, deterministic splits, robust anomaly scoring, and
vocabulary building — the data-curation operators a training-data
pipeline runs between ingestion (sources/) and dedup/similarity
(operators/dedup.py, operators/knn.py).

Oracle policy matches llm_ops: every operator here is deterministic
and SQL-expressible, so each carries an exact DuckDB twin.  Where the
Spark side uses a *blocked* plan (fuzzy join candidates, block-pair
KNN), the oracle is intentionally the NAIVE formulation — matching
hashes then prove the blocking lost nothing, not merely that two
copies of the same shortcut agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS
from ..functions.timeseries import gap_fill
from ..operators.fuzzy_join import edit_distance_join
from ..operators.knn import knn_graph
from ..operators.pagerank import pagerank
from .llm_ops import _DOT_D
from .registry import query as _q
from .tables import fanout, t

# ------------------------------------------------------- fuzzy join


@_q(
    "join_fuzzy_parts",
    # naive twin: distinct names, full cross pairing, verify, expand —
    # no q-gram blocking, so a hash match certifies the blocked plan's
    # recall, not just its arithmetic
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    np AS (
      SELECT a.p_name AS na, b.p_name AS nb,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 1
    )
    SELECT least(x.p_partkey, y.p_partkey) AS id_a,
           greatest(x.p_partkey, y.p_partkey) AS id_b,
           CASE WHEN x.p_partkey < y.p_partkey THEN np.na ELSE np.nb END
             AS p_name_a,
           CASE WHEN x.p_partkey < y.p_partkey THEN np.nb ELSE np.na END
             AS p_name_b,
           dist
    FROM np
    JOIN part x ON x.p_name = np.na
    JOIN part y ON y.p_name = np.nb
    """,
)
def join_fuzzy_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy self-join: part pairs whose names are within edit
    distance 1 (q-gram filter-and-verify; operators/fuzzy_join.py)."""
    return edit_distance_join(t(spark, sf, "part"), "p_partkey", "p_name", k=1)


# -------------------------------------------------------- KNN graph


@_q(
    "sim_knn_graph",
    # naive twin: full n² pairing with list arithmetic
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT)
        AS rank
    FROM n a, n b
    WHERE a.vec_id <> b.vec_id AND a.nrm > 0 AND b.nrm > 0
    QUALIFY rank <= 5
    """,
)
def sim_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 5-NN cosine graph over every embedding — block-pair GEMM,
    no driver collect (operators/knn.py)."""
    return knn_graph(t(spark, sf, "embeddings"), "vec_id", "embedding", k=5)


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


# ------------------------------------------------ deterministic split


@_q(
    "split_hash_docs",
    """
    WITH h AS (
      SELECT doc_id,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
      CASE WHEN bucket < 80 THEN 'train'
           WHEN bucket < 90 THEN 'valid'
           ELSE 'test' END AS split
    FROM h
    """,
)
def split_hash_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment keyed on
    md5(doc_id) — stable across runs, engines, and partitionings (the
    property random() splits lack), so downstream epochs never leak
    eval rows into training."""
    docs = t(spark, sf, "documents")
    bucket = (
        F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % 100
    ).alias("bucket")
    return docs.select("doc_id", bucket).select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "valid")
        .otherwise("test")
        .alias("split"),
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


# ------------------------------------------------- skew-salted join


@_q(
    "join_salted_skew",
    # oracle = the PLAIN join: a hash match certifies the salt/explode
    # machinery is output-invisible
    """
    SELECT l_orderkey, l_linenumber, l_suppkey, s_nationkey
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    """,
)
def join_salted_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Salt-scattered equi-join (operators/skew.py): the explicit cure
    for hot keys AQE can't split.  Here run over the fixture join so
    the driver gate proves salted output == plain join output."""
    from ..operators.skew import salted_join

    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    s = t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return salted_join(li, s, "l_suppkey", replicas=8).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "s_nationkey"
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


# --------------------------------------------- bloom-pruned semi-join


@_q(
    "join_bloom_prune",
    # oracle = the plain semi-join: bloom false positives must be
    # invisible in the output
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 0
    )
    """,
)
def join_bloom_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime-filter pattern (operators/bloom.py): a 1%-selectivity
    semi-join where the bloom bitmap prunes the fact side in codegen
    BEFORE the join — shuffle volume ∝ selectivity, exactness restored
    by the final semi-join."""
    from ..operators.bloom import bloom_semi_join

    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    keys = t(spark, sf, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    return bloom_semi_join(li, keys, "l_orderkey")


# ------------------------------------------------- batch CDC apply


@_q(
    "cdc_apply_orders",
    # the oracle recomputes the batch's net effect declaratively
    """
    WITH keep AS (
      SELECT * FROM orders WHERE o_orderkey % 10 NOT IN (0, 1, 2)
    ), upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             round(o_totalprice * 1.1, 6) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 IN (1, 2)
    ), ins AS (
      SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
             'N' AS o_orderstatus, round(o_totalprice, 6) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 3
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 6) AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM keep
    UNION ALL SELECT * FROM upd
    UNION ALL SELECT * FROM ins
    """,
)
def cdc_apply_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Batch CDC apply (operators/upsert.py cdc_apply): a synthetic
    change batch — deletes (key%10=0), 10% price updates (%10∈{1,2}),
    shifted-key inserts (%10=3) — applied in one anti-join + union
    pass; target never shuffled.  The batch is derived
    deterministically from the fixture so the oracle can recompute
    the net effect declaratively."""
    from ..operators.upsert import cdc_apply

    o = t(spark, sf, "orders")
    key = F.col("o_orderkey")
    dels = o.filter(key % 10 == 0).select(
        "*", F.lit("D").alias("op"), F.lit(1).alias("seq")
    )
    upds = (
        o.filter((key % 10).isin(1, 2))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 6))
        .select("*", F.lit("U").alias("op"), F.lit(1).alias("seq"))
    )
    ins = (
        o.filter(key % 10 == 3)
        .withColumn("o_orderkey", key + 100_000_000)
        .withColumn("o_orderstatus", F.lit("N"))
        .select("*", F.lit("I").alias("op"), F.lit(1).alias("seq"))
    )
    changes = dels.unionByName(upds).unionByName(ins)
    out = cdc_apply(o, changes, ["o_orderkey"], broadcast_changes=False)
    return out.withColumn("o_totalprice", F.round("o_totalprice", 6))


# ------------------------------------------- per-group sampling


@_q(
    "sample_k_per_group",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
        row_number() OVER (
          PARTITION BY lang, source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 2
    """,
)
def sample_k_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic k-per-group sample: order every group by a
    content-independent hash of the id and keep the first k — the
    reproducible, engine-portable substitute for reservoir sampling
    (same sample on every run, cluster size, and engine)."""
    from pyspark.sql import Window

    docs = t(spark, sf, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("doc_id", "lang", "source")
    )


# -------------------------------------------------- PCA projection


@_q("emb_pca_project", None)  # eigenvectors have no SQL twin: rows-only
def emb_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """Global PCA (operators/pca.py): one distributed moment pass fits
    the d×d covariance driver-side; projection is an Arrow GEMM per
    batch.  Rows-only driver check (eigen basis isn't SQL-expressible);
    the pytest oracle pins projection == local NumPy PCA exactly."""
    from ..operators.pca import pca_fit, pca_project

    emb = t(spark, sf, "embeddings")
    mean, comps, _ = pca_fit(emb, "embedding", m=8)
    out = pca_project(emb, mean, comps, "embedding")
    return out.select(
        "vec_id",
        F.transform("pca", lambda x: F.round(x, 6)).alias("pca"),
    )


# ----------------------------------------------- entity resolution


@_q(
    "entity_resolution_parts",
    # oracle: name-level recursive transitive closure over the naive
    # fuzzy pairs, then entity = min part key of the name cluster
    """
    WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
    np AS (
      SELECT a.p_name AS na, b.p_name AS nb
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) = 1
    ),
    sym AS (SELECT na AS a, nb AS b FROM np UNION SELECT nb, na FROM np),
    closure(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT c.a, s.b FROM closure c JOIN sym s ON c.b = s.a
    ),
    ncomp AS (
      SELECT a AS nm, least(a, min(b)) AS rep FROM closure GROUP BY a
    ),
    allnames AS (
      SELECT n.p_name AS nm, coalesce(nc.rep, n.p_name) AS rep
      FROM names n LEFT JOIN ncomp nc ON nc.nm = n.p_name
    ),
    rep_entity AS (
      SELECT an.rep, CAST(min(p.p_partkey) AS BIGINT) AS entity
      FROM part p JOIN allnames an ON p.p_name = an.nm
      GROUP BY an.rep
    )
    SELECT p.p_partkey, p.p_name, re.entity
    FROM part p
    JOIN allnames an ON p.p_name = an.nm
    JOIN rep_entity re ON re.rep = an.rep
    """,
)
def entity_resolution_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution as operator composition: fuzzy edit-distance
    edges (operators/fuzzy_join.py) ∪ exact same-value edges feed
    large-star/small-star connected components
    (operators/components.py); every part gets the canonical entity id
    (= min part key of its transitive name cluster).  The blocked
    fuzzy join and the O(log n) component rounds are each certified
    separately; this row certifies the composition."""
    from ..operators.components import connected_components

    parts = t(spark, sf, "part").select("p_partkey", "p_name")
    # exact edges: every part connects to its name's min-key member
    reps = parts.groupBy("p_name").agg(F.min("p_partkey").alias("rep_id"))
    members = parts.join(reps, "p_name")
    exact_edges = members.filter(
        F.col("p_partkey") != F.col("rep_id")
    ).select(
        F.col("rep_id").alias("id_a"), F.col("p_partkey").alias("id_b")
    )
    near_edges = edit_distance_join(parts, "p_partkey", "p_name", k=1).select(
        "id_a", "id_b"
    )
    comp = connected_components(
        exact_edges.unionByName(near_edges), "id_a", "id_b"
    )
    return (
        parts.join(comp, parts.p_partkey == comp.node, "left")
        .select(
            "p_partkey",
            "p_name",
            F.coalesce("component", "p_partkey").alias("entity"),
        )
    )


# ------------------------------------------------ graph centrality


@_q(
    "graph_pagerank_docs",
    # same edge set (the knn SQL), then the recursive fixed point;
    # the correlated subquery is the per-node contribution sum
    f"""
    WITH RECURSIVE
    n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x))) AS nrm
      FROM embeddings
    ),
    knn AS (
      SELECT b.vec_id AS src, a.vec_id AS dst
      FROM n a, n b
      WHERE a.vec_id <> b.vec_id AND a.nrm > 0 AND b.nrm > 0
      QUALIFY row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) <= 5
    ),
    nodes AS (
      -- explicit outer DISTINCT: inside WITH RECURSIVE, DuckDB treats
      -- a bare UNION as anchor/step structure and does NOT dedup the
      -- two branches against each other
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM knn UNION ALL SELECT dst FROM knn
      )
    ),
    deg AS (SELECT src, count(*) AS deg FROM knn GROUP BY src),
    nn AS (SELECT count(*) AS cnt FROM nodes),
    pr(it, node, val) AS (
      SELECT 0, node, 1.0 / (SELECT cnt FROM nn) FROM nodes
      UNION ALL
      SELECT pr.it + 1, pr.node,
        0.15 / (SELECT cnt FROM nn) + 0.85 * coalesce((
          SELECT sum(p2.val / deg.deg)
          FROM pr p2
          JOIN knn ON knn.src = p2.node
          JOIN deg ON deg.src = p2.node
          WHERE knn.dst = pr.node AND p2.it = pr.it), 0)
      FROM pr WHERE pr.it < 5
    )
    SELECT node, round(val, 6) AS rank FROM pr WHERE it = 5
    """,
)
def graph_pagerank_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Document centrality: damped PageRank (5 iterations) over the
    exact 5-NN cosine similarity graph — 'which documents sit at the
    hubs of the corpus' (operators/pagerank.py over
    operators/knn.py's edge list)."""
    edges = knn_graph(
        t(spark, sf, "embeddings"), "vec_id", "embedding", k=5
    ).select(F.col("query_id").alias("src"), F.col("nbr_id").alias("dst"))
    ranks = pagerank(edges, "src", "dst", iters=5, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# ---------------------------------------------------- vocabulary


_EN_STOP = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


@_q(
    "tok_vocab_topk",
    f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
      FROM documents
    )
    SELECT tok, count(*) AS cnt,
      CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS INT) AS rank
    FROM toks
    WHERE tok <> '' AND tok NOT IN ({_EN_STOP})
    GROUP BY tok
    QUALIFY rank <= 100
    """,
)
def tok_vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary: top-100 non-stopword tokens by frequency —
    the seed step of tokenizer training.  Map-side partial counts do
    the heavy lifting; only distinct tokens reach the final top-k."""
    docs = fanout(t(spark, sf, "documents"))
    toks = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok")
    ).filter(
        (F.length("tok") > 0) & ~F.col("tok").isin(*STOPWORDS["en"])
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    # r13: distributed TakeOrdered(100) prefix before the rank window
    # — the row_number used to run single-partition over the whole
    # vocabulary; ranks over the prefix are identical ((cnt DESC,
    # tok) is a total order).  Same scale-shape fix as
    # tok_zipf_profile.
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(100)
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("tok", "cnt", "rank")
    )


@_q(
    "tok_vocab_sketch",
    # oracle = the EXACT vocabulary SQL (same as tok_vocab_topk): a
    # hash match certifies the Misra-Gries candidate pass + exact
    # recount lost nothing vs the full-universe shuffle
    f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
      FROM documents
    )
    SELECT tok, count(*) AS cnt,
      CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS INT) AS rank
    FROM toks
    WHERE tok <> '' AND tok NOT IN ({_EN_STOP})
    GROUP BY tok
    QUALIFY rank <= 100
    """,
)
def tok_vocab_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-tier vocabulary: per-partition Misra-Gries summaries →
    candidate union → exact recount of candidates only
    (operators/heavy.py).  Same answer as tok_vocab_topk without
    shuffling the full token universe — the 100-TB path when distinct
    keys outnumber the answer by orders of magnitude."""
    from ..operators.heavy import top_k_sketch

    docs = fanout(t(spark, sf, "documents"))
    toks = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok")
    ).filter(
        (F.length("tok") > 0) & ~F.col("tok").isin(*STOPWORDS["en"])
    )

    # candidate pass reads the raw documents (one Arrow row per DOC,
    # not per token) and tokenizes at C speed in the worker; the
    # exact recount still runs on the JVM token stream above
    import re
    from collections import Counter

    import pandas as pd

    stop = frozenset(STOPWORDS["en"])
    pat = re.compile(r"[a-z]+")

    def tok_counts(pdf: pd.DataFrame) -> pd.Series:
        c: Counter = Counter()
        for txt in pdf["text"]:
            c.update(pat.findall(txt.lower()))
        for s in stop:
            c.pop(s, None)
        return pd.Series(c, dtype="int64")

    return top_k_sketch(
        toks, "tok", k=100,
        sketch_input=docs.select("text"), extract_counts=tok_counts,
    )
