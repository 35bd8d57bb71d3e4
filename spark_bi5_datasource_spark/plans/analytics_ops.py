"""Round-4b analytics catalog: corpus statistics (repetition quality,
inverted index, PMI collocations), engagement analytics (DAU/WAU),
linear-interpolation gap fill, int8 embedding quantization
(mapInArrow), cosine radius search, and the SQL-API surface
(spark.sql over registered views).

Oracle policy matches llm_ops/curation_ops: every operator is
deterministic and SQL-expressible, so each carries an exact DuckDB
twin.  Fractions/logs are rounded to 6 decimals AFTER identical
arithmetic shapes on both engines; counts stay exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import repetition_counts_arrow
from .fastmoney import spark_fast_sql
from .registry import query as _q
from .tables import fanout, t

# one tokenization, bound as a column so every downstream branch
# (counts, gram generators) reads the materialized array — the same
# no-re-tokenize discipline as functions/text.py
_TKS = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"


# ------------------------------------------- repetition quality stats


@_q(
    "text_repetition_stats",
    f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS tks
      FROM documents
    ), dd AS (
      SELECT doc_id, tks, len(tks) AS n_tokens FROM d WHERE len(tks) >= 3
    ), bg AS (
      SELECT doc_id, tks[i] || ' ' || tks[i+1] AS g
      FROM dd, unnest(generate_series(1, len(tks) - 1)) AS u(i)
    ), bgc AS (
      SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
    ), bgs AS (
      SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY 1
    ), tg AS (
      SELECT doc_id, tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2] AS g
      FROM dd, unnest(generate_series(1, len(tks) - 2)) AS u(i)
    ), tgc AS (
      SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2
    ), tgs AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup,
             sum(c) AS tot
      FROM tgc GROUP BY 1
    )
    SELECT dd.doc_id, CAST(dd.n_tokens AS BIGINT) AS n_tokens,
           round(bgs.mx / bgs.tot, 6) AS top_bigram_frac,
           round(tgs.dup / tgs.tot, 6) AS dup_trigram_frac
    FROM dd JOIN bgs USING (doc_id) JOIN tgs USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    share of bigram mass held by the single most frequent bigram
    (boilerplate detector) and the share of trigram occurrences that
    are repeats (template/spam detector).

    Three generations of this plan, all measured at x10:
    gram-explode + doc-keyed hash
    agg (24 s — the shuffle was 8x the answer), per-row sorted-array
    run-length folds in Catalyst (4.35 s — exact, zero-shuffle, but
    higher-order lambdas evaluate interpreted, and no JVM variant
    beat it: struct grams 4.75 s, comparator index-sort worse,
    xxhash64-sorted 3.28 s at the price of provable exactness), and
    the shipped Arrow kernel (functions/text.py
    repetition_counts_arrow: C-vectorized tokenize + dictionary-
    encode + one lexsort run-length pass per gram size — the whole
    x10 table in 1.64 s on ONE thread, exact integer counts, zero
    shuffle, parallel over scan splits).  The fraction division and
    rounding stay in Spark so the oracle's round() semantics are
    untouched.

    Parallelism gate: a Python kernel gets exactly the scan's split
    count, and a 512 MiB ``maxPartitionBytes`` split cap leaves a small
    documents file as ONE split (kernel measured 1.81 s serialized vs 0.52 s
    after a 32-way round-robin of the ~35 MB of text — the fan-out
    shuffle costs far less than the serialization it removes).  The
    repartition fires only when the scan has fewer splits than cores;
    at 100-TB scale the corpus arrives in thousands of files and the
    gate is a no-op, so no text is ever shuffled there."""
    d = fanout(t(spark, sf, "documents"))
    stats = repetition_counts_arrow(d, id_col="doc_id", text_col="text")
    return stats.filter(F.col("n_tokens") >= 3).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.col("bg_mx") / (F.col("n_tokens") - 1).cast("double"), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.col("tg_dup") / (F.col("n_tokens") - 2).cast("double"), 6
        ).alias("dup_trigram_frac"),
    )


# ------------------------------------------------------ inverted index


@_q(
    "text_inverted_index",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), p AS (
      SELECT DISTINCT doc_id, tok FROM toks
    )
    SELECT tok, CAST(count(*) AS BIGINT) AS df,
           array_to_string((list_sort(list(doc_id)))[1:20], ',') AS postings
    FROM p GROUP BY tok
    """,
)
def text_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted index: token -> document frequency + the first 20
    postings (sorted doc ids) — the retrieval-side complement of
    tok_vocab_topk.  Distinct (tok, doc) pairs shuffle once on token;
    posting lists are built by collect_list AFTER the distinct, so
    list size is bounded by df (truncated to 20 here; at 100 TB the
    truncation bound is what keeps hot stopword rows from dominating
    — df itself stays exact)."""
    docs = t(spark, sf, "documents")
    pairs = (
        docs.select("doc_id", F.explode(F.expr(_TKS)).alias("tok"))
        .distinct()
    )
    return pairs.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df"),
        # joined as a string: a value the driver's cross-engine hash
        # treats identically (list-typed cells stringify differently
        # in the two engines' pandas paths)
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


# --------------------------------------------------- PMI collocations


@_q(
    "text_pmi_bigrams",
    f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS tks
      FROM documents
    ), dd AS (
      SELECT doc_id, tks FROM d WHERE len(tks) >= 2
    ), toks AS (
      SELECT unnest(tks) AS tok FROM dd
    ), u AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY 1
    ), n1 AS (
      SELECT sum(c) AS n FROM u
    ), bg AS (
      SELECT tks[i] AS w1, tks[i+1] AS w2
      FROM dd, unnest(generate_series(1, len(tks) - 1)) AS t(i)
    ), b AS (
      SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2
    ), m1 AS (
      SELECT sum(c_ab) AS m FROM b
    )
    SELECT b.w1, b.w2, b.c_ab,
           round(ln((b.c_ab / m1.m) /
                    ((ua.c / n1.n) * (ub.c / n1.n))), 6) AS pmi
    FROM b
    JOIN u ua ON ua.tok = b.w1
    JOIN u ub ON ub.tok = b.w2
    CROSS JOIN n1 CROSS JOIN m1
    WHERE b.c_ab >= 5
    ORDER BY ln((b.c_ab / m1.m) / ((ua.c / n1.n) * (ub.c / n1.n))) DESC,
             b.w1, b.w2
    LIMIT 50
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 adjacent-token collocations by pointwise mutual
    information — ln(p(ab) / (p(a)·p(b))) with exact corpus counts.
    The heavy work is two hash aggregations over the token/bigram
    streams; the PMI join touches only the distinct-bigram table,
    with unigram counts and the two scalar totals broadcast."""
    d = (
        t(spark, sf, "documents")
        .select("doc_id", F.expr(_TKS).alias("tks"))
        .filter(F.size("tks") >= 2)
    )
    toks = d.select(F.explode("tks").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n1 = uni.agg(F.sum("c").alias("n"))
    bg = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(tks) - 1), i -> named_struct("
                "'w1', element_at(tks, i), 'w2', element_at(tks, i + 1)))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    b = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    m1 = b.agg(F.sum("c_ab").alias("m"))
    ua = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab") / F.col("m"))
        / ((F.col("c_a") / F.col("n")) * (F.col("c_b") / F.col("n")))
    )
    return (
        b.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(m1))
        .withColumn("_pmi", pmi)
        .orderBy(F.col("_pmi").desc(), "w1", "w2")
        .limit(50)
        .select("w1", "w2", "c_ab", F.round("_pmi", 6).alias("pmi"))
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


# ------------------------------------------------- int8 quantization


@_q(
    "sim_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                x -> abs(x))) AS mx
      FROM embeddings
    )
    SELECT vec_id,
      round(CASE WHEN mx > 0 THEN mx ELSE 0.0 END, 6) AS scale,
      array_to_string(
        CASE WHEN mx > 0
             THEN list_transform(e, x -> CAST(floor(x * 127.0 / mx + 0.5)
                                              AS INT))
             ELSE list_transform(e, x -> 0) END, ',') AS qvec
    FROM s
    """,
)
def sim_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column via
    mapInArrow (operators/quantize.py) — the 4x memory tier for
    ANN at corpus scale.  The kernel is one vectorized NumPy pass per
    Arrow batch; the oracle recomputes the same floor-based half-up
    arithmetic in SQL, so the hash match pins the Arrow boundary
    end-to-end (offsets, casts, rounding)."""
    from ..operators.quantize import quantize_int8

    emb = fanout(t(spark, sf, "embeddings"))
    out = quantize_int8(emb, "vec_id", "embedding")
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_join(
            F.transform("qvec", lambda x: x.cast("string")), ","
        ).alias("qvec"),
    )


# ------------------------------------------------------ radius search


_DOT_D = (
    "list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))"
)


@_q(
    "sim_radius_search",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine
    FROM n a, n b
    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
      AND {_DOT_D} / (a.nrm * b.nrm) >= 0.3
    """,
)
def sim_radius_search(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-radius cosine search (all corpus vectors with cosine >=
    0.3 of the first 10 queries) — the range-search twin of
    sim_cosine_topk: no window, no k, output bounded only by the
    similarity floor (operators/similarity.py cosine_radius)."""
    from ..operators.similarity import cosine_radius

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_radius(emb, queries, threshold=0.3)


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


# ------------------------------------------------ LM quality score


@_q(
    "text_lm_perplexity",
    f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS tks
      FROM documents
    ), dd AS (
      SELECT doc_id, tks FROM d WHERE len(tks) >= 2
    ), toks AS (
      SELECT unnest(tks) AS tok FROM dd
    ), u AS (
      SELECT tok, count(*) AS cu FROM toks GROUP BY 1
    ), v1 AS (
      SELECT count(*) AS v FROM u
    ), db AS (
      SELECT doc_id, tks[i] AS w1, tks[i+1] AS w2
      FROM dd, unnest(generate_series(1, len(tks) - 1)) AS t(i)
    ), cb AS (
      SELECT w1, w2, count(*) AS cb FROM db GROUP BY 1, 2
    ), scored AS (
      SELECT db.doc_id,
        CAST(round(ln((cb.cb + 1) / (u.cu + v1.v)) * 1000000)
             AS BIGINT) AS q
      FROM db
      JOIN cb USING (w1, w2)
      JOIN u ON u.tok = db.w1
      CROSS JOIN v1
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      round((CAST(sum(q) AS DOUBLE) / 1000000.0) / count(*), 6)
        AS avg_logp
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style language-model quality score: train an add-1
    bigram LM on the corpus itself, then score each document by its
    mean log-probability — the classic perplexity filter that ranks
    fluent text above gibberish.  Per-bigram log-probs are scaled to
    integer millionths BEFORE summation so the per-doc mean is exact
    and order-independent (FP addition order would otherwise differ
    between engines and partitionings).

    Scale shape: two corpus-wide count aggregations (the LM), then
    one equi-join of the doc-bigram stream against the bigram counts
    — shuffle keyed on the gram, the same profile as the vocabulary
    ops; unigram counts and V ride along broadcast."""
    d = (
        t(spark, sf, "documents")
        .select("doc_id", F.expr(_TKS).alias("tks"))
        .filter(F.size("tks") >= 2)
    )
    toks = d.select(F.explode("tks").alias("tok"))
    u = toks.groupBy("tok").agg(F.count("*").alias("cu"))
    v1 = u.agg(F.count("*").alias("v"))
    db = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tks) - 1), i -> named_struct("
                "'w1', element_at(tks, i), 'w2', element_at(tks, i + 1)))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    cb = db.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    scored = (
        db.join(cb, ["w1", "w2"])
        .join(F.broadcast(u.withColumnRenamed("tok", "w1")), "w1")
        .crossJoin(F.broadcast(v1))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("cb") + 1) / (F.col("cu") + F.col("v")))
                * 1_000_000
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(
            (F.sum("q").cast("double") / 1_000_000.0) / F.count("*"), 6
        ).alias("avg_logp"),
    )


# ---------------------------------------------------- BM25 retrieval


_BM25_QUERIES = [
    ("q1", ["spark", "join", "fast"]),
    ("q2", ["customer", "order", "table"]),
    ("q3", ["slow", "scan"]),
]
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle() -> str:
    qrows = " UNION ALL ".join(
        f"SELECT '{qid}' AS qid, '{tok}' AS tok"
        for qid, toks in _BM25_QUERIES
        for tok in toks
    )
    return f"""
    WITH q AS ({qrows}),
    d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS tks
      FROM documents
    ), toks AS (
      SELECT doc_id, unnest(tks) AS tok FROM d
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, len(tks) AS dl FROM d
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1
    ), terms AS (
      -- k1/b forced to DOUBLE: DuckDB would otherwise evaluate the
      -- 1.2 literal in exact DECIMAL arithmetic, one ulp off Spark's
      -- binary double
      SELECT q.qid, tf.doc_id,
        CAST(round(
          ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1) *
          (tf.tf * (CAST({_BM25_K1} AS DOUBLE) + 1)) /
          (tf.tf + CAST({_BM25_K1} AS DOUBLE) *
            (1 - CAST({_BM25_B} AS DOUBLE)
               + CAST({_BM25_B} AS DOUBLE) * dl.dl / stats.avgdl))
          * 1000000) AS BIGINT) AS q
      FROM q
      JOIN tf USING (tok)
      JOIN df USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ), scores AS (
      SELECT qid, doc_id, sum(q) AS sq FROM terms GROUP BY 1, 2
    )
    SELECT qid, doc_id,
      round(CAST(sq AS DOUBLE) / 1000000.0, 6) AS score,
      CAST(row_number() OVER (
        PARTITION BY qid ORDER BY sq DESC, doc_id) AS INT) AS rank
    FROM scores QUALIFY rank <= 10
    """


@_q("text_bm25_topk", _bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for a fixed query set — the sparse
    (lexical) tier of the retrieval stack, complementing the dense
    tiers (cosine/LSH/IVF/GEMM).  Per-term contributions are scaled
    to integer millionths before the per-(query, doc) sum, so scores
    — and the rank order, which sorts the exact integer — are
    deterministic across engines and partitionings.

    Scale shape: tf/df/dl are corpus aggregations (the index); the
    scoring join touches only postings of query terms — the classic
    term-at-a-time evaluation, shuffle ∝ matched postings, with the
    tiny query relation broadcast."""
    from pyspark.sql import Window

    docs = t(spark, sf, "documents")
    d = docs.select("doc_id", F.expr(_TKS).alias("tks"))
    toks = d.select("doc_id", F.explode("tks").alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dl = d.select("doc_id", F.size("tks").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    q = spark.createDataFrame(
        [(qid, tok) for qid, toks_ in _BM25_QUERIES for tok in toks_],
        "qid string, tok string",
    )
    k1, b = _BM25_K1, _BM25_B
    term_score = (
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * (F.col("tf") * (k1 + 1))
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    terms = (
        tf.join(F.broadcast(q), "tok")
        .join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc_id",
            F.round(term_score * 1_000_000).cast("bigint").alias("q"),
        )
    )
    scores = terms.groupBy("qid", "doc_id").agg(F.sum("q").alias("sq"))
    w = Window.partitionBy("qid").orderBy(
        F.col("sq").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            "qid",
            "doc_id",
            F.round(F.col("sq").cast("double") / 1_000_000.0, 6).alias(
                "score"
            ),
            "rank",
        )
    )


# ------------------------------------------- correlated subqueries


_EXISTS_SQL = """
    SELECT c.c_custkey, c.c_name
    FROM {p}customer c
    WHERE EXISTS (
        SELECT 1 FROM {p}orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
      )
      AND NOT EXISTS (
        SELECT 1 FROM {p}orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '5-LOW'
      )
"""


@_q("sql_exists_subquery", _EXISTS_SQL.format(p=""))
def sql_exists_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL interface:
    customers with at least one urgent order and no low-priority
    order.  Catalyst decorrelates both subqueries into a left-semi
    and a left-anti hash join (pinned by the plan test) — the
    subquery surface users port first when switching engines."""
    for tb in ("customer", "orders"):
        t(spark, sf, tb).createOrReplaceTempView(f"ex_{tb}")
    return spark.sql(spark_fast_sql(_EXISTS_SQL).format(p="ex_"))


# ------------------------------------------- scalar correlated subquery


_SCALAR_SQL = """
    SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice
    FROM {p}orders o
    WHERE o.o_totalprice = (
      SELECT max(o2.o_totalprice) FROM {p}orders o2
      WHERE o2.o_orderpriority = o.o_orderpriority
    )
"""


@_q("sql_scalar_subquery", _SCALAR_SQL.format(p=""))
def sql_scalar_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated *scalar* subquery through the SQL interface (orders
    matching their priority class's maximum price) — the aggregate
    decorrelation shape, complementing sql_exists_subquery's
    semi/anti shape: Catalyst rewrites it to a grouped max + join,
    never a per-row re-scan."""
    t(spark, sf, "orders").createOrReplaceTempView("sc_orders")
    return spark.sql(spark_fast_sql(_SCALAR_SQL).format(p="sc_"))


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


# ---------------------------------------------- trigram-index grep


_GREP_PATTERN = "slow scan"


def _pattern_trigrams(p: str) -> list[str]:
    return sorted({p[i : i + 3] for i in range(len(p) - 2)})


@_q(
    "text_grep_trigram",
    # oracle = the naive full-scan contains(): a hash match proves the
    # trigram blocking recalled every matching document
    f"""
    SELECT doc_id FROM documents
    WHERE position('{_GREP_PATTERN}' IN text) > 0
    """,
)
def text_grep_trigram(spark: SparkSession, sf: str) -> DataFrame:
    """pg_trgm-style accelerated substring search: documents are
    exploded to their character trigrams ONCE (the inverted index); a
    candidate must contain every trigram of the pattern (count of
    distinct matched trigrams == pattern trigram count), and only
    candidates run the exact ``contains`` verify.  At 100 TB the
    index is materialized and the per-query cost is |postings of the
    pattern's rarest trigrams|, not a full-corpus scan — same
    filter-and-verify discipline as the q-gram fuzzy join.

    The oracle is the naive full scan, so the driver hash match
    certifies the blocking's recall."""
    pats = _pattern_trigrams(_GREP_PATTERN)
    docs = t(spark, sf, "documents")
    tg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 0)),"
                " i -> substring(text, i, 3))"
            )
        ).alias("tg"),
    ).filter(F.col("tg").isin(pats))
    cands = (
        tg.groupBy("doc_id")
        .agg(F.count_distinct("tg").alias("k"))
        .filter(F.col("k") == len(pats))
        .select("doc_id")
    )
    return (
        docs.join(cands, "doc_id", "semi")
        .filter(F.col("text").contains(_GREP_PATTERN))
        .select("doc_id")
    )


# ---------------------------------------------------- SQL-API surface


@_q("sql_tpch_q7", _Q7_SQL.format(p=""))
def sql_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H q7 (volume shipping between two nations) run through the
    *SQL interface*: fixture tables registered as temp views, the
    query submitted verbatim via spark.sql — same Catalyst plan
    space as the DataFrame API (broadcast dims, partial+final agg),
    certifying the engine's SQL entry point against the identical
    DuckDB text.  Money sums use the scaled-long idiom (exact,
    order-independent)."""
    for tb in ("supplier", "lineitem", "orders", "customer", "nation"):
        t(spark, sf, tb).createOrReplaceTempView(f"q7_{tb}")
    return spark.sql(spark_fast_sql(_Q7_SQL).format(p="q7_"))
