"""Round-6 catalog additions — retrieval-stack and curation composites
the LLM-pipeline tier was still missing as first-class queries:

* hybrid retrieval (dense cosine rank ⊕ sparse lexical-overlap rank,
  reciprocal-rank fusion) — the standard two-tower serving shape;
* n-gram novelty scoring — the inverse of the dedup signal: how much
  of a document is unique to it (fresh-content weighting for
  training-mix construction);
* keep-best canonicalization — exact-key dedup that keeps the BEST
  record of each group instead of an arbitrary one (catalog/crawl
  canonical selection);
* RFM segmentation — the classic recency/frequency/monetary user
  binning over the event stream.

Oracle policy unchanged (same logical SQL in DuckDB; rank fusion and
scores ride integer scaling so values are engine- and
partitioning-independent).  Reference parity note: the reference
(spark-2.4/src/main/scala/be/salvania/BI5DataSource.scala) is a
read-only scan connector — everything here is the beyond-reference query surface the
mandate adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import t

_TKS = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"
_TKS_D = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"

# ------------------------------------------------- hybrid retrieval (RRF)

_RRF_K = 60  # the standard fusion constant
_RRF_QUERIES = 5  # vec_id/doc_id < 5 act as queries (ids are aligned)
_RRF_DEPTH = 20  # per-leg candidate depth
_DOT_D = (
    "list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))"
)

_RRF_SQL = f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    ), dense AS (
      SELECT b.vec_id AS query_id, a.vec_id AS doc_id,
        CAST(row_number() OVER (
          PARTITION BY b.vec_id
          ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS BIGINT) AS r
      FROM n a, n b
      WHERE b.vec_id < {_RRF_QUERIES} AND a.vec_id <> b.vec_id
      QUALIFY r <= {_RRF_DEPTH}
    ), d AS (
      SELECT doc_id, unnest(list_distinct({_TKS_D})) AS tok FROM documents
    ), sparse AS (
      SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
        CAST(row_number() OVER (
          PARTITION BY q.doc_id
          ORDER BY count(*) DESC, c.doc_id ASC) AS BIGINT) AS r
      FROM d q JOIN d c ON q.tok = c.tok AND q.doc_id <> c.doc_id
      WHERE q.doc_id < {_RRF_QUERIES}
      GROUP BY q.doc_id, c.doc_id
      QUALIFY r <= {_RRF_DEPTH}
    ), fused AS (
      SELECT coalesce(dense.query_id, sparse.query_id) AS query_id,
             coalesce(dense.doc_id, sparse.doc_id) AS doc_id,
             coalesce(CAST(round(1000000000.0 / ({_RRF_K} + dense.r)) AS BIGINT), 0)
           + coalesce(CAST(round(1000000000.0 / ({_RRF_K} + sparse.r)) AS BIGINT), 0)
               AS s
      FROM dense FULL OUTER JOIN sparse
        ON dense.query_id = sparse.query_id AND dense.doc_id = sparse.doc_id
    )
    SELECT query_id, doc_id,
      round(CAST(s AS DOUBLE) / 1000000000.0, 6) AS rrf,
      CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS INT) AS rank
    FROM fused QUALIFY rank <= 10
"""


@_q("retrieval_hybrid_rrf", _RRF_SQL)
def retrieval_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: dense (exact cosine) and sparse (distinct-
    token lexical overlap) candidate lists fused with reciprocal-rank
    fusion, top-10 per query.  Fusion contributions are scaled to
    integer billionths BEFORE the sum, so fused scores — and the rank,
    which sorts the exact integer — are engine-identical.

    Scale shape: the dense leg is the brute-force baseline (swap in
    the IVF/LSH/GEMM tiers at corpus scale — identical rank contract);
    the sparse leg is an inverted-index equi-join on tokens, shuffle ∝
    matched postings of the QUERY docs only (the query-side filter
    lands before the join).  The fusion itself is a full-outer join of
    two ≤ |Q|·depth rank lists — trivially small at any corpus size —
    so hybrid serving costs the two legs, never a cross product."""
    emb = t(spark, sf, "embeddings")
    nrm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    q_side = nrm.filter(F.col("vec_id") < _RRF_QUERIES)
    a = nrm.alias("a")
    b = F.broadcast(
        q_side.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with(
            "a.embedding", "qemb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("doc_id").asc()
    )
    dense = (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("a.vec_id").alias("doc_id"),
            (dot / (F.col("a.nrm") * F.col("qnrm"))).alias("cos"),
        )
        .withColumn("r", F.row_number().over(wq).cast("bigint"))
        .filter(F.col("r") <= _RRF_DEPTH)
        .drop("cos")
    )
    toks = t(spark, sf, "documents").select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TKS))).alias("tok")
    )
    qtoks = F.broadcast(
        toks.filter(F.col("doc_id") < _RRF_QUERIES).select(
            F.col("doc_id").alias("query_id"), "tok"
        )
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("overlap").desc(), F.col("doc_id").asc()
    )
    sparse = (
        toks.join(qtoks, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("overlap"))
        .withColumn("r", F.row_number().over(ws).cast("bigint"))
        .filter(F.col("r") <= _RRF_DEPTH)
        .drop("overlap")
    )

    def leg(col):
        return F.coalesce(
            F.round(F.lit(1_000_000_000.0) / (F.lit(_RRF_K) + F.col(col))).cast(
                "bigint"
            ),
            F.lit(0).cast("bigint"),
        )

    fused = (
        dense.withColumnRenamed("r", "rd")
        .join(
            sparse.withColumnRenamed("r", "rs"),
            ["query_id", "doc_id"],
            "full_outer",
        )
        .select(
            "query_id",
            "doc_id",
            (leg("rd") + leg("rs")).alias("s"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("s").cast("double") / 1_000_000_000.0, 6).alias("rrf"),
            "rank",
        )
    )


# ---------------------------------------------------- n-gram novelty

_NOVELTY_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_TKS_D} AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
    ), cnt AS (
      SELECT shingle, count(*) AS docs FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
      CAST(count(*) AS BIGINT) AS n_shingles,
      CAST(sum(CASE WHEN cnt.docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      round(CAST(sum(CASE WHEN cnt.docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS novelty
    FROM sh JOIN cnt USING (shingle)
    GROUP BY sh.doc_id
"""


@_q("text_ngram_novelty", _NOVELTY_SQL)
def text_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document novelty: the fraction of the doc's DISTINCT word
    trigrams that occur in no other document — the inverse of the
    dedup signal, used to up-weight fresh content in a training mix.

    Scale shape: one shingle explode (the same stream every dedup op
    builds), one count per distinct shingle, one re-join keyed on the
    shingle — shuffle ∝ distinct (doc, shingle) pairs, never pairwise
    in documents.  Docs shorter than 3 tokens have no trigrams and
    drop out (same in both engines)."""
    toks = t(spark, sf, "documents").select(
        "doc_id", F.expr(_TKS).alias("tk")
    )
    sh = (
        toks.filter(F.size("tk") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 3), "
                    "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    cnt = sh.groupBy("shingle").agg(F.count("*").alias("docs"))
    novel = F.sum(F.when(F.col("docs") == 1, 1).otherwise(0)).cast("bigint")
    return (
        sh.join(cnt, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            novel.alias("n_novel"),
            F.round(
                novel.cast("double") / F.count("*"), 6
            ).alias("novelty"),
        )
    )


# ------------------------------------------- keep-best canonicalization


@_q(
    "dedup_keep_best_parts",
    """
    SELECT p_partkey, p_name, p_brand, p_retailprice
    FROM part
    QUALIFY row_number() OVER (
      PARTITION BY p_name
      ORDER BY p_retailprice DESC, p_partkey ASC
    ) = 1
    ORDER BY p_name
    """,
)
def dedup_keep_best_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-key dedup that keeps the BEST record per group instead of
    an arbitrary survivor — canonical-record selection (here: highest
    retail price per part name, part key as the total tie-break).  The
    fixture's part table is the honest dup workload: 2 000 rows over
    64 names.

    Scale shape: one exchange on the dedup key + a per-group
    row_number — identical cost to plain exact dedup; at crawl scale
    the 'best' ordering is where quality scores plug in (the same
    window, ordered by the quality column)."""
    w = Window.partitionBy("p_name").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        t(spark, sf, "part")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .orderBy("p_name")
    )


# --------------------------------------- approximate quantile sketch


@_q(
    "agg_approx_quantiles",
    """
    WITH q AS (
      SELECT event_type,
        quantile_disc(value, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS qs,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    )
    SELECT event_type, qs[1] AS q10, qs[2] AS q25, qs[3] AS q50,
           qs[4] AS q75, qs[5] AS q90, qs[6] AS q99, n
    FROM q ORDER BY event_type
    """,
)
def agg_approx_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable approximate-quantile sketch (Greenwald-Khanna via
    ``percentile_approx``), pinned at its provably-exact parameter
    point — the same oracle pattern as ``sim_ivf_exact``: at
    accuracy=1e6 the rank error n/(2·accuracy) is < 1 for every
    fixture tier, the sketch returns the exact discrete quantile
    element, and both engines pick elements by the same
    smallest-rank-≥-⌈p·n⌉ convention (verified empirically), so
    doubles hash-match bit-for-bit with no arithmetic involved.

    Scale shape: this is the 100-TB replacement for exact percentiles
    — partials are O(accuracy·log n) per group, merge associatively
    map-side, and nothing sorts; the exact ``percentile`` twin
    (agg_percentile_collect) buffers each group.  The approximation
    contract at REAL sketch sizes (accuracy ≪ n) is pinned by
    tests/test_operators.py::test_approx_quantiles_rank_error."""
    g = (
        t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value", [0.1, 0.25, 0.5, 0.75, 0.9, 0.99], 1_000_000
            ).alias("qs"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    names = ["q10", "q25", "q50", "q75", "q90", "q99"]
    return g.select(
        "event_type",
        *[F.col("qs")[i].alias(nm) for i, nm in enumerate(names)],
        "n",
    ).orderBy("event_type")


# ------------------------------------------------------ RFM segmentation


_RFM_SQL = """
    WITH base AS (
      SELECT user_id,
        date_diff('day', max(ts),
                  (SELECT max(ts) FROM events)) AS recency_days,
        CAST(count(*) AS BIGINT) AS frequency,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_c
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT user_id,
        ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS r,
        ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f,
        ntile(5) OVER (ORDER BY monetary_c DESC, user_id ASC) AS m
      FROM base
    )
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
      CAST(count(*) AS BIGINT) AS users
    FROM scored GROUP BY r, f, m
    ORDER BY r, f, m
"""


@_q("events_rfm", _RFM_SQL)
def events_rfm(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation of
    the user base, reported as segment sizes.  Every ranking rides a
    TOTAL order (metric + user_id tie-break), so bin assignment is
    engine-identical; monetary sums are PER-ROW integer cents (the
    associative engine-exact convention shared with events_daily_ohlc
    — a post-sum round would depend on partial-agg addition order).

    Scale shape: one agg keyed on user_id, then three GLOBAL rankings
    over the USER table (not the event log).  A literal
    ``ntile(5) OVER (ORDER BY …)`` — the oracle's form — plans as
    Exchange SinglePartition, the canonical scale killer at 1B+
    users; here each ranking is operators.ranking.with_global_rank
    (range-partition + parallel partition-local windows + bounded
    per-partition offsets) and ``ntile_expr`` reproduces SQL NTILE's
    bucket arithmetic from the exact global rank, so the driver hash
    matches the ntile oracle with no single-partition exchange
    (pinned by tests/test_plan_shapes.py)."""
    from ..operators.ranking import ntile_expr, with_global_rank

    ev = t(spark, sf, "events")
    max_ts = ev.agg(F.max("ts").alias("gmax"))
    base = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("umax"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.expr(_HA.format(x="value", m=100))).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(max_ts))
        .select(
            "user_id",
            F.datediff(F.to_date("gmax"), F.to_date("umax")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary_c",
        )
        # with_global_rank orders ascending: negate the two DESC
        # metrics (bigint negation is exact) so every leg is ASC with
        # the same user_id tie-break the oracle uses
        .withColumn("neg_f", -F.col("frequency"))
        .withColumn("neg_m", -F.col("monetary_c"))
    ).persist()
    n = base.count()  # bounded: one long per job, needed by NTILE arithmetic
    ranked = with_global_rank(base, ["recency_days", "user_id"], "rk_r")
    ranked = with_global_rank(ranked, ["neg_f", "user_id"], "rk_f")
    ranked = with_global_rank(ranked, ["neg_m", "user_id"], "rk_m")
    scored = ranked.select(
        ntile_expr("rk_r", n, 5).alias("r"),
        ntile_expr("rk_f", n, 5).alias("f"),
        ntile_expr("rk_m", n, 5).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count("*").cast("bigint").alias("users"))
        .orderBy("r", "f", "m")
    )


# ------------------------------------- cross-encoder-style rerank twin

_RR_DEPTH = 20  # first-stage candidate depth
_RR_TOPK = 5

_RERANK_SQL = f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    ), cand AS (
      SELECT b.vec_id AS query_id, a.vec_id AS doc_id,
        CAST(FLOOR({_DOT_D} / (a.nrm * b.nrm) * 1000000000) AS BIGINT) AS cos_b
      FROM n a, n b
      WHERE b.vec_id < {_RRF_QUERIES} AND a.vec_id <> b.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY b.vec_id ORDER BY cos_b DESC, a.vec_id ASC) <= {_RR_DEPTH}
    ), toks AS (
      SELECT doc_id, unnest(list_distinct({_TKS_D})) AS tok FROM documents
    ), ov AS (
      SELECT c.query_id, c.doc_id, CAST(count(*) AS BIGINT) AS overlap
      FROM cand c
      JOIN toks q ON q.doc_id = c.query_id
      JOIN toks d ON d.doc_id = c.doc_id AND d.tok = q.tok
      GROUP BY c.query_id, c.doc_id
    ), feat AS (
      SELECT c.query_id, c.doc_id, c.cos_b,
             coalesce(o.overlap, 0) AS overlap,
             least(length(d.text), 2000) AS len_c
      FROM cand c
      LEFT JOIN ov o ON o.query_id = c.query_id AND o.doc_id = c.doc_id
      JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT query_id, doc_id,
      CAST(cos_b * 2 + overlap * 50000000 + len_c * 10000 AS BIGINT) AS score,
      CAST(row_number() OVER (
        PARTITION BY query_id
        ORDER BY cos_b * 2 + overlap * 50000000 + len_c * 10000 DESC,
                 doc_id ASC) AS INT) AS rank
    FROM feat QUALIFY rank <= {_RR_TOPK}
"""


@_q("retrieval_rerank_topk", _RERANK_SQL)
def retrieval_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Second-stage rerank twin: first-stage dense top-20 candidates
    per query, then a deterministic cross-encoder-style scorer over
    each (query, candidate) pair — integer-scaled cosine (billionths
    via FLOOR, exact on IEEE doubles in both engines), lexical-overlap
    count, and a length prior, combined with fixed integer weights —
    top-5 per query by the exact integer score.

    This is the serving-stack shape a learned cross-encoder slots
    into: the candidate generator bounds the pair count (|Q| × depth,
    never corpus²), features join per-pair from independent legs, and
    the scorer is a pure projection — swapping in a model score only
    changes the projection.  Scale: the pair frame is ≤ |Q| · depth
    rows regardless of corpus size; the overlap leg is the inverted-
    index join keyed on the QUERY docs' tokens (same bound as
    retrieval_hybrid_rrf's sparse leg)."""
    emb = t(spark, sf, "embeddings")
    nrm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    b = F.broadcast(
        nrm.filter(F.col("vec_id") < _RRF_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with(
            "a.embedding", "qemb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_b").desc(), F.col("doc_id").asc()
    )
    cand = (
        nrm.alias("a")
        .crossJoin(b)
        .filter(F.col("a.vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("a.vec_id").alias("doc_id"),
            F.floor(dot / (F.col("a.nrm") * F.col("qnrm")) * 1_000_000_000)
            .cast("bigint")
            .alias("cos_b"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _RR_DEPTH)
        .drop("rn")
    )
    toks = t(spark, sf, "documents").select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TKS))).alias("tok")
    )
    qtoks = F.broadcast(
        toks.filter(F.col("doc_id") < _RRF_QUERIES).select(
            F.col("doc_id").alias("query_id"), "tok"
        )
    )
    ov = (
        toks.join(qtoks, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("bigint").alias("overlap"))
    )
    dlen = t(spark, sf, "documents").select(
        "doc_id", F.least(F.length("text"), F.lit(2000)).alias("len_c")
    )
    feat = (
        cand.join(ov, ["query_id", "doc_id"], "left")
        .withColumn("overlap", F.coalesce("overlap", F.lit(0).cast("bigint")))
        .join(dlen, "doc_id")
    )
    score = (
        F.col("cos_b") * 2
        + F.col("overlap") * 50_000_000
        + F.col("len_c") * 10_000
    ).cast("bigint")
    wf = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        feat.withColumn("score", score)
        .withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= _RR_TOPK)
        .select("query_id", "doc_id", "score", "rank")
    )


# --------------------------------- dedup-aware mixture rebalancing

_MIX_DD_SQL = """
    WITH cl AS (
      SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS csz
      FROM documents GROUP BY 1
    ), d2 AS (
      SELECT d.doc_id, d.source, d.text, cl.csz,
        CAST(1000000 // cl.csz AS BIGINT) AS eff_ppm
      FROM documents d JOIN cl ON md5(d.text) = cl.h
    ), m AS (
      SELECT source,
        CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
             THEN 2 ELSE 1 END AS wt,
        CAST(sum(eff_ppm) AS BIGINT) AS eff_mass
      FROM d2 GROUP BY source
    ), tot AS (
      SELECT sum(eff_mass) AS em, sum(wt) AS sw FROM m
    ), rates AS (
      SELECT source,
        least(1000000, (em * wt * 1000000) // (sw * eff_mass)) AS keep_ppm
      FROM m CROSS JOIN tot
    )
    SELECT d2.doc_id, d2.source, d2.csz AS cluster_size
    FROM d2 JOIN rates r ON d2.source = r.source
    WHERE CAST(
        ('0x' || substr(md5(CAST(d2.doc_id AS VARCHAR) || '|' || d2.text),
                        1, 12)) AS BIGINT) % 1000000 < r.keep_ppm
"""


@_q("sample_mixture_dedup_aware", _MIX_DD_SQL)
def sample_mixture_dedup_aware(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture rebalancing that refuses to double-count duplicate
    mass: every document carries effective weight 1/exact-dup-cluster-
    size (integer ppm), per-source keep rates target the weight
    profile over EFFECTIVE mass (a 10×-duplicated source no longer
    looks 10× bigger to the mixer), and acceptance stays the content-
    keyed md5 threshold — so the sample commutes with dedup and is
    reproducible under any partitioning.  The composition of
    dedup_exact's cluster signal with sample_mixture's exact-integer
    rate arithmetic, as one pipeline stage.

    Scale shape: one hash-keyed agg (the dedup_exact exchange), one
    equi-join back on the hash, a tiny broadcast rate table — no new
    shuffle class beyond plain exact dedup."""
    d = t(spark, sf, "documents")
    cl = d.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").cast("bigint").alias("csz")
    )
    d2 = d.withColumn("h", F.md5("text")).join(cl, "h").select(
        "doc_id",
        "source",
        "text",
        "csz",
        F.expr("CAST(1000000 div csz AS BIGINT)").alias("eff_ppm"),
    )
    m = d2.groupBy("source").agg(
        F.sum("eff_ppm").cast("bigint").alias("eff_mass")
    ).withColumn(
        "wt",
        F.when(F.substring("source", 4, 10).cast("int") % 2 == 0, 2).otherwise(1),
    )
    tot = m.agg(F.sum("eff_mass").alias("em"), F.sum("wt").alias("sw"))
    rates = m.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1_000_000).cast("bigint"),
            F.expr("(em * wt * 1000000) div (sw * eff_mass)"),
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
        d2.join(F.broadcast(rates), "source")
        .filter(fp < F.col("keep_ppm"))
        .select("doc_id", "source", F.col("csz").alias("cluster_size"))
    )


# ---------------------------------- deterministic quality-logit filter

_QL_STOPS = "('the','a','of','and','to','in','is','it','for','on')"

_QLOGIT_SQL = f"""
    WITH f AS (
      SELECT doc_id, source,
        len({_TKS_D}) AS nw,
        len(list_filter({_TKS_D}, x -> x IN {_QL_STOPS})) AS nstop,
        length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS npunct,
        length(text) AS nchar
      FROM documents
    )
    SELECT doc_id, source,
      CAST(2 * (1000000 * nstop // greatest(nw, 1))
         + (1000000 * least(nw, 400) // 400)
         - 3 * (1000000 * npunct // greatest(nchar, 1)) AS BIGINT) AS logit,
      (2 * (1000000 * nstop // greatest(nw, 1))
         + (1000000 * least(nw, 400) // 400)
         - 3 * (1000000 * npunct // greatest(nchar, 1))) >= 300000 AS keep
    FROM f
"""


@_q("text_quality_logit", _QLOGIT_SQL)
def text_quality_logit(spark: SparkSession, sf: str) -> DataFrame:
    """Model-scored quality filtering, the deterministic twin of a
    fasttext-style classifier: a fixed-weight integer logit over
    per-document features (stopword rate, length prior, punctuation
    density), thresholded into a keep flag.  Every ratio is scaled to
    integer ppm with floor DIVISION (exact in both engines) before the
    weighted sum, so scores — and the keep boundary — are engine- and
    partitioning-identical.  Swapping in learned weights (or a real
    model via a pandas UDF) changes only the projection.

    Scale shape: a pure per-row map over one scan — no shuffle at all;
    the tokenization is the same single-pass split every text op
    shares."""
    stops = "('the','a','of','and','to','in','is','it','for','on')"
    f = t(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.expr(f"size({_TKS})").alias("nw"),
        F.expr(
            f"size(filter({_TKS}, x -> x IN {stops}))"
        ).alias("nstop"),
        F.length(F.regexp_replace("text", r"[^.!?,;]", "")).alias("npunct"),
        F.length("text").alias("nchar"),
    )
    logit = (
        F.lit(2) * F.expr("1000000 * nstop div greatest(nw, 1)")
        + F.expr("1000000 * least(nw, 400) div 400")
        - F.lit(3) * F.expr("1000000 * npunct div greatest(nchar, 1)")
    )
    return f.select(
        "doc_id",
        "source",
        logit.cast("bigint").alias("logit"),
        (logit >= 300_000).alias("keep"),
    )


# --------------------------------------- curriculum interleave ordering

_CURR_SQL = f"""
    WITH f AS (
      SELECT doc_id, source, len({_TKS_D}) AS nw FROM documents
    ), ranked AS (
      SELECT doc_id, source, nw,
        CAST(row_number() OVER (
          PARTITION BY source ORDER BY nw DESC, doc_id ASC) AS BIGINT)
          AS rank_in_source
      FROM f
    ), src AS (
      SELECT source,
        CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx,
        CAST((SELECT count(DISTINCT source) FROM documents) AS BIGINT)
          AS n_src
      FROM (SELECT DISTINCT source FROM documents) s
    )
    SELECT r.doc_id, r.source, r.rank_in_source,
      CAST((r.rank_in_source - 1) * src.n_src + src.src_idx AS BIGINT)
        AS position
    FROM ranked r JOIN src ON r.source = src.source
"""


@_q("curriculum_interleave", _CURR_SQL)
def curriculum_interleave(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic curriculum ordering for a training stream:
    quality-rank documents WITHIN each source (token count as the
    stand-in quality metric; any deterministic score slots in), then
    interleave sources round-robin by computing the global position
    ARITHMETICALLY — position = (rank-1)·n_sources + source_index —
    so consecutive training positions rotate through sources without
    any global ORDER BY.

    Scale shape: the per-source ranking is a keyed window (parallel
    across sources); the source-index table is a post-distinct frame
    of ~|sources| rows (the documented provably-small exception for
    its window) broadcast back; the position needs NO single-partition
    exchange — the arithmetic replaces the global sort a naive
    row_number() over the whole corpus would plan."""
    d = t(spark, sf, "documents")
    f = d.select("doc_id", "source", F.expr(f"size({_TKS})").alias("nw"))
    w = Window.partitionBy("source").orderBy(
        F.col("nw").desc(), F.col("doc_id").asc()
    )
    ranked = f.withColumn(
        "rank_in_source", F.row_number().over(w).cast("bigint")
    )
    srcs = d.select("source").distinct()
    ws = Window.orderBy("source")  # ~|sources| rows post-distinct: tiny
    src = srcs.select(
        "source", F.row_number().over(ws).cast("bigint").alias("src_idx")
    ).crossJoin(
        F.broadcast(srcs.agg(F.count("*").cast("bigint").alias("n_src")))
    )
    return (
        ranked.join(F.broadcast(src), "source")
        .select(
            "doc_id",
            "source",
            "rank_in_source",
            ((F.col("rank_in_source") - 1) * F.col("n_src") + F.col("src_idx"))
            .cast("bigint")
            .alias("position"),
        )
    )
