"""Corpus-curation catalog: ``corpus_*`` build pipelines and audits,
``sample_*`` mixtures and weighted samples, ``split_*`` deterministic
splits and ``curriculum_*`` schedules — the stages a training-data
pipeline runs after dedup and filtering.

Every stage is deterministic (hash-keyed, seeded), so each carries an
exact DuckDB twin of its composed output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup_ops import _SH
from .registry import query as _q
from .tables import t
from .text_ops import _QUALITY_SQL, _TKS, _TKS_D


# ---------------------------------------------- pipeline utilities
# DuckDB twin of functions.text.doc_fingerprint — the rolling
# polynomial fold (exact BIGINT arithmetic, identical cross-engine).
_FP_SQL = """
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '), tk ->
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(regexp_extract_all(tk, '(?s).'),
                               c -> CAST(unicode(c) AS BIGINT))),
              (a, c) -> (a * 33 + c) % 1000000000000))),
        (h, th) -> (h * 31 + th) % 1000000000000)
"""

# per-language keep rates in basis points of 10000 (down-sample the
# dominant language, keep the tail) — the CC-style rebalancing shape
_STRATA_BPS = {"en": 5000, "de": 2500, "fr": 2500, "es": 2500, "zh": 1000}


@_q(
    "sample_stratified",
    f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source, {_FP_SQL} AS fp FROM documents
    ) WHERE fp % 10000 < CASE lang
        {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_BPS.items())}
        ELSE 500 END
    """,
)
def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates
    applied via the content fingerprint mod 10000.

    Content-keyed (not RNG) sampling is the 100-TB shape: the decision
    is a pure per-row map — no shuffle, no sampler state, reproducible
    across engines/partitionings/reruns, and exact duplicates always
    sample together (so dedup before/after commutes)."""
    from ..functions.text import doc_fingerprint

    rate = F.lit(500)
    for lang, bps in _STRATA_BPS.items():
        rate = F.when(F.col("lang") == lang, bps).otherwise(rate)
    docs = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array(doc_fingerprint("text"))).alias("__fp"),
    )
    return docs.filter(F.col("__fp") % 10000 < rate).select(
        "doc_id", "lang", "source"
    )


@_q(
    "sample_quality_weighted",
    f"""
    WITH q AS (
      SELECT doc_id, lang, {_QUALITY_SQL} AS quality, {_FP_SQL} AS fp
      FROM documents
    )
    SELECT doc_id, lang, quality FROM q
    WHERE fp % 10000 < quality * 6000.0
    """,
)
def sample_quality_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep probability
    proportional to the quality score, decided by the content
    fingerprint (no RNG, no sampler state) — the re-weighting pass
    that up-samples high-quality documents in pre-training mixes.
    Pure per-row map; exact duplicates sample identically, so it
    commutes with dedup like sample_stratified."""
    from ..functions.text import doc_fingerprint, quality_score

    docs = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.explode(
            F.arrays_zip(
                F.array(quality_score("text")),
                F.array(doc_fingerprint("text")),
            )
        ).alias("__qf"),
    ).select(
        "doc_id", "lang",
        F.col("__qf")["0"].alias("quality"),
        F.col("__qf")["1"].alias("__fp"),
    )
    return docs.filter(
        F.col("__fp") % 10000 < F.col("quality") * 6000.0
    ).select("doc_id", "lang", "quality")


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


# -------------------------------------------------------- epoch plan
_EPOCH_SQL = """
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(chars) AS BIGINT) AS tc,
        CAST(count(*) AS BIGINT) AS ns
      FROM s
    )
    SELECT source, n_docs, chars,
      chars * 1000000 // tc AS weight_ppm,
      least(CAST(4000 AS BIGINT), (tc // ns) * 1000 // chars)
        AS epochs_x1000,
      chars * least(CAST(4000 AS BIGINT), (tc // ns) * 1000 // chars)
        // 1000 AS planned_chars
    FROM s CROSS JOIN tot ORDER BY source
"""


@_q("corpus_epoch_plan", _EPOCH_SQL)
def corpus_epoch_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixture epoch plan: each source's repeat factor toward a
    uniform per-source character budget, capped at 4 epochs (the
    "repeat small high-quality sources, downsample the giant crawl"
    table).  Repeat factors in exact milli-epochs; planned volume =
    chars · epochs, floor'd — integer end to end.

    Scale shape: one map-side-combinable groupBy over the documents
    scan to |sources| rows; the budget crossJoin is a 1-row
    broadcast (documented BNLJ bound, same class as
    sample_mixture)."""
    s = t(spark, sf, "documents").groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = s.agg(
        F.sum("chars").cast("bigint").alias("tc"),
        F.count("*").cast("bigint").alias("ns"),
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "chars",
            F.expr("chars * 1000000 div tc").alias("weight_ppm"),
            F.expr(
                "least(CAST(4000 AS BIGINT), (tc div ns) * 1000 div chars)"
            ).alias("epochs_x1000"),
            F.expr(
                "chars * least(CAST(4000 AS BIGINT),"
                " (tc div ns) * 1000 div chars) div 1000"
            ).alias("planned_chars"),
        )
        .orderBy("source")
    )


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
    mixture plan (corpus_epoch_plan) is drawn up.
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
    (corpus_epoch_plan).

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


# -------------------------------------- quality prune curve
_PRUNE_SQL = """
    WITH f AS (
      SELECT doc_id, n_chars,
        2 * (1000000 * len(list_filter(string_split_regex(lower(text),
              '[^a-z]+'), x -> x <> '' AND x IN ('the','a','of','and',
              'to','in','is','it','for','on')))
            // greatest(len(list_filter(string_split_regex(lower(text),
              '[^a-z]+'), x -> x <> '')), 1))
        + (1000000 * least(len(list_filter(string_split_regex(lower(text),
              '[^a-z]+'), x -> x <> '')), 400) // 400)
        - 3 * (1000000 * length(regexp_replace(text, '[^.!?,;]', '', 'g'))
            // greatest(length(text), 1)) AS logit
      FROM documents
    ), ranked AS (
      SELECT n_chars, logit,
        ntile(10) OVER (ORDER BY logit DESC, doc_id) AS decile
      FROM f
    ), per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars
      FROM ranked GROUP BY decile
    ), tot AS (
      SELECT CAST(sum(chars) AS BIGINT) AS total_chars FROM per
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, chars,
      CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_docs,
      CAST(sum(chars) OVER (ORDER BY decile) AS BIGINT) AS cum_chars,
      CAST(sum(chars) OVER (ORDER BY decile) * 1000000 // total_chars
        AS BIGINT) AS cum_chars_ppm
    FROM per CROSS JOIN tot ORDER BY decile
"""


@_q("corpus_quality_prune_curve", _PRUNE_SQL)
def corpus_quality_prune_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Prune curve over the deterministic quality logit
    (text_quality_logit's exact integer score): documents ranked best
    -> worst, cut into deciles (ntile over the total order
    (logit DESC, doc_id)), reporting docs/chars per decile and the
    cumulative corpus fraction retained at each cut in exact ppm —
    the "how much do we lose at threshold X" table a corpus curation
    run reads before fixing its filter.

    Scale shape: the oracle's literal ``ntile(10) OVER (ORDER BY …)``
    would plan an Exchange SinglePartition over the whole corpus (5M
    rows through one task at x1000 — measured 36.6 s); instead the
    decile comes from operators.ranking.with_global_rank (range
    partition + parallel windows + bounded offsets) and ``ntile_expr``
    reproduces SQL NTILE's bucket arithmetic from the exact global
    rank — hash-identical to the ntile oracle, no single-partition
    exchange (the events_rfm pattern).  Then a 10-row rollup."""
    from ..operators.ranking import ntile_expr, with_global_rank

    stops = "('the','a','of','and','to','in','is','it','for','on')"
    tks = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"
    f = t(spark, sf, "documents").select(
        "doc_id",
        "n_chars",
        (
            F.lit(2)
            * F.expr(
                f"1000000 * size(filter({tks}, x -> x IN {stops}))"
                f" div greatest(size({tks}), 1)"
            )
            + F.expr(f"1000000 * least(size({tks}), 400) div 400")
            - F.lit(3)
            * F.expr(
                "1000000 * length(regexp_replace(text, '[^.!?,;]', ''))"
                " div greatest(length(text), 1)"
            )
        ).alias("logit"),
    ).withColumn("neg_logit", -F.col("logit"))
    # The select is filter-free, so |f| == |documents|: take the row
    # count from the raw table (parquet metadata count, no logit
    # computation, no persist to leak — with_global_rank caches its
    # own range-shuffled frame for the two passes that need it).
    n = t(spark, sf, "documents").count()  # bounded: one long
    ranked = with_global_rank(f, ["neg_logit", "doc_id"], "rk").select(
        "n_chars", ntile_expr("rk", n, 10).alias("decile")
    )
    per = ranked.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = per.agg(F.sum("chars").cast("bigint").alias("total_chars"))
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("bigint"),
            "n_docs",
            "chars",
            F.sum("n_docs").over(wc).cast("bigint").alias("cum_docs"),
            F.sum("chars").over(wc).cast("bigint").alias("cum_chars"),
            F.expr(
                "CAST(sum(chars) OVER (ORDER BY decile ROWS BETWEEN"
                " UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000"
                " div total_chars AS BIGINT)"
            ).alias("cum_chars_ppm"),
        )
        .orderBy("decile")
    )


# -------------------------------------------------- lang × source mix
_LANGMIX_SQL = """
    WITH per AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT source, CAST(sum(chars) AS BIGINT) AS src_chars
      FROM per GROUP BY source
    )
    SELECT p.lang, p.source, p.n_docs, p.chars,
      CAST(p.chars * 1000000 // t.src_chars AS BIGINT) AS src_share_ppm
    FROM per p JOIN tot t USING (source)
    ORDER BY lang, source
"""


@_q("corpus_lang_mix", _LANGMIX_SQL)
def corpus_lang_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Language × source composition matrix: docs and char mass per
    cell plus each language's share of its source's characters in
    exact ppm — the first table a multilingual-corpus plan reads
    (and the denominator sanity-check for every per-lang op
    downstream).

    Scale shape: one map-side-combinable (lang, source) count over
    the metadata columns only; shares join a broadcast |sources|-row
    total."""
    per = t(spark, sf, "documents").groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = per.groupBy("source").agg(
        F.sum("chars").cast("bigint").alias("src_chars")
    )
    return (
        per.join(F.broadcast(tot), "source")
        .select(
            "lang",
            "source",
            "n_docs",
            "chars",
            F.expr("CAST(chars * 1000000 div src_chars AS BIGINT)").alias(
                "src_share_ppm"
            ),
        )
        .orderBy("lang", "source")
    )


# ------------------------------------------- langid confusion matrix
def _langid_confusion_sql() -> str:
    from .text_ops import _sql_lang_id

    return f"""
    WITH pred AS ({_sql_lang_id()}),
    cells AS (
      SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY lang_true, lang_pred
    ), rows_ AS (
      SELECT lang_true, CAST(sum(n) AS BIGINT) AS row_total
      FROM cells GROUP BY lang_true
    )
    SELECT c.lang_true, c.lang_pred, c.n, r.row_total,
      CAST(c.n * 1000000 // r.row_total AS BIGINT) AS row_share_ppm
    FROM cells c JOIN rows_ r USING (lang_true)
    ORDER BY lang_true, lang_pred
"""


@_q("corpus_langid_confusion", _langid_confusion_sql())
def corpus_langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Confusion matrix of the stopword-vote language classifier
    against the fixture's labeled lang column: per (true, predicted)
    cell count and its share of the true-language row in exact ppm —
    the evaluation harness every classifier swap runs before
    replacing text_langid's heuristic (the diagonal shares ARE the
    per-language recall).

    Scale shape: the per-row vote (one tokenize, functions/text.py
    lang_id) feeds a ≤|langs|²-cell rollup; the row-total join is a
    broadcast."""
    from ..functions.text import lang_id

    pred = t(spark, sf, "documents").select(
        F.col("lang").alias("lang_true"),
        lang_id("text").alias("lang_pred"),
    )
    cells = pred.groupBy("lang_true", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n")
    )
    rows = cells.groupBy("lang_true").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return (
        cells.join(F.broadcast(rows), "lang_true")
        .select(
            "lang_true",
            "lang_pred",
            "n",
            "row_total",
            F.expr("CAST(n * 1000000 div row_total AS BIGINT)").alias(
                "row_share_ppm"
            ),
        )
        .orderBy("lang_true", "lang_pred")
    )


# ----------------------------------------- token-budget sequence packing
_PACK_BUDGET = 2048

# contiguous greedy fill: within each source (the pack shard), docs in
# doc_id order join sequence floor(exclusive_cumsum_tokens / budget) —
# a sequence absorbs docs until the budget is crossed, and the doc that
# crosses it closes the sequence (overflow tracked, never split).
_PACK_SQL = f"""
    WITH tok AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
      FROM documents WHERE text IS NOT NULL
    ), cum AS (
      SELECT source, doc_id, n_tok,
        CAST(coalesce(sum(n_tok) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS prior
      FROM tok
    )
    SELECT source, CAST(prior // {_PACK_BUDGET} AS BIGINT) AS seq_id,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS tokens,
      CAST(greatest(max(prior + n_tok) - ({_PACK_BUDGET} *
        (prior // {_PACK_BUDGET} + 1)), 0) AS BIGINT) AS overflow
    FROM cum
    GROUP BY source, prior // {_PACK_BUDGET}
    ORDER BY source, seq_id
"""


@_q("corpus_sequence_packing", _PACK_SQL)
def corpus_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing — the pretraining batch-assembly
    op: documents are packed contiguously (doc_id order, never split)
    into fixed-budget training sequences per source shard, each doc
    joining sequence ``floor(exclusive_cumsum_tokens / budget)`` so a
    sequence absorbs docs until the budget is crossed and the
    crossing doc closes it.  Per (source, seq_id): doc count, token
    sum, and the overflow past the budget (the truncation-or-carry
    amount the trainer handles).  Whitespace token counts — the
    catalog's cheap token rule; the BPE tier swaps in via
    text_bpe_token_count.

    Oracle = the identical integer window/floor-division arithmetic
    in SQL (exclusive-frame running sum, BIGINT division).

    Scale shape: one window partitioned by source (the pack shard) in
    doc_id order, then one hash aggregate on (source, seq) — no
    global ordering anywhere.  At 100 TB the shard key is
    (source, hash-bucket) so no partition outgrows an executor; the
    per-shard sequential cumsum is exactly the scan order parquet
    already provides within a bucket."""
    from pyspark.sql import Window

    docs = t(spark, sf, "documents").where("text IS NOT NULL")
    tok = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = tok.withColumn(
        "prior", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint")
    ).withColumn("seq_id", F.expr(f"prior div {_PACK_BUDGET}"))
    return (
        cum.groupBy("source", "seq_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.greatest(
                F.max(F.col("prior") + F.col("n_tok"))
                - (F.col("seq_id") + 1) * _PACK_BUDGET,
                F.lit(0),
            )
            .cast("bigint")
            .alias("overflow"),
        )
        .select(
            "source",
            F.col("seq_id").cast("bigint").alias("seq_id"),
            "n_docs",
            "tokens",
            "overflow",
        )
        .orderBy("source", "seq_id")
    )


# ------------------------------------- end-to-end corpus snapshot
_CBS_BUDGET = 2048  # the corpus_sequence_packing budget
_CBS_QUALITY = 0.6  # fixed classifier-style keep threshold
_CBS_JACCARD = 0.5  # near-dup drop threshold (the dedup_minhash bar)
_CBS_CONTAM = 0.5  # benchmark-overlap drop threshold

# the composed SQL twin: every stage reuses the EXACT shape of its
# standalone oracle, chained through CTEs
_CBS_SQL = f"""
    WITH alldocs AS (
      SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM alldocs
    ), {_SH}, bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    ), d0 AS (
      SELECT * FROM alldocs WHERE doc_id % 97 <> 0
    ), ex AS (
      SELECT min(doc_id) AS doc_id FROM d0 GROUP BY text
    ), d1 AS (
      SELECT d.* FROM d0 d JOIN ex USING (doc_id)
    ), sz AS (
      SELECT s.doc_id, count(*) AS sz
      FROM sh s JOIN d1 USING (doc_id) GROUP BY s.doc_id
    ), losers AS (
      SELECT DISTINCT y.doc_id AS doc_id
      FROM sh x JOIN sh y ON x.shingle = y.shingle
        AND x.doc_id < y.doc_id
      JOIN d1 dx ON dx.doc_id = x.doc_id
      JOIN d1 dy ON dy.doc_id = y.doc_id
      JOIN sz sa ON sa.doc_id = x.doc_id
      JOIN sz sb ON sb.doc_id = y.doc_id
      GROUP BY x.doc_id, y.doc_id, sa.sz, sb.sz
      HAVING CAST(count(*) AS DOUBLE) / (sa.sz + sb.sz - count(*))
        >= {_CBS_JACCARD}
    ), d2 AS (
      SELECT * FROM d1
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ), d3 AS (
      SELECT * FROM d2 WHERE {_QUALITY_SQL} >= {_CBS_QUALITY}
    ), contam AS (
      SELECT s.doc_id
      FROM sh s JOIN d3 USING (doc_id)
      LEFT JOIN bench b ON b.shingle = s.shingle
      GROUP BY s.doc_id
      HAVING CAST(count(b.shingle) AS DOUBLE) / count(*) >= {_CBS_CONTAM}
    ), d4 AS (
      SELECT * FROM d3
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ), tok4 AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
      FROM d4
    ), cum AS (
      SELECT source, doc_id, n_tok,
        CAST(coalesce(sum(n_tok) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS prior
      FROM tok4
    )
    SELECT source, CAST(prior // {_CBS_BUDGET} AS BIGINT) AS seq_id,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS tokens,
      CAST(greatest(max(prior + n_tok) - ({_CBS_BUDGET} *
        (prior // {_CBS_BUDGET} + 1)), 0) AS BIGINT) AS overflow
    FROM cum
    GROUP BY source, prior // {_CBS_BUDGET}
    ORDER BY source, seq_id
"""


@_q("corpus_build_snapshot", _CBS_SQL)
def corpus_build_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-corpus snapshot — the catalog's pipeline
    stages composed into ONE declarative plan:

    1. exact dedup      — keep the min-id doc per identical text
                          (window min over the text partition; the
                          dedup_exact discipline)
    2. near-dedup       — drop docs with a word-3-shingle Jaccard ≥
                          0.5 neighbor of smaller id among exact
                          survivors (inverted shingle index, the
                          dedup_ngram_jaccard/dedup_minhash bar)
    3. quality filter   — composite C4/Gopher-style score ≥ 0.6, the
                          fixed classifier-threshold posture
                          (text_quality_filter's score expression)
    4. decontamination  — drop docs whose distinct-shingle overlap
                          with the held-out benchmark slice
                          (doc_id % 97 = 0, itself excluded from the
                          build) is ≥ 0.5 (text_decontaminate)
    5. sequence packing — survivors packed contiguously per source
                          shard into 2048-token budget sequences
                          (corpus_sequence_packing's exclusive-cumsum
                          floor division)

    Output = per (source, seq_id): doc count, token sum, budget
    overflow — the batch-assembly manifest of the FINAL corpus, so
    the oracle hash gates the whole composition: any stage dropping
    the wrong doc (or the wrong stage ORDER) shifts the packing and
    breaks value equality.

    Scale shape: stages chain without driver round-trips — no
    collect, no intermediate writes; Catalyst sees one tree.  Per
    stage: (1) one exchange on a text-hash-sized key; (2) the
    inverted-index shingle join of dedup_ngram_jaccard (df-banded at
    production scale via minhash — this entry keeps the exact bar
    its oracle can mirror); (3) a pure map filter, no shuffle; (4)
    the benchmark shingle set is eval-sized → broadcast, corpus side
    stays map-side; (5) one window per source shard + one hash
    aggregate (no global sort).  A production run would materialize
    the post-stage-4 corpus (the snapshot artifact) before packing;
    here the unmaterialized chain is the point — operators compose.

    Cites reference scope: the reference engine has no curation
    surface at all (README.md:17 — loading only); this is the
    LLM-pipeline extension tier's capstone."""
    from ..operators.dedup import ngram_jaccard_pairs, reuse_gate

    d0, bench_sh = corpus_inputs(spark, sf)

    # stage 1: exact dedup — min-id survivor per identical text.
    # reuse_gate: d1 feeds BOTH the near-dup pair enumeration and the
    # survivor anti-join (and d3 below likewise feeds decontamination
    # and the final anti-join) — ungated, each extra consumer re-runs
    # the whole upstream chain (measured sf0.1: 6.6 → 5.2 s with the
    # two gates, r10)
    wt = Window.partitionBy("text")
    d1 = reuse_gate(
        d0.withColumn("__min_id", F.min("doc_id").over(wt))
        .where(F.col("doc_id") == F.col("__min_id"))
        .drop("__min_id"),
        "doc_id",
    )

    # stage 2: near-dedup at the verification-grade exact bar
    pairs = ngram_jaccard_pairs(
        d1, "doc_id", "text", n=3, threshold=_CBS_JACCARD
    )
    near_losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    d2 = d1.join(near_losers, "doc_id", "left_anti")

    return corpus_tail_stages(d2, bench_sh)


def corpus_inputs(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """Shared head of the corpus-build pipelines: ``(d0, bench_sh)``
    — the build slice (benchmark docs excluded) and the broadcastable
    distinct-shingle frame of the held-out benchmark slice
    (doc_id % 97 = 0)."""
    from ..operators.dedup import with_shingles

    alldocs = t(spark, sf, "documents").where("text IS NOT NULL").select(
        "doc_id", "source", "text"
    )
    bench_sh = (
        with_shingles(alldocs.where("doc_id % 97 = 0"), "text", 3)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return alldocs.where("doc_id % 97 <> 0"), bench_sh


def corpus_tail_stages(d2: DataFrame, bench_sh: DataFrame) -> DataFrame:
    """Shared stages 3-5 of the corpus-build pipelines: quality
    filter → benchmark decontamination → per-source token-budget
    sequence packing, from the near-dedup survivors ``d2`` to the
    packing manifest.  Factored so ``corpus_build_snapshot`` (exact
    near-dedup bar) and ``corpus_build_production`` (minhash banded
    stage) share every other stage by construction."""
    from ..functions.text import quality_score_cols
    from ..operators.dedup import reuse_gate, with_shingles

    # stage 3: fixed-threshold quality filter (the score is a
    # generated column, the filter is map-side); gated — d3 feeds
    # both decontamination and the final anti-join
    d3 = reuse_gate(
        d2.select(
            "doc_id", "source", "text", quality_score_cols("text")
        ).where(F.col("quality") >= _CBS_QUALITY),
        "doc_id",
    )

    # stage 4: benchmark decontamination — broadcast membership test
    overl = (
        with_shingles(d3, "text", 3)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("__n"),
            F.count("__hit").alias("__h"),
        )
        .where(F.col("__h") / F.col("__n") >= _CBS_CONTAM)
        .select("doc_id")
    )
    d4 = d3.join(overl, "doc_id", "left_anti")

    # stage 5: token-budget sequence packing of the final corpus
    tok = d4.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    wp = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = tok.withColumn(
        "prior", F.coalesce(F.sum("n_tok").over(wp), F.lit(0)).cast("bigint")
    ).withColumn("seq_id", F.expr(f"prior div {_CBS_BUDGET}"))
    return (
        cum.groupBy("source", "seq_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.greatest(
                F.max(F.col("prior") + F.col("n_tok"))
                - (F.col("seq_id") + 1) * _CBS_BUDGET,
                F.lit(0),
            )
            .cast("bigint")
            .alias("overflow"),
        )
        .select(
            "source",
            F.col("seq_id").cast("bigint").alias("seq_id"),
            "n_docs",
            "tokens",
            "overflow",
        )
        .orderBy("source", "seq_id")
    )


@_q("corpus_build_production", _CBS_SQL)
def corpus_build_production(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-build pipeline in its PRODUCTION posture: stages
    1+2 (exact dedup → near-dedup) run as one ``minhash_dedup`` pass
    — the hash-exact pre-pass inside it IS stage 1 (min-id survivor
    per identical text), and the banded LSH + verify-last stage
    replaces ``corpus_build_snapshot``'s exact inverted-shingle-index
    self-join.  Stages 3-5 (quality filter → benchmark
    decontamination → per-source 2048-token sequence packing) are
    literally shared code (corpus_tail_stages), so the
    two entries differ ONLY in the near-dedup engine.

    Why this is the shape that ships at 100 TB: the snapshot's exact
    stage pairs every co-shingled doc pair (the inverted index is
    |pairs|-quadratic on boilerplate shingles), which is the
    verification-grade bar its oracle can mirror — but a production
    corpus build pays the banded cost instead: signatures once,
    16-band bucket-representative pairing, exact Jaccard only on
    candidates (verify-last).  The streaming twin
    (stream_corpus_build_writer) has shipped this stage from day one
    via the stored band index; this entry is its batch equal.

    Oracle = the snapshot's composed exact SQL, unchanged (the
    dedup_minhash discipline): the banded stage drops only VERIFIED
    jaccard ≥ 0.5 pairs under the same min-id rule, so its survivor
    set equals the exact pass whenever LSH recall catches every
    loser — deterministic (seeded permutations) and pinned at both
    oracle fixture scales by
    tests/test_operators.py::test_corpus_production_equals_snapshot;
    the driver re-checks the hash every window it rotates in.

    Scale shape: identical to the snapshot for stages 3-5 (map-side
    filter, broadcast decontam membership, per-source packing
    window); stage 1+2 is the dedup_minhash engine — one exchange on
    (band, bucket) with content-derived keys, candidates deduped
    before verification, no corpus self-pairing beyond bucket
    representatives."""
    from ..operators.dedup import minhash_dedup

    d0, bench_sh = corpus_inputs(spark, sf)
    # stages 1+2 fused: minhash_dedup's built-in exact_dedup pre-pass
    # is exactly stage 1; bands=16 at num_perm=32 (2 rows/band) is
    # the high-recall delta-dedup configuration, and recall at the
    # oracle scales is pinned by the equality test
    d2 = minhash_dedup(
        d0, "doc_id", "text", n=3, num_perm=32, bands=16, threshold=0.5
    )
    return corpus_tail_stages(d2, bench_sh)
