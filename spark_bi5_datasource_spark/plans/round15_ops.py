"""Round-15 catalog additions (builder round 10): the end-to-end
corpus-build pipeline op the r9 verdict asked for (ask #8).

* ``corpus_build_snapshot`` — the north-star composition: one corpus
  snapshot built by chaining the catalog's own stages — exact dedup →
  n-gram near-dedup → quality filter → benchmark decontamination →
  token-budget sequence packing — as ONE declarative DataFrame plan
  (no driver round-trips, no intermediate actions), oracle-checked on
  the COMPOSED output.  Each stage is individually gated elsewhere
  (dedup_exact, dedup_ngram_jaccard, text_quality_filter,
  text_decontaminate, corpus_sequence_packing); this entry proves
  they compose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .llm_ops import _QUALITY_SQL
from .registry import query as _q
from .tables import t

# ------------------------------------- end-to-end corpus snapshot

_CBS_BUDGET = 2048  # the corpus_sequence_packing budget
_CBS_QUALITY = 0.6  # fixed classifier-style keep threshold
_CBS_JACCARD = 0.5  # near-dup drop threshold (the dedup_minhash bar)
_CBS_CONTAM = 0.5  # benchmark-overlap drop threshold

# the composed SQL twin: every stage reuses the EXACT shape of its
# standalone oracle (llm_ops/round14_ops), chained through CTEs
_CBS_SQL = f"""
    WITH alldocs AS (
      SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM alldocs
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), bench AS (
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
    stage, round16_ops) share every other stage by construction."""
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
