"""North-star LLM-pipeline query catalog (SURVEY §2 Tier C): dedup,
similarity search, text analysis, multimodal plumbing over the
``documents`` and ``embeddings`` fixtures.

Oracle policy: every operator whose semantics are SQL-expressible gets
an exact DuckDB oracle (n-gram Jaccard join, exact dedup, brute-force
cosine top-k, text stats/lang-id/quality, multimodal feature shapes).
dedup_minhash is oracled against the EXACT min-id pass it
approximates — equality verified deterministic on these fixtures.
Remaining hash/sketch operators (simhash/LSH/HLL — xxhash64 has no
DuckDB twin and their outputs are approximate by nature) are covered
by semantic pytest oracles instead (tests/test_operators.py plants
known near-dups and asserts they are found).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS
from ..operators import (
    cosine_pairs,
    minhash_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    rp_lsh_topk,
    simhash,
    simhash_pairs,
)
from ..operators.dedup import exact_dedup
from .registry import query as _q
from .tables import fanout, t

# ------------------------------------------------------------- dedup


@_q(
    "dedup_exact",
    """
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
        row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact text dedup, deterministic min-doc_id survivor."""
    return exact_dedup(t(spark, sf, "documents"), ["text"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@_q(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      -- docs shorter than the shingle width contribute their whole
      -- text as the single shingle (mirrors with_shingles' CASE)
      SELECT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS ic
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b,
      round(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard similarity join (inverted shingle index) —
    the verification-grade near-dup baseline."""
    pairs = ngram_jaccard_pairs(
        t(spark, sf, "documents"), "doc_id", "text", n=3, threshold=0.1
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@_q(
    "dedup_minhash",
    # Oracle = the EXACT single-pass min-id dedup (drop any doc with a
    # verified jaccard ≥ 0.5 neighbor of smaller id), via the same
    # inverted-shingle-index SQL as dedup_ngram_jaccard.  The LSH
    # output is a superset of this ideal by construction (it only
    # drops verified pairs); equality holds when LSH recall catches
    # every loser — verified identical on this corpus at sf0.001/0.01
    # (test_minhash_equals_exact_min_id_pass) and deterministic (fixed
    # seeds), so the driver's hash-match is stable.
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), losers AS (
      SELECT DISTINCT y.doc_id AS id
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      JOIN sizes sa ON sa.doc_id = x.doc_id
      JOIN sizes sb ON sb.doc_id = y.doc_id
      GROUP BY x.doc_id, y.doc_id, sa.sz, sb.sz
      HAVING CAST(count(*) AS DOUBLE) / (sa.sz + sb.sz - count(*)) >= 0.5
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT id FROM losers)
    """,
)
def dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dedup: surviving docs (min-id policy).
    Exact-pass equality additionally pinned by planted-dup tests in
    tests/test_operators.py."""
    # fanout measured HARMFUL here (x10: 2.03 -> 2.39 s): the shingle
    # explode feeds a groupBy whose exchange already redistributes, so
    # the extra round-robin shuffle is pure cost
    return minhash_dedup(
        t(spark, sf, "documents"), "doc_id", "text", n=3, num_perm=32, bands=8,
        threshold=0.5,
    ).select("doc_id", "lang", "source")


# (dedup_minhash_candidates retired as a catalog entry — it was a
# rows-only observability view of the banding stage; the stage is
# covered by dedup_minhash plus the planted-dup tests.  The helper
# minhash_lsh_pairs stays exported for callers.)


@_q(
    "text_chunk_pack",
    """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents
    ), chunks AS (
      SELECT doc_id, source, CAST(i AS INT) AS chunk_idx,
        len(tk) - i * 48 AS remaining,
        least(64, len(tk) - i * 48) AS n_chunk_tokens,
        array_to_string(list_slice(tk, i * 48 + 1, i * 48 + 64), ' ') AS chunk
      FROM toks, UNNEST(generate_series(0,
        greatest(CAST(ceil((len(tk) - 64) / 48.0) AS INT), 0))) AS u(i)
    )
    SELECT doc_id, chunk_idx, n_chunk_tokens, chunk,
      CAST(floor((sum(n_chunk_tokens) OVER w - n_chunk_tokens) / 256.0) AS INT)
        AS pack_id,
      source
    FROM chunks
    WINDOW w AS (PARTITION BY source ORDER BY doc_id, chunk_idx)
    """,
)
def text_chunk_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data prep: overlapping token-window chunking (64-token
    windows, stride 48) then greedy sequence packing into 256-token
    bins via a running-sum window per source — all JVM-side, one
    tokenization per document.

    Packing is partitioned by ``source`` (not a global window): at 100
    TB a single-partition running sum is the classic scale killer;
    per-source packing keeps the window parallel and is what a sharded
    training-data writer wants anyway."""
    from ..functions.text import chunk_array

    docs = t(spark, sf, "documents")
    chunks = docs.select(
        "doc_id",
        "source",
        F.posexplode(chunk_array("text", window=64, stride=48)).alias(
            "chunk_idx", "chunk"
        ),
    ).withColumn("n_chunk_tokens", F.expr("size(split(chunk, ' '))"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        "chunk",
        F.floor(
            (F.sum("n_chunk_tokens").over(w) - F.col("n_chunk_tokens")) / 256.0
        )
        .cast("int")
        .alias("pack_id"),
        "source",
    )


@_q(
    "dedup_embedding",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round({{dot}} / (a.nrm * b.nrm), 6) AS cosine
      FROM n a, n b
      WHERE a.vec_id < b.vec_id
        AND {{dot}} / (a.nrm * b.nrm) >= 0.5
    )
    SELECT 'exact' AS method, id_a, id_b, cosine FROM pairs
    UNION ALL
    SELECT 'lsh' AS method, id_a, id_b, cosine FROM pairs
    """.replace("{dot}", "list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))"),
)
def dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, BOTH compute paths under one
    driver row (the setop_suite pattern, freeing a gate-window slot):

    * ``exact`` — quadratic all-pairs verify baseline (pure HOF join);
    * ``lsh``  — OR-amplified hyperplane LSH (7 bands × 5 bits +
      hamming-1 multiprobe ⇒ ≈0.99 per-pair collision odds at cosine
      0.5) with exact-cosine verification of candidates.

    Oracle is the exact all-pairs twin emitted once per method tag:
    with the fixed seed the banded amplification recovers every ≥0.5
    pair on the test corpora (checked at sf0.001/0.01/0.1 — 0/1/14
    pairs, all matched), and the verification filter removes false
    candidates, so LSH output == exact output here.  At extreme scale
    recall stays ≈0.99 per pair — the LSH path remains approximate by
    construction."""
    emb = t(spark, sf, "embeddings")
    exact = _cosine_pairs_exact(emb).withColumn("method", F.lit("exact"))
    lsh = cosine_pairs(emb, threshold=0.5).withColumn("method", F.lit("lsh"))
    return exact.unionByName(lsh).select("method", "id_a", "id_b", "cosine")


# -------------------------------------------------------- similarity


_DOT_D = (
    "list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))"
)


@_q(
    "sim_cosine_topk",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT) AS rank
    FROM n a, n b
    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
    QUALIFY rank <= 5
    """,
)
def sim_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact brute-force cosine top-5 neighbors for the first 10
    vectors — the ANN correctness baseline."""
    from ..operators.similarity import cosine_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # corpus side fans out (per-pair dot products are the cost; the
    # scan arrives as 1-2 row-group-bound splits at fixture scale)
    return cosine_topk(fanout(emb), queries, k=5).withColumn(
        "rank", F.col("rank").cast("int")
    )


@_q(
    "sim_ivf_exact",
    # nprobe = nlist probes every cell, so the IVF cell equi-join
    # enumerates the full corpus per query and the result is provably
    # exact (pinned by test_operators' full-probe-exact test) — it
    # shares the brute-force oracle while exercising the k-means
    # training + cell-assignment + cell-join path end-to-end.
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT) AS rank
    FROM n a, n b
    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
    QUALIFY rank <= 5
    """,
)
def sim_ivf_exact(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN in exact mode (nprobe = nlist): k-means cells + probe
    join, hash-checked against the brute-force oracle.  The
    approximate production mode (nprobe < nlist) is sim_ivf_topk."""
    from ..operators import ivf_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, nlist=8, nprobe=8, iters=2)


@_q(
    "sim_lsh_exact",
    # one hyperplane + hamming-1 multiprobe probes BOTH buckets, so
    # the bucket equi-join enumerates the full corpus per query and
    # the result is provably exact — the same exact-mode trick as
    # sim_ivf_exact, putting the signature/probe/bucket-join plumbing
    # of rp_lsh_topk under the hard hash gate.  The approximate
    # production mode (12 planes) remains sim_lsh_topk, pinned by the
    # recall-vs-exact pytest.
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT) AS rank
    FROM n a, n b
    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
    QUALIFY rank <= 5
    """,
)
def sim_lsh_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH ANN in exact mode (1 plane + multiprobe = both
    buckets probed), hash-checked against the brute-force oracle."""
    from ..operators.similarity import rp_lsh_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return rp_lsh_topk(emb, queries, k=5, n_planes=1, multiprobe=True)


def _cosine_pairs_exact(emb: DataFrame) -> DataFrame:
    """Exact all-pairs cosine ≥ 0.5 (quadratic verify baseline for
    the LSH pair variants) — driver-checked as the 'exact' leg of the
    dedup_embedding suite."""
    n = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("v"),
    ).withColumn(
        "nrm", F.expr("sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))")
    )
    a, b = n.alias("a"), n.alias("b")
    dot = "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", F.expr(dot) / (F.col("a.nrm") * F.col("b.nrm")))
        .filter(F.col("cosine") >= 0.5)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


@_q(
    "sim_label_centroids",
    """
    SELECT label, count(*) AS n,
      round(SUM(CAST(embedding[1] AS DOUBLE)) / count(*), 6) AS dim0_mean
    FROM embeddings GROUP BY label
    """,
)
def sim_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding stats (grouping over vector columns)."""
    emb = t(spark, sf, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.expr("cast(embedding[0] AS double)"))
            / F.count("*"),
            6,
        ).alias("dim0_mean"),
    )


# ------------------------------------------------------ text analysis


def _sql_stopword_ratio(lst: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in lst)
    return (
        f"len(list_filter(string_split(text, ' '), x -> lower(x) IN ({inlist})))"
        f" / CAST(len(string_split(text, ' ')) AS DOUBLE)"
    )


_PUNCT_SQL = (
    "length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g')) "
    "/ greatest(length(text), 1)"
)
_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


@_q(
    "text_stats",
    f"""
    SELECT doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      round(list_sum(list_transform(string_split(text, ' '), x -> length(x)))
            / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len,
      round({_PUNCT_SQL}, 6) AS punct_ratio,
      round({_sql_stopword_ratio(STOPWORDS["en"])}, 6) AS stopword_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token/char statistics — all JVM-side expressions; one
    tokenization feeds all four stats via an inline generator."""
    from ..functions.text import text_stats_cols

    return fanout(t(spark, sf, "documents")).select(
        "doc_id", text_stats_cols("text")
    )


def _sql_lang_id() -> str:
    score_exprs = ",\n        ".join(
        "len(list_filter(string_split(text, ' '), x -> lower(x) IN ({lst}))) AS s_{lang}".format(
            lst=", ".join(f"'{w}'" for w in words), lang=lang
        )
        for lang, words in STOPWORDS.items()
    )
    best = "greatest({})".format(", ".join(f"s_{lang}" for lang in STOPWORDS))
    # Alphabetically-first language wins ties — same as functions/text.py.
    whens = " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(STOPWORDS))
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS lang_true,
        {score_exprs}
      FROM documents
    ), ranked AS (
      SELECT doc_id, lang_true, {best} AS best,
        s_de, s_en, s_es, s_fr, s_zh
      FROM scored
    )
    SELECT doc_id, lang_true,
      CASE WHEN best > 0 THEN (CASE {whens} END) ELSE 'und' END AS lang_pred
    FROM ranked
    """


@_q("text_langid", _sql_lang_id())
def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-vote language ID vs the fixture's true lang column."""
    from ..functions.text import lang_id

    return t(spark, sf, "documents").select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        lang_id("text").alias("lang_pred"),
    )


_QUALITY_SQL = f"""
      round(
        least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.4
        + (1.0 - least(({_PUNCT_SQL}) * 5, 1.0)) * 0.3
        + least(({_sql_stopword_ratio(STOPWORDS["en"])}) * 4, 1.0) * 0.3,
      6)
"""


@_q(
    "text_quality_filter",
    f"""
    WITH q AS (
      SELECT doc_id,
        {_QUALITY_SQL} AS quality
      FROM documents
    ), m AS (
      SELECT round(quantile_cont(quality, 0.5), 6) AS m FROM q
    )
    SELECT doc_id, quality FROM q, m WHERE quality >= m.m
    """,
)
def text_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring + percentile threshold filter: keep docs at or
    above the median composite quality score.  Scores are rounded to
    6 places and the median re-rounded so the >= boundary is FP-stable
    against the exact-interpolation oracle."""
    from ..functions.text import quality_score_cols

    docs = t(spark, sf, "documents").select("doc_id", quality_score_cols("text"))
    median = docs.agg(F.round(F.expr("percentile(quality, 0.5)"), 6).alias("m"))
    return (
        docs.crossJoin(F.broadcast(median))
        .filter(F.col("quality") >= F.col("m"))
        .select("doc_id", "quality")
    )


@_q(
    "text_fingerprint",
    """
    SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '), tk ->
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(regexp_extract_all(tk, '(?s).'),
                               c -> CAST(unicode(c) AS BIGINT))),
              (a, c) -> (a * 33 + c) % 1000000000000))),
        (h, th) -> (h * 31 + th) % 1000000000000) AS fingerprint,
      CASE WHEN list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '), tk ->
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(regexp_extract_all(tk, '(?s).'),
                               c -> CAST(unicode(c) AS BIGINT))),
              (a, c) -> (a * 33 + c) % 1000000000000))),
        (h, th) -> (h * 31 + th) % 1000000000000) % 100 < 90
      THEN 'train' ELSE 'eval' END AS split
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Order-sensitive rolling polynomial fingerprint over tokens and
    codepoints — pure integer arithmetic, identical in Spark and
    DuckDB (hash-checked), unlike the xxhash64 variant it replaces.
    Also derives the content-keyed deterministic 90/10 train/eval
    split (fingerprint mod 100): stable across runs, partitionings,
    and engines — exact duplicates always land in the same split."""
    from ..functions.text import doc_fingerprint

    # explode(array(...)) = Generate barrier: the split column reads
    # the fingerprint attribute instead of inlining (and re-running)
    # the whole codepoint fold a second time per row
    docs = t(spark, sf, "documents").select(
        "doc_id",
        F.explode(F.array(doc_fingerprint("text"))).alias("fingerprint"),
    )
    return docs.select(
        "doc_id",
        "fingerprint",
        F.when(F.col("fingerprint") % 100 < 90, "train")
        .otherwise("eval")
        .alias("split"),
    )


@_q(
    "text_source_rollup",
    """
    SELECT source, lang, count(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source, lang
    """,
)
def text_source_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus composition rollup — per-source/language token budget."""
    from ..functions.text import token_count

    return (
        t(spark, sf, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(token_count("text")).cast("bigint").alias("total_tokens"),
        )
    )


# ------------------------------------------------------- multimodal


@_q(
    "multimodal_features",
    """
    SELECT doc_id AS media_id, 'image' AS kind,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      CAST((octet_length(encode(text)) % 640) + 1 AS INT) AS width,
      CAST((octet_length(encode(text)) % 480) + 1 AS INT) AS height
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-payload pipeline: documents → binary media table →
    Arrow-batched mapInPandas feature extraction (deterministic fake
    decode kernel; see functions/multimodal.py)."""
    from ..functions.multimodal import documents_as_media, extract_media_features

    media = documents_as_media(t(spark, sf, "documents"))
    return extract_media_features(media).select(
        "media_id", "kind", "n_bytes", "width", "height"
    )


@_q(
    "sim_pandas_udf_norm",
    """
    SELECT vec_id,
      round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS norm
    FROM embeddings
    """,
)
def sim_pandas_udf_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-vectorized pandas UDF surface: batch NumPy L2 norms
    (oracle-checked against the same formula in SQL; the pure-JVM
    twin is operators/similarity.with_norm)."""
    from ..functions.pandas_udfs import vector_norm

    return t(spark, sf, "embeddings").select(
        "vec_id", F.round(vector_norm("embedding"), 6).alias("norm")
    )


@_q(
    "sim_gemm_topk",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT) AS rank
    FROM n a, n b
    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
    QUALIFY rank <= 5
    """,
)
def sim_gemm_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Sharded-GEMM ANN (mapInPandas matrix kernel) — exact results,
    so it shares the brute-force oracle; the throughput tier for
    large query sets (operators/ann_shard.py)."""
    from ..operators import ann_topk_gemm

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # fanout measured HARMFUL here (x10: 0.29 -> 0.47 s): the GEMM
    # kernel amortizes whole batches, so fewer/larger shards win
    return ann_topk_gemm(emb, queries, k=5)


_PAIRS_SQL = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS ic
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY id_a, id_b
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.5
    )
"""


@_q(
    "dedup_components",
    _PAIRS_SQL
    + """
    , sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), closure(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT c.a, s.b FROM closure c JOIN sym s ON c.b = s.a
    )
    SELECT a AS node,
      CAST(least(a, min(b)) AS BIGINT) AS component
    FROM closure GROUP BY a
    """,
)
def dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Exact transitive near-dup clusters: n-gram Jaccard pairs →
    large-star/small-star connected components (operators/
    components.py).  Oracle = recursive-CTE transitive closure.

    Exact duplicates are collapsed BEFORE the shingle join: the
    inverted-index join costs O(Σ df²) per shingle, and duplicate-heavy
    corpora (the crawl-data norm) multiply every df.  Identical texts
    are interchangeable in the similarity graph, so running the join on
    distinct texts and reconnecting members through their min-id
    representative yields IDENTICAL components (any path through a
    copy maps to a path through its representative).  Measured 265 s →
    ~7 s on 50 k docs with 10× exact duplication."""
    from ..operators import connected_components

    docs = t(spark, sf, "documents").select("doc_id", "text")
    reps = docs.groupBy("text").agg(F.min("doc_id").alias("rep_id"))
    members = docs.join(reps, "text").select("doc_id", "rep_id")
    # member ↔ representative edges (jaccard 1 by definition)
    exact_edges = members.filter(F.col("doc_id") != F.col("rep_id")).select(
        F.col("rep_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    near = ngram_jaccard_pairs(
        reps.select(F.col("rep_id").alias("doc_id"), "text"),
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
    ).select("id_a", "id_b")
    pairs = near.unionByName(exact_edges)
    return connected_components(pairs, "id_a", "id_b").select(
        "node", F.col("component").cast("bigint").alias("component")
    )


@_q(
    "text_bpe_token_count",
    r"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+')) AS INT)
        AS n_bpe_tokens,
      len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Token budgeting: BPE-ish pre-tokenizer count vs whitespace count
    (functions/text.py BPE_ISH_PATTERN — same regex class semantics in
    Java regex and RE2)."""
    from ..functions.text import bpe_ish_token_count, token_count

    return t(spark, sf, "documents").select(
        "doc_id",
        bpe_ish_token_count("text").cast("int").alias("n_bpe_tokens"),
        token_count("text").alias("n_ws_tokens"),
    )


# ---------------------------------------------- pipeline utilities
#
# Registered after the driver's ~50-entry gate window (which is full
# of oracle-backed rows); these still carry exact DuckDB oracles and
# are value-checked every session by tests/test_queries_oracle.py.

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
    "text_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
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
    )
    SELECT s.doc_id,
      CAST(count(*) AS BIGINT) AS n_shingles,
      CAST(count(b.shingle) AS BIGINT) AS n_hit,
      round(CAST(count(b.shingle) AS DOUBLE) / count(*), 6) AS overlap,
      CAST(CASE WHEN CAST(count(b.shingle) AS DOUBLE) / count(*) >= 0.5
           THEN 1 ELSE 0 END AS INT) AS contaminated
    FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: per-document fraction of distinct
    3-gram shingles that appear in the held-out benchmark slice
    (doc_id % 97 == 0 stands in for an eval set).

    Scale shape: the benchmark shingle set is eval-set-sized →
    broadcast; the corpus side joins map-side (no corpus shuffle for
    the membership test) and only the per-doc hit counts go through
    the one aggregation exchange."""
    from ..operators.dedup import with_shingles

    docs = t(spark, sf, "documents").select("doc_id", "text")
    sh = with_shingles(docs, "text", 3).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias("overlap"),
            (F.col("n_hit") / F.col("n_shingles") >= 0.5)
            .cast("int")
            .alias("contaminated"),
        )
    )


@_q(
    "text_tfidf_topterms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
      round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf,
      CAST(rank AS INT) AS rank
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, n.n_docs, df.df,
        row_number() OVER (
          PARTITION BY tf.doc_id
          ORDER BY tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) DESC,
                   tf.term ASC) AS rank
      FROM tf JOIN df ON tf.term = df.term, n
    ) WHERE rank <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """Keyword extraction: top-3 terms per document by tf·idf
    (idf = ln((N+1)/(df+1)), deterministic term tie-break).

    Two aggregations + a vocabulary-keyed join: tf shuffles on
    (doc, term), df is vocabulary-sized, N rides along as a broadcast
    1-row frame.  The per-doc top-k is the standard window+filter."""
    docs = t(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@_q(
    "events_value_histogram",
    """
    WITH h AS (
      SELECT CAST(floor(value / 50.0) AS INT) AS bucket,
        count(*) AS cnt
      FROM events GROUP BY 1
    )
    SELECT bucket, bucket * 50.0 AS lo, (bucket + 1) * 50.0 AS hi,
      CAST(cnt AS BIGINT) AS cnt,
      CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum_cnt
    FROM h
    """,
)
def events_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width value histogram + cumulative counts.  The heavy agg
    is a plain hash groupBy (partial+final); the window runs over the
    bucket table only — never over the events (a global-ordering window
    over raw rows is the classic scale killer)."""
    ev = t(spark, sf, "events")
    h = ev.groupBy(
        F.floor(F.col("value") / 50.0).cast("int").alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return h.select(
        "bucket",
        (F.col("bucket") * 50.0).alias("lo"),
        ((F.col("bucket") + 1) * 50.0).alias("hi"),
        F.col("cnt").cast("bigint").alias("cnt"),
        F.sum("cnt").over(w).cast("bigint").alias("cum_cnt"),
    )


_REDACT_SQL = "text"
for _pat, _tag in [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}", "<PHONE>"),
]:
    _REDACT_SQL = f"regexp_replace({_REDACT_SQL}, '{_pat}', '{_tag}', 'g')"


@_q(
    "text_redact_pii",
    f"""
    SELECT doc_id, {_REDACT_SQL} AS redacted,
      CAST(CASE WHEN {_REDACT_SQL} <> text THEN 1 ELSE 0 END AS INT)
        AS was_redacted
    FROM documents
    """,
)
def text_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub: email/IPv4/phone spans → typed tags (the compliance
    pass before any training run).  One chained regexp_replace scan,
    fully JVM-side; patterns restricted to the Java∩RE2 regex subset
    so the identical patterns run in the DuckDB oracle."""
    from ..functions.text import redact_pii

    docs = t(spark, sf, "documents")
    red = redact_pii("text")
    return docs.select(
        "doc_id",
        red.alias("redacted"),
        (red != F.col("text")).cast("int").alias("was_redacted"),
    )


# z-value recipe shared between engines: identical bit plan, emitted
# once as a Catalyst column tree and once as DuckDB SQL
_Z_BITS = 16
_Z_SQL_EXPRS = ["(user_id & 65535)", "(CAST(floor(value) AS BIGINT) & 65535)"]


def _zorder_sql() -> str:
    from ..operators.zorder import zvalue_sql

    return f"""
    SELECT event_id, {zvalue_sql(_Z_SQL_EXPRS, _Z_BITS)} AS zval
    FROM events
    """


@_q("zorder_values", _zorder_sql())
def zorder_values(spark: SparkSession, sf: str) -> DataFrame:
    """Morton z-values over (user_id, value) — the multi-column
    data-skipping sort key (operators/zorder.py).  The bit-interleave
    is pure integer arithmetic built from one shared recipe, so Spark
    and DuckDB agree bit-for-bit; ``zorder_write`` uses the same
    column to produce the clustered parquet layout."""
    from ..operators.zorder import zvalue

    ev = t(spark, sf, "events")
    z = zvalue(
        [
            F.col("user_id").bitwiseAND(F.lit(65535)),
            F.expr("CAST(floor(value) AS BIGINT)").bitwiseAND(F.lit(65535)),
        ],
        _Z_BITS,
    )
    return ev.select("event_id", z.alias("zval"))


@_q(
    "merge_upsert_orders",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ), src AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice
      FROM base WHERE o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey + 500000000, o_custkey, 'N', o_totalprice
      FROM base WHERE o_orderkey % 17 = 0
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM src
    UNION ALL
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
    FROM base b ANTI JOIN src s ON b.o_orderkey = s.o_orderkey
    """,
)
def merge_upsert_orders(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO semantics (operators/upsert.py): a derived delta —
    updates (status→'U' for orderkey%13=0) plus inserts (new keys,
    status 'N') — upserted into orders via the broadcast-anti-join
    composition.  The target is never shuffled: the 100-TB merge
    plan."""
    from ..operators.upsert import merge_upsert

    orders = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    inserts = orders.filter(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + 500000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return merge_upsert(orders, updates.unionByName(inserts), ["o_orderkey"])


@_q(
    "emb_standardize",
    """
    WITH ex AS (
      SELECT vec_id,
        CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), st AS (
      SELECT dim, avg(x) AS mu, stddev_samp(x) AS sd FROM ex GROUP BY dim
    )
    SELECT ex.vec_id, ex.dim,
      round((ex.x - st.mu) / nullif(st.sd, 0), 6) AS z
    FROM ex JOIN st USING (dim)
    """,
)
def emb_standardize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus
    (the feature-scaling pass before clustering/IVF training).

    Scale shape: the per-dim stats frame is dim-sized (64 rows) —
    one partial+final agg over the exploded corpus, then a broadcast
    join back; the corpus itself is never shuffled."""
    emb = t(spark, sf, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    st = ex.groupBy("dim").agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
    )
    return ex.join(F.broadcast(st), "dim").select(
        "vec_id",
        "dim",
        F.round(
            (F.col("x") - F.col("mu"))
            / F.when(F.col("sd") != 0, F.col("sd")),
            6,
        ).alias("z"),
    )


@_q(
    "events_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY user_id
    )
    SELECT f.cohort,
      CAST(date_diff('day', f.cohort, date_trunc('day', e.ts)) AS INT)
        AS day_offset,
      CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen date,
    activity counted per (cohort, day-offset).

    One scan, two shuffles: the first-seen date attaches as a window
    min over user_id (no groupBy+self-join — the naive formulation
    scans the log twice and pays 4 exchanges), then the (cohort,
    offset) distinct-count agg."""
    ev = t(spark, sf, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    )
    cohort = F.min("d").over(Window.partitionBy("user_id"))
    return (
        ev.withColumn("cohort", cohort)
        .groupBy(
            "cohort", F.datediff("d", "cohort").cast("int").alias("day_offset")
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@_q(
    "events_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase
    """,
)
def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase: a user advances
    a stage only with a LATER event of the next type (time-ordered,
    not mere presence).

    Each stage is one agg + one equi-join against the (user-sized)
    previous stage; no window over raw events, no self-join explosion
    — the funnel cost is 3 linear passes however wide the event log."""
    ev = t(spark, sf, "events").select("user_id", "event_type", "ts")

    def stage(prev: DataFrame, etype: str, tcol: str, prev_t: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = stage(v, "click", "t1", "t0")
    p = stage(c, "purchase", "t2", "t1")
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )


@_q(
    "scd2_customer_orders",
    """
    SELECT o_custkey, o_orderkey, o_orderstatus,
      o_orderdate AS valid_from,
      lead(o_orderdate) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ) AS valid_to,
      CAST(CASE WHEN lead(o_orderdate) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ) IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM orders
    """,
)
def scd2_customer_orders(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 build (operators/scd.py): each customer's order
    history becomes versioned rows with [valid_from, valid_to)
    intervals and a current flag — one window pass, no self-join."""
    from ..operators.scd import scd2_build

    orders = t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    return scd2_build(
        orders, ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"]
    ).select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.col("valid_from"),
        F.col("valid_to"),
        "is_current",
    )


@_q(
    "events_ohlc_rollup",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_start, event_type,
      arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
      arg_max(value, ts) AS close, count(*) AS n_ticks,
      (CAST(SUM(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0)
        AS value_sum
    FROM events GROUP BY bar_start, event_type
    """,
)
def events_ohlc_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style two-level rollup: hourly OHLC partials merged
    into daily bars (functions/ohlc.py merge_ohlc_bars) — the oracle
    computes daily bars directly from the raw events, so the gate
    proves the partial-merge is LOSSLESS.  Value sums ride through the
    partials as exact integer cents (associative regardless of the
    grouping boundary)."""
    from ..functions.ohlc import merge_ohlc_bars, ohlc_bars

    e = t(spark, sf, "events")
    hourly = ohlc_bars(
        e,
        "1 hour",
        ts_col="ts",
        price_col="value",
        volume_col=None,
        by=("event_type",),
        extra_aggs=[
            F.sum(F.expr("cast(value * 100 + if(value < 0, -0.5, 0.5) as bigint)"))
            .alias("cents")
        ],
    )
    daily = merge_ohlc_bars(
        hourly, "1 day", by=("event_type",), sum_cols=("n_ticks", "cents")
    )
    return daily.select(
        "bar_start",
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
        (F.col("cents").cast("double") / 100.0).alias("value_sum"),
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


@_q(
    "events_decile_stats",
    """
    WITH b AS (
      SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS decile
      FROM events
    )
    SELECT CAST(decile AS INT) AS decile,
      CAST(count(*) AS BIGINT) AS n,
      min(value) AS lo, max(value) AS hi
    FROM b GROUP BY decile
    """,
)
def events_decile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-frequency binning: exact deciles, computed PARALLEL.

    ``ntile() OVER (ORDER BY ...)`` would plan an Exchange
    SinglePartition — every row through one task.  Instead
    ``operators/ranking.py`` range-partitions on the sort key, ranks
    within each sorted partition (parallel windows), adds bounded
    driver-side offsets, and reproduces NTILE's bucket rule from the
    global rank — identical numbers (same DuckDB ntile oracle), no
    serial stage.  The approximate tier is approx_percentile edges
    (agg_approx_sketches demonstrates the sketch)."""
    from ..operators.ranking import ntile_expr, with_global_rank

    ev = t(spark, sf, "events").select("value", "event_id")
    n = ev.count()
    ranked = with_global_rank(ev, ["value", "event_id"], rank_col="__r")
    b = ranked.withColumn("decile", ntile_expr("__r", n, 10))
    return b.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count("*").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@_q(
    "events_gap_report",
    """
    WITH g AS (
      SELECT user_id, ts,
        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS next_ts
      FROM events
    )
    SELECT user_id, ts AS gap_start, next_ts AS gap_end,
      CAST((epoch_us(next_ts) - epoch_us(ts)) // 60000000 AS BIGINT)
        AS gap_minutes
    FROM g
    WHERE epoch_us(next_ts) - epoch_us(ts) > 3600000000
    """,
)
def events_gap_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality gap detection: per-user silences longer than an
    hour, with exact integer-microsecond arithmetic.  One window pass
    (single exchange on user_id) — the completeness audit every
    ingestion pipeline runs before trusting a feed."""
    ev = t(spark, sf, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(F.col(c))  # noqa: E731
    g = ev.withColumn("next_ts", F.lead("ts").over(w))
    return g.filter(
        us("next_ts") - us("ts") > 3_600_000_000
    ).select(
        "user_id",
        F.col("ts").alias("gap_start"),
        F.col("next_ts").alias("gap_end"),
        # integer `div`, not `/` + cast: float division then CAST
        # rounds in DuckDB but truncates in Spark — `//`/`div` agree
        F.expr("(unix_micros(next_ts) - unix_micros(ts)) div 60000000")
        .cast("bigint")
        .alias("gap_minutes"),
    )


# (relational coverage, registered here to keep the 50-entry driver
# window's membership frozen — relational.py registers before llm_ops.py)
@_q(
    "window_dist_kinds",
    """
    SELECT o_custkey, o_orderkey,
      round(cume_dist() OVER w, 6) AS cd,
      nth_value(o_orderkey, 2) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key,
      first_value(o_orderkey) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
      last_value(o_orderkey) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_dist_kinds(spark: SparkSession, sf: str) -> DataFrame:
    """The distribution/value window functions the rank suite doesn't
    cover: cume_dist, nth_value, first_value, last_value — each with
    an EXPLICIT rows frame (default frames differ subtly between
    engines; pinning the frame is what makes the oracle exact)."""
    orders = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 2).over(run).alias("second_key"),
        F.first("o_orderkey").over(run).alias("first_key"),
        F.last("o_orderkey").over(full).alias("last_key"),
    )


# The four entries below have no SQL oracle by nature (engine-specific
# sketch values; approximate top-k whose recall is measured against
# sim_cosine_topk in tests/test_operators.py) — parked at the very end
# of the catalog; every oracle-backed query from the original 50-row
# gate window (CORRECTNESS_r01.json) still sits inside it.
@_q("dedup_simhash", None)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 8 of 64 bits."""
    hashed = simhash(t(spark, sf, "documents"), "text")
    return simhash_pairs(hashed, "doc_id", max_hamming=8)


@_q("agg_approx_sketches", None)
def agg_approx_sketches(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate aggregates (HLL count-distinct + approx quantile) —
    the sketch path whose exact twins are agg_count_distinct and
    agg_percentile; rows-only check by design."""
    li = t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median"),
    )


@_q("sim_lsh_topk", None)
def sim_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the 100-TB path; recall is
    measured against sim_cosine_topk in tests)."""
    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return rp_lsh_topk(emb, queries, k=5)


@_q("sim_ivf_topk", None)
def sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-cell approximate top-k: k-means cells (Lloyd iterations as
    DataFrame aggs, centroid matrix a plan literal), nprobe nearest
    cells per query.  The data-adaptive ANN tier; recall vs exact and
    the nprobe=nlist==exact identity are pinned in tests."""
    from ..operators import ivf_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, nlist=16, nprobe=4, iters=3)


@_q("sim_whiten_labels", None)
def sim_whiten_labels(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label ZCA whitening via grouped-map applyInPandas
    (operators/grouped.py) — per-group eigendecomposition has no SQL
    twin, so the contract is semantic (identity covariance within each
    group), pinned by TestWhitenPerGroup."""
    from ..operators.grouped import whiten_per_group

    emb = t(spark, sf, "embeddings")
    out = whiten_per_group(emb, "label", "embedding", "vec_id")
    return out.select(
        "vec_id",
        "label",
        F.round(F.element_at("white", 1), 6).alias("w0"),
        F.round(F.element_at("white", 2), 6).alias("w1"),
    )
