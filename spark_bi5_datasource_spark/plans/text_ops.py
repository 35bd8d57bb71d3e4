"""Text catalog: ``text_*`` corpus statistics (quality, language id,
readability, repetition, PII redaction, decontamination, BM25/TF-IDF,
BPE) and ``tok_*`` vocabulary/tokenizer profiles over ``documents``.

It holds the shared text fragments: the tokenizer twins ``_TKS``
(Spark) / ``_TKS_D`` (DuckDB) and the quality-filter SQL.  Fractions
and logs round to 6 decimals AFTER identical arithmetic on both
engines; counts stay exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    _in_list,
    repetition_counts_arrow,
    term_count_partials,
)
from .dedup_ops import _SH, _sh_cte
from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import fanout, t


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


# ------------------------------------------------------ text analysis
def _sql_stopword_ratio(lst: list[str]) -> str:
    return (
        f"len(list_filter(string_split(text, ' '), x -> lower(x) IN ({_in_list(lst)})))"
        f" / CAST(len(string_split(text, ' ')) AS DOUBLE)"
    )


_PUNCT_SQL = (
    "length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g')) "
    "/ greatest(length(text), 1)"
)


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
            lst=_in_list(words), lang=lang
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


@_q(
    "text_decontaminate",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), {_SH}, bench AS (
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


# ---------------------------------------------------- vocabulary
_EN_STOP = _in_list(STOPWORDS["en"])


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


# -------------------------------------------- sentence statistics
@_q(
    "text_sentence_stats",
    """
    WITH s AS (
      SELECT doc_id,
        list_filter(
          list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
          x -> x <> '') AS sents
      FROM documents
    ), e AS (
      SELECT doc_id, unnest(sents) AS sent FROM s
    ), w AS (
      SELECT doc_id, sent,
        len(list_filter(string_split_regex(lower(sent), '[^a-z]+'),
                        x -> x <> '')) AS nw
      FROM e
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
      CAST(sum(nw) AS BIGINT) AS n_words,
      round(CAST(sum(nw) AS DOUBLE) / count(*), 6) AS words_per_sentence,
      CAST(max(nw) AS BIGINT) AS max_sentence_words
    FROM w GROUP BY doc_id
    """,
)
def text_sentence_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document sentence segmentation statistics (sentence count,
    word totals, mean/max sentence length) — the readability tier of
    the quality stack: run-on or fragment-heavy documents score far
    from the natural-language band.  Punctuation split + trim + word
    count all in one generator pass; one hash aggregation keyed on
    doc."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(split(text, '[.!?]+'), x -> trim(x)),"
                " x -> x <> '')"
            )
        ).alias("sent"),
    )
    w = d.select(
        "doc_id",
        F.size(
            F.expr("filter(split(lower(sent), '[^a-z]+'), x -> x <> '')")
        ).alias("nw"),
    )
    return w.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_sentences"),
        F.sum("nw").cast("bigint").alias("n_words"),
        F.round(F.sum("nw").cast("double") / F.count("*"), 6).alias(
            "words_per_sentence"
        ),
        F.max("nw").cast("bigint").alias("max_sentence_words"),
    )


# --------------------------------------------- BPE-merge training
@_q("text_bpe_train", None)
def text_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE-merge training over the documents corpus
    (operators/bpe.py): 12 merges learned in word-count space — the
    subword tokenizer-training step of an LLM data pipeline.  No SQL
    oracle (inherently iterative: each merge conditions on the
    previous one); pinned by exact merge-sequence equality against a
    pure-Python reference trainer in tests/test_operators.py."""
    from ..operators.bpe import train_bpe

    return train_bpe(
        spark, t(spark, sf, "documents"), num_merges=12, min_pair_count=2
    )


@_q("text_bpe_encode", None)
def text_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer application: encode every document with the learned
    BPE merges (train on the corpus, then GPT-2-style lowest-rank
    merge loop per word inside an Arrow-batched pandas UDF with the
    tiny merge table in the closure).  Completes the tokenizer
    pipeline: train (text_bpe_train) → encode → count.  No SQL
    oracle (the encode loop is iterative per word); pinned by exact
    token-sequence equality against the pure-Python reference encoder
    in tests/test_round4_ops.py.  Token arrays are surfaced as a
    joined prefix string so the rows-only driver check sees a stable
    value column."""
    from ..operators.bpe import encode_bpe, train_bpe

    merges = [
        (r["left"], r["right"])
        for r in train_bpe(
            spark, t(spark, sf, "documents"), num_merges=12
        ).collect()
    ]
    enc = encode_bpe(t(spark, sf, "documents"), merges)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.slice("tokens", 1, 30), " ").alias("token_prefix"),
    )


# ----------------------------------------------- span-level dedup
#
# Substring-level duplication report (the signal behind train-data
# substring dedup a la "Deduplicating Training Data Makes Language
# Models Better"): overlapping token windows (12 tokens, stride 4)
# hashed... kept as exact strings here, counted across documents; a
# span appearing in >= 2 distinct docs is duplicated, and each doc
# reports the fraction of its spans that are duplicated.

_SPAN_W, _SPAN_S = 12, 4


_SPAN_SQL = f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS tks
      FROM documents
    ), dd AS (
      SELECT doc_id, tks FROM d WHERE len(tks) >= {_SPAN_W}
    ), spans AS (
      SELECT doc_id,
        array_to_string(tks[(i * {_SPAN_S}) + 1 : (i * {_SPAN_S}) + {_SPAN_W}],
                        ' ') AS span
      FROM dd, unnest(generate_series(0,
        (len(tks) - {_SPAN_W}) // {_SPAN_S})) AS u(i)
    ), df AS (
      SELECT span, count(DISTINCT doc_id) AS ndocs
      FROM spans GROUP BY span
    )
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      round(CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS dup_span_frac
    FROM spans s JOIN df USING (span)
    GROUP BY s.doc_id
"""


@_q("text_span_dedup", _SPAN_SQL)
def text_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document substring-duplication report: overlapping
    12-token windows (stride 4) counted across the corpus; a doc's
    score is the fraction of its windows appearing in >= 2 distinct
    documents — the detection side of substring-level dedup (docs
    above a threshold get their duplicated spans cut or the doc
    dropped).

    Scale shape: span stream ∝ tokens/stride, one shuffle keyed on
    the span for the document-frequency count, one more keyed back on
    doc for the report.  At 100 TB spans would hash to 64-bit keys
    before the shuffle (8-byte keys vs ~80-byte strings); kept exact
    strings here so the DuckDB twin certifies the full pipeline."""
    d = (
        t(spark, sf, "documents")
        .select("doc_id", F.expr(_TKS).alias("tks"))
        .filter(F.size("tks") >= _SPAN_W)
    )
    spans = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(tks) - {_SPAN_W}) div {_SPAN_S}),"
                f" i -> array_join(slice(tks, i * {_SPAN_S} + 1, {_SPAN_W}),"
                f" ' '))"
            )
        ).alias("span"),
    )
    df_ = spans.groupBy("span").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    return (
        spans.join(df_, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.round(
                F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("dup_span_frac"),
        )
    )


_TKS_D = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"


# ---------------------------------------------------- n-gram novelty
_NOVELTY_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_TKS_D} AS tk FROM documents
    ), {_sh_cte(short=None)}, cnt AS (
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


# -------------------------------------------------------- Zipf profile
_ZIPF_SQL = f"""
    WITH tok AS (
      SELECT unnest({_TKS_D}) AS term FROM documents
    ), c AS (
      SELECT term, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY term
    ), tot AS (
      SELECT CAST(sum(freq) AS BIGINT) AS total FROM c
    ), r AS (
      SELECT term, freq,
        CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rk,
        CAST(sum(freq) OVER (ORDER BY freq DESC, term
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumfreq
      FROM c
    )
    SELECT r.rk, r.term, r.freq,
      CAST(r.freq * 1000000 // tot.total AS BIGINT) AS share_ppm,
      CAST(r.cumfreq * 1000000 // tot.total AS BIGINT) AS cum_ppm,
      CAST(d.freq * 1000000 // r.freq AS BIGINT) AS doubling_ppm
    FROM r CROSS JOIN tot
    LEFT JOIN r d ON d.rk = r.rk * 2
    WHERE r.rk <= 50
    ORDER BY r.rk
"""


@_q("tok_zipf_profile", _ZIPF_SQL)
def tok_zipf_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law profile of the corpus token distribution: the top-50
    rank/frequency table with integer ppm share, cumulative coverage,
    and the rank-doubling ratio freq[2r]/freq[r] in ppm — for an ideal
    Zipf law with slope −1 the doubling ratio is 500 000 at every
    rank, so deviation from 500k IS the slope diagnostic, computed in
    pure integer arithmetic (the float-free twin of a log-log
    regression; no ln() crosses the engine boundary).

    Scale shape: the Arrow partial-count kernel
    (functions.text.term_count_partials — measured ~1.8x the fused
    JVM split+explode at x1000) emits ≤|batch
    vocab| partial rows per batch, reduced by one groupBy-sum to the
    same exact counts; the ranking window runs over the
    POST-AGGREGATION vocabulary (bounded by |distinct terms|, not
    corpus size); the doubling lookup is a broadcast self-join of the
    ≤100 leading ranks; the 1-row total rides an identity
    broadcast."""
    c = (
        term_count_partials(t(spark, sf, "documents"))
        .groupBy("term")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
    )
    # r13: the rank/cumsum window used to run single-partition over
    # the WHOLE vocabulary for a top-50 answer (bounded but
    # single-threaded O(|vocab| log |vocab|), and the window subtree
    # re-executed for the doubling branch).  A distributed
    # TakeOrdered(100) prefix first makes the window a 100-row
    # triviality; rk/cumfreq values over the prefix are identical by
    # construction (prefix sums depend only on higher-ranked rows,
    # and (freq DESC, term) is a total order).  sf0.1-neutral
    # (0.878 → 0.873 same-window, result-equal) — this is a scale-
    # shape fix, not a bench win.
    top = c.orderBy(F.desc("freq"), "term").limit(100)
    wo = Window.orderBy(F.desc("freq"), "term")
    r = top.select(
        "term",
        "freq",
        F.row_number().over(wo).cast("bigint").alias("rk"),
        F.sum("freq")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cumfreq"),
    )
    tot = c.agg(F.sum("freq").cast("bigint").alias("total"))
    dbl = r.select(
        (F.col("rk")).alias("drk"), F.col("freq").alias("dfreq")
    )
    return (
        r.where("rk <= 50")
        .crossJoin(F.broadcast(tot))
        .withColumn("rk2", F.expr("rk * 2"))
        .join(F.broadcast(dbl), F.col("drk") == F.col("rk2"), "left")
        .select(
            "rk",
            "term",
            "freq",
            F.expr("freq * 1000000 div total").cast("bigint").alias("share_ppm"),
            F.expr("cumfreq * 1000000 div total")
            .cast("bigint")
            .alias("cum_ppm"),
            F.expr("dfreq * 1000000 div freq")
            .cast("bigint")
            .alias("doubling_ppm"),
        )
        .orderBy("rk")
    )


# --------------------------------------------------- source diversity

_DIVERSITY_SQL = f"""
    WITH tok AS (
      SELECT source, unnest({_TKS_D}) AS term FROM documents
    ), c AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY source, term
    ), s AS (
      SELECT source,
        CAST(sum(cnt) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS vocab,
        CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS pairs,
        CAST(max(cnt) AS BIGINT) AS top_cnt
      FROM c GROUP BY source
    )
    SELECT source, n_tokens, vocab,
      CASE WHEN n_tokens > 1 THEN
        CAST(round((pairs / (n_tokens * (n_tokens - 1.0))) * 1000000)
          AS BIGINT) END AS simpson_ppm,
      CASE WHEN pairs > 0 THEN
        CAST(round(((n_tokens * (n_tokens - 1.0)) / pairs) * 1000)
          AS BIGINT) END AS eff_vocab_milli,
      CAST(top_cnt * 1000000 // n_tokens AS BIGINT) AS top_share_ppm
    FROM s ORDER BY source
"""


@_q("text_source_diversity", _DIVERSITY_SQL)
def text_source_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Token-distribution concentration per source: Simpson
    repeat-probability (the chance two tokens drawn without
    replacement are equal, in ppm), inverse-Simpson effective
    vocabulary (milli-types), and the single most frequent token's
    share — the float-free concentration twins of Shannon entropy
    (all Rényi diversities; Simpson is order-2 and exact in integer
    pair counts, entropy needs ln() which is not correctly rounded
    across engines).  The two ratios divide exact BIGINTs as IEEE
    doubles — conversion, subtraction, multiplication, and division
    are all correctly rounded, so both engines compute bit-identical
    doubles before the one half-adjust cast.

    Scale shape: the Arrow partial-count kernel
    (functions.text.term_count_partials) tokenizes and pre-counts per
    batch, so the (source, term) shuffle carries ≤|vocab|·|sources|
    partials instead of ~10⁸ token rows (measured 16.2→9.1 s at
    x1000); then one |sources|-row reduction
    — Σ cnt·(cnt−1) stays in BIGINT (bounded by n_tokens²/vocab per
    source: ~4·10¹⁴ at x1000), the n·(n−1) denominator rides a
    double so it never overflows."""
    c = (
        term_count_partials(t(spark, sf, "documents"), ("source",))
        .groupBy("source", "term")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    s = c.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        F.sum(F.expr("cnt * (cnt - 1)")).cast("bigint").alias("pairs"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    simpson = _HA.format(
        x="pairs / (n_tokens * (n_tokens - 1.0D))", m="1000000"
    )
    eff = _HA.format(x="(n_tokens * (n_tokens - 1.0D)) / pairs", m="1000")
    return s.select(
        "source",
        "n_tokens",
        "vocab",
        F.expr(f"CASE WHEN n_tokens > 1 THEN {simpson} END").alias(
            "simpson_ppm"
        ),
        F.expr(f"CASE WHEN pairs > 0 THEN {eff} END").alias(
            "eff_vocab_milli"
        ),
        F.expr("top_cnt * 1000000 div n_tokens")
        .cast("bigint")
        .alias("top_share_ppm"),
    ).orderBy("source")


# -------------------------------------------- boilerplate span inventory
_BP_W, _BP_S = 12, 4

_BOILER_SQL = f"""
    WITH d AS (
      SELECT doc_id, {_TKS_D} AS tks FROM documents
    ), dd AS (
      SELECT doc_id, tks FROM d WHERE len(tks) >= {_BP_W}
    ), spans AS (
      SELECT doc_id,
        array_to_string(tks[(i * {_BP_S}) + 1 : (i * {_BP_S}) + {_BP_W}],
                        ' ') AS span
      FROM dd, unnest(generate_series(0,
        (len(tks) - {_BP_W}) // {_BP_S})) AS u(i)
    )
    SELECT span,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs,
      CAST(count(*) AS BIGINT) AS occurrences
    FROM spans GROUP BY span
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY ndocs DESC, occurrences DESC, span LIMIT 20
"""


@_q("text_boilerplate_spans", _BOILER_SQL)
def text_boilerplate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate inventory: the 20 exact 12-token passages shared
    by the most distinct documents (stride-4 windows, ≥2 docs) — the
    candidate list a C4-style boilerplate-removal pass strips
    corpus-wide.  text_span_dedup scores documents BY these spans;
    this op surfaces the spans themselves with document and
    occurrence counts.

    Scale shape: identical span stream to text_span_dedup (∝
    tokens/stride), ONE shuffle keyed on the span computing distinct
    docs and occurrences together, then a top-20 tail.  At 100 TB
    the span key hashes to 64 bits before the shuffle; exact strings
    kept here so the oracle certifies the pipeline end to end."""
    d = (
        t(spark, sf, "documents")
        .select("doc_id", F.expr(_TKS).alias("tks"))
        .filter(F.size("tks") >= _BP_W)
    )
    spans = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(tks) - {_BP_W}) div {_BP_S}),"
                f" i -> array_join(slice(tks, i * {_BP_S} + 1, {_BP_W}),"
                f" ' '))"
            )
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("ndocs"),
            F.count("*").cast("bigint").alias("occurrences"),
        )
        .where(F.col("ndocs") >= 2)
        .orderBy(F.desc("ndocs"), F.desc("occurrences"), "span")
        .limit(20)
    )


# ---------------------------------------------------- token fertility
_FERTILITY_SQL = """
    WITH tc AS (
      SELECT lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len(list_filter(
          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')))
          AS BIGINT) AS n_tokens,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens, sum_chars,
      CAST(sum_chars * 1000 // n_tokens AS BIGINT) AS chars_per_token_ppk,
      CAST(n_tokens * 1000 // n_docs AS BIGINT) AS tokens_per_doc_ppk
    FROM tc ORDER BY lang
"""


@_q("tok_fertility_by_lang", _FERTILITY_SQL)
def tok_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-fertility planning table: chars-per-token and
    tokens-per-doc per language, exact integer per-mille — the table
    a token-budget estimate starts from when converting a byte
    budget to a token budget per language.  Uses the corpus
    tokenization convention (lower + '[^a-z]+' split, the same
    tokenizer as tok_zipf_profile / tok_ttr_by_source /
    tok_oov_by_source), so the numbers compose with the rest of the
    token-planning ops.

    Scale shape: ONE Arrow token-count kernel pass (functions/text.py
    token_count_partials) — a single RE2 match-count scan that never
    materializes tokens, folding n_chars into the same pass, so the
    shuffle carries one |langs|-row partial per batch.  Measured at
    x1000 (5M docs): JVM size(split()) 2.46 s, term-partials kernel
    8.2 s (wasted per-term hash-grouping), this count kernel is the
    minimal-work formulation."""
    from ..functions.text import token_count_partials

    parts = token_count_partials(
        t(spark, sf, "documents"), ("lang",), "text", ("n_chars",)
    )
    return (
        parts.groupBy("lang")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "sum_chars",
            F.expr("CAST(sum_chars * 1000 div n_tokens AS BIGINT)").alias(
                "chars_per_token_ppk"
            ),
            F.expr("CAST(n_tokens * 1000 div n_docs AS BIGINT)").alias(
                "tokens_per_doc_ppk"
            ),
        )
        .orderBy("lang")
    )


# ------------------------------------------------ type-token ratio
_TTR_SQL = """
    WITH toks AS (
      SELECT source, unnest(list_filter(
          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
      FROM documents
    ), tc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    )
    SELECT source,
      CAST(sum(c) AS BIGINT) AS total_tokens,
      CAST(count(*) AS BIGINT) AS distinct_tokens,
      CAST(count(*) FILTER (c = 1) AS BIGINT) AS hapax_tokens,
      CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm,
      CAST(count(*) FILTER (c = 1) * 1000000 // count(*) AS BIGINT)
        AS hapax_share_ppm
    FROM tc GROUP BY source ORDER BY source
"""


@_q("tok_ttr_by_source", _TTR_SQL)
def tok_ttr_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source lexical diversity under the corpus tokenization
    convention of tok_vocab_topk (curation_ops.py): type-token ratio
    (distinct / total tokens) and hapax-legomena share (once-seen /
    distinct) in exact ppm — low TTR or a collapsed hapax share flags
    boilerplate-heavy or template-generated sources before they feed
    a mixture.

    Scale shape: one Arrow term-count kernel pass (functions/text.py
    term_count_partials) — per-batch exact (source, term) partials,
    so the shuffle carries batch-vocab rows, never raw tokens
    (measured 18.7 s → JVM-explode-free at x1000, same kernel win as
    tok_zipf_profile); the second rollup is |sources| groups with all
    counters as partial aggregates."""
    from ..functions.text import term_count_partials

    tc = (
        term_count_partials(
            t(spark, sf, "documents"), ("source",), "text"
        )
        .withColumnRenamed("term", "tok")
        .groupBy("source", "tok")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.count("*").cast("bigint").alias("distinct_tokens"),
            F.count_if(F.expr("c = 1")).cast("bigint").alias("hapax_tokens"),
            F.expr("CAST(count(*) * 1000000 div sum(c) AS BIGINT)").alias(
                "ttr_ppm"
            ),
            F.expr(
                "CAST(count_if(c = 1) * 1000000 div count(*) AS BIGINT)"
            ).alias("hapax_share_ppm"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ OOV rate by source
_OOV_SQL = """
    WITH toks AS (
      SELECT source, unnest(list_filter(
          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
        FROM toks GROUP BY tok
      ) WHERE rnk <= 20
    ), sc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    )
    SELECT source,
      CAST(sum(c) AS BIGINT) AS total_tokens,
      CAST(coalesce(sum(c) FILTER (tok NOT IN (SELECT tok FROM vocab)), 0)
        AS BIGINT) AS oov_tokens,
      CAST(coalesce(sum(c) FILTER (tok NOT IN (SELECT tok FROM vocab)), 0)
        * 1000000 // sum(c) AS BIGINT) AS oov_ppm
    FROM sc GROUP BY source ORDER BY source
"""


@_q("tok_oov_by_source", _OOV_SQL)
def tok_oov_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-vocabulary pressure per source: with the corpus top-20
    tokens as the closed vocabulary (frequency-ranked, ties broken
    lexically), the share of token OCCURRENCES each source emits
    outside it, in exact ppm — the per-source view of how badly a
    fixed tokenizer undercovers a new source before it is mixed in.

    Scale shape: ONE Arrow term-count kernel pass over the documents
    scan (functions/text.py term_count_partials — per-batch exact
    (source, term) partials, so the shuffle carries batch-vocab rows,
    never raw tokens); the per-source usage reduces those partials
    and the corpus-wide vocabulary is a second tiny rollup OF the
    per-source counts — the text is tokenized exactly once.  The
    ≤20-row vocabulary broadcasts into a left join and the final
    rollup is |sources| groups.  The vocabulary rank rides the
    distinct-term frame (same documented bound as tok_zipf_profile,
    scripts/plan_audit.py)."""
    from ..functions.text import term_count_partials

    sc = (
        term_count_partials(
            t(spark, sf, "documents"), ("source",), "text"
        )
        .withColumnRenamed("term", "tok")
        .groupBy("source", "tok")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    # r14 (catalog sweep for the zipf pattern): the vocabulary rank
    # used to run a single-partition row_number over the WHOLE
    # distinct-term frame for a top-20 answer; a distributed
    # TakeOrdered(20) prefix over the SAME total order (cnt DESC,
    # tok) selects an identical token set — the rank column was only
    # a selector and is not emitted, so no window remains at all.
    vocab = (
        sc.groupBy("tok")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(20)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        sc.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("in_vocab").isNull(), F.col("c"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("oov_tokens"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN in_vocab IS NULL THEN c END), 0)"
                " * 1000000 div sum(c) AS BIGINT)"
            ).alias("oov_ppm"),
        )
        .orderBy("source")
    )


# -------------------------------------- cross-source contamination
_CONTAM_SQL = f"""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS tk FROM documents
    ), {_sh_cte('source', 'SELECT DISTINCT')}, sz AS (
      SELECT source, CAST(count(*) AS BIGINT) AS sz
      FROM sh GROUP BY source
    ), inter AS (
      SELECT a.source AS sa, b.source AS sb,
        CAST(count(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY sa, sb
    )
    SELECT i.sa AS source_a, i.sb AS source_b, i.n_common,
      za.sz AS sz_a, zb.sz AS sz_b,
      CAST(i.n_common * 1000000 // za.sz AS BIGINT) AS contain_a_ppm,
      CAST(i.n_common * 1000000 // zb.sz AS BIGINT) AS contain_b_ppm
    FROM inter i
    JOIN sz za ON za.source = i.sa
    JOIN sz zb ON zb.source = i.sb
    ORDER BY source_a, source_b
"""


@_q("text_contamination_matrix", _CONTAM_SQL)
def text_contamination_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source contamination matrix: for every unordered source
    pair with any 3-gram overlap, the count of shared distinct
    shingles and both directional containments (|∩|/|A|, |∩|/|B|) in
    exact integer ppm — text_decontaminate generalized from one
    (train, bench) split to the all-pairs leakage audit run before a
    (source → split) assignment is trusted.  Zero-overlap pairs are
    absent by construction (the report is the overlap set).

    The catalog entry is ``operators.contamination.contamination_matrix``
    with one 64-bit mask word (the r10 bitmask rollup: 48.3 → 24.7 s
    at x100): ≤64 sources, enforced in-plan; the operator's docstring
    has the plan shape."""
    from ..operators.contamination import contamination_matrix

    return contamination_matrix(t(spark, sf, "documents"), words=1)


# ------------------------------------------ readability (FK grade)
_READ_SQL = """
    WITH f AS (
      SELECT source,
        len(list_filter(string_split(text, ' '), x -> x <> '')) AS nw,
        greatest(
          (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', ''))), 1) AS ns,
        len(regexp_extract_all(lower(text), '[aeiouy]+')) AS ny
      FROM documents
    ), src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(nw) AS BIGINT) AS words,
        CAST(sum(ns) AS BIGINT) AS sentences,
        CAST(sum(ny) AS BIGINT) AS syllables
      FROM f GROUP BY source
    )
    SELECT source, n_docs, words, sentences, syllables,
      CAST(390 * words // sentences + 11800 * syllables // words - 15590
        AS BIGINT) AS fk_grade_milli
    FROM src ORDER BY source
"""


@_q("text_readability_scores", _READ_SQL)
def text_readability_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Flesch-Kincaid grade level in exact integer milli
    (FK = 0.39·words/sentence + 11.8·syllables/word - 15.59, floored
    term-by-term on the SOURCE-LEVEL totals — totals are positive, so
    every division sees non-negative operands and trunc == floor in
    both engines).  Sentence count = terminal-punctuation characters
    (replace-length delta — no regex needed); syllables = vowel-group
    count, the standard cheap proxy.  The corpus-quality companion to
    text_quality_logit: grade bands drive curriculum and filtering
    decisions.

    Scale shape: a pure per-row map over one documents scan feeding a
    |sources|-row aggregate — no shuffle beyond the rollup."""
    f = t(spark, sf, "documents").select(
        "source",
        F.expr(
            "size(filter(split(text, ' '), x -> x <> ''))"
        ).alias("nw"),
        F.expr(
            "greatest((length(text) - length(replace(text, '.', '')))"
            " + (length(text) - length(replace(text, '!', '')))"
            " + (length(text) - length(replace(text, '?', ''))), 1)"
        ).alias("ns"),
        F.expr("regexp_count(lower(text), '[aeiouy]+')").alias("ny"),
    )
    return (
        f.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nw").cast("bigint").alias("words"),
            F.sum("ns").cast("bigint").alias("sentences"),
            F.sum("ny").cast("bigint").alias("syllables"),
        )
        .select(
            "source", "n_docs", "words", "sentences", "syllables",
            F.expr(
                "CAST(390 * words div sentences"
                " + 11800 * syllables div words - 15590 AS BIGINT)"
            ).alias("fk_grade_milli"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ URL/e-mail audit
_URLMAIL_SQL = """
    WITH f AS (
      SELECT source,
        len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_url,
        len(regexp_extract_all(text,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS n_mail
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_url) AS BIGINT) AS url_hits,
      CAST(sum(n_mail) AS BIGINT) AS email_hits,
      CAST(sum(CASE WHEN n_url > 0 THEN 1 ELSE 0 END) * 1000000
        // count(*) AS BIGINT) AS docs_with_url_ppm,
      CAST(sum(CASE WHEN n_mail > 0 THEN 1 ELSE 0 END) * 1000000
        // count(*) AS BIGINT) AS docs_with_email_ppm
    FROM f GROUP BY source ORDER BY source
"""


@_q("text_url_email_stats", _URLMAIL_SQL)
def text_url_email_stats(spark: SparkSession, sf: str) -> DataFrame:
    """URL / e-mail density per source: total pattern hits plus the
    share of documents containing each, in exact ppm — the
    PII-and-markup triage that decides which sources need the
    redaction pass (text_redact_pii) before training.  Patterns stay
    in the dialect-portable regex subset (scalar_regex_funcs
    contract).  Each regex is gated behind a cheap instr() literal
    probe ('http' / '@' — both required by their pattern, so the
    count is identical): RE2 engines fast-fail on the literal prefix
    for free, but the JVM regex walks every char — measured 11.9 s →
    gated over 5M docs at x1000.

    Scale shape: pure per-row regexp counts over one scan feeding a
    |sources|-row rollup.  Measured floor, extended end-to-end in r9
    (x1000 = 5M docs / 1.5 GB text):
    full query 1.17 s = string-decode floor 0.57 s + the two instr()
    gate scans 0.60 s + 0.00 s for everything else — the fixture
    contains zero 'http'/'@' hits, so the regex branches never
    execute and the entire residual is the irreducible
    touch-every-byte literal scan.  DuckDB's 0.33 s is RE2's SIMD
    literal-prefix primitive vs the JVM's byte-loop indexOf — engine
    string primitives, not plan shape (alternatives measured and
    rejected: ungated regex 11.9 s, exact instr/HOF rewrite 3.1 s,
    Arrow-RE2 mapInArrow kernel 1.53 s)."""
    f = (
        t(spark, sf, "documents")
        .where("text IS NOT NULL")
        .select(
            "source",
            F.expr(
                "CASE WHEN instr(text, 'http') > 0"
                " THEN regexp_count(text, 'https?://[^ ]+') ELSE 0 END"
            ).alias("n_url"),
            F.expr(
                "CASE WHEN instr(text, '@') > 0 THEN regexp_count(text,"
                " '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+') ELSE 0 END"
            ).alias("n_mail"),
        )
    )
    return (
        f.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_url").cast("bigint").alias("url_hits"),
            F.sum("n_mail").cast("bigint").alias("email_hits"),
            F.sum(F.expr("CASE WHEN n_url > 0 THEN 1 ELSE 0 END"))
            .alias("du"),
            F.sum(F.expr("CASE WHEN n_mail > 0 THEN 1 ELSE 0 END"))
            .alias("dm"),
        )
        .select(
            "source",
            "n_docs",
            "url_hits",
            "email_hits",
            F.expr("CAST(du * 1000000 div n_docs AS BIGINT)").alias(
                "docs_with_url_ppm"
            ),
            F.expr("CAST(dm * 1000000 div n_docs AS BIGINT)").alias(
                "docs_with_email_ppm"
            ),
        )
        .orderBy("source")
    )


# ------------------------------------- dedup survival by source
_SURVIVAL_SQL = """
    WITH keep AS (
      SELECT min(doc_id) AS doc_id FROM documents
      WHERE text IS NOT NULL GROUP BY text
    ), j AS (
      SELECT d.source,
        CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept
      FROM documents d LEFT JOIN keep k ON k.doc_id = d.doc_id
      WHERE d.text IS NOT NULL
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(kept) AS BIGINT) AS n_kept,
      CAST(sum(kept) * 1000000 // count(*) AS BIGINT) AS survival_ppm
    FROM j GROUP BY source ORDER BY source
"""


@_q("text_dedup_survival_by_source", _SURVIVAL_SQL)
def text_dedup_survival_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source survival rate under exact text dedup with the
    lowest-doc_id representative rule: how much of each source
    remains after the cheapest dedup pass — the per-source impact
    report that corpus_dedup_inflation (which counts the duplicate
    MASS) reads next to; a source with low survival is feeding the
    corpus copies, not content.

    Scale shape: one (text -> min doc_id) aggregate keyed on the
    content bytes, one id-keyed semi-classification join, a
    |sources|-row rollup."""
    d = t(spark, sf, "documents").where("text IS NOT NULL")
    keep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id", F.lit(1).alias("kept")
    )
    j = d.select("source", "doc_id").join(keep, "doc_id", "left")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr("CAST(n_kept * 1000000 div n_docs AS BIGINT)").alias(
                "survival_ppm"
            ),
        )
        .orderBy("source")
    )


# ----------------------------------------------- encoding audit
_ENC_SQL = """
    WITH f AS (
      SELECT source,
        strlen(text) - length(text) AS nonascii_excess,
        CASE WHEN instr(text, '�') > 0 THEN 1 ELSE 0 END
          AS has_repl,
        length(text) - length(replace(text, chr(9), '')) AS tabs,
        length(text) - length(replace(text, chr(10), '')) AS newlines
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN nonascii_excess > 0 THEN 1 ELSE 0 END)
        AS BIGINT) AS docs_nonascii,
      CAST(sum(nonascii_excess) AS BIGINT) AS nonascii_excess_bytes,
      CAST(sum(has_repl) AS BIGINT) AS docs_replacement_char,
      CAST(sum(tabs) AS BIGINT) AS tab_chars,
      CAST(sum(newlines) AS BIGINT) AS newline_chars,
      CAST(sum(CASE WHEN nonascii_excess > 0 THEN 1 ELSE 0 END)
        * 1000000 // count(*) AS BIGINT) AS nonascii_docs_ppm
    FROM f GROUP BY source ORDER BY source
"""


@_q("text_encoding_audit", _ENC_SQL)
def text_encoding_audit(spark: SparkSession, sf: str) -> DataFrame:
    """UTF-8 hygiene audit per source: documents containing non-ASCII
    (detected as octet length exceeding character length — zero
    regex, zero per-char work), total multi-byte excess, U+FFFD
    replacement-character carriers (the fingerprint of a broken
    transcode upstream), and tab/newline counts — the
    encoding-triage table a crawl pipeline reads before trusting a
    source's text bytes.

    Scale shape: pure per-row arithmetic on one scan (byte/char
    lengths are O(1) metadata of the string value; the two
    single-char replaces are the only full-text passes) feeding a
    |sources|-row rollup."""
    f = (
        t(spark, sf, "documents")
        .where("text IS NOT NULL")
        .select(
            "source",
            F.expr("octet_length(text) - length(text)").alias(
                "nonascii_excess"
            ),
            F.expr(
                # literal U+FFFD: Spark's chr(n) wraps mod 256, so
                # chr(65533) is NOT the replacement char there —
                # caught by the planted-bytes pytest
                "CASE WHEN instr(text, '�') > 0 THEN 1 ELSE 0 END"
            ).alias("has_repl"),
            F.expr(
                "length(text) - length(replace(text, chr(9), ''))"
            ).alias("tabs"),
            F.expr(
                "length(text) - length(replace(text, chr(10), ''))"
            ).alias("newlines"),
        )
    )
    return (
        f.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.expr("CASE WHEN nonascii_excess > 0 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("docs_nonascii"),
            F.sum("nonascii_excess").cast("bigint").alias(
                "nonascii_excess_bytes"
            ),
            F.sum("has_repl").cast("bigint").alias("docs_replacement_char"),
            F.sum("tabs").cast("bigint").alias("tab_chars"),
            F.sum("newlines").cast("bigint").alias("newline_chars"),
        )
        .select(
            "*",
            F.expr(
                "CAST(docs_nonascii * 1000000 div n_docs AS BIGINT)"
            ).alias("nonascii_docs_ppm"),
        )
        .orderBy("source")
    )
