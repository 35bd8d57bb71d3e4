"""Distributed BPE-merge training (Sennrich-style, word-count space).

The classic byte-pair-encoding trainer is inherently iterative — each
merge depends on the pair statistics AFTER the previous merge — so it
cannot be a single declarative query.  The scalable formulation (the
same one the original subword-nmt implementation uses) collapses the
corpus to its DISTINCT WORDS with counts first: pair statistics are
identical when weighted by word count, and the working set shrinks
from corpus-sized to vocabulary-sized (sub-linear in corpus growth —
at 100 TB the distinct-word table is millions of rows, not billions).

Each merge round is then:
  1. one vocabulary-sized aggregation (adjacent-pair counts, weighted);
  2. a 1-row collect of the argmax pair (count DESC, then lexicographic
     — fully deterministic);
  3. a map-side greedy left-to-right merge of that pair inside every
     word's symbol array (a Catalyst ``aggregate`` fold — no UDF).

The per-round driver traffic is one row; the vocabulary frame is
persisted and re-persisted every few rounds to keep lineage flat.

No DuckDB oracle: the operator is iterative (round N's input is round
N-1's output), outside single-statement SQL.  Correctness is pinned by
tests/test_operators.py against a pure-Python reference trainer on the
same corpus (exact merge-sequence equality).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _sq(s: str) -> str:
    """Single-quote a symbol for embedding in a SQL expression."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_expr(col: str, left: str, right: str) -> str:
    """Greedy left-to-right merge of the adjacent pair (left, right)
    inside a symbol array — the exact scan order every BPE reference
    implementation uses (overlaps resolve leftmost-first: 'aaa' with
    merge (a,a) -> ['aa','a'])."""
    la, rb, ab = _sq(left), _sq(right), _sq(left + right)
    return f"""
    aggregate(
      sequence(1, size({col})),
      named_struct('acc', CAST(array() AS ARRAY<STRING>), 'skip', false),
      (st, i) -> CASE
        WHEN st.skip
          THEN named_struct('acc', st.acc, 'skip', false)
        WHEN i < size({col})
             AND element_at({col}, i) = {la}
             AND element_at({col}, i + 1) = {rb}
          THEN named_struct('acc', array_append(st.acc, {ab}), 'skip', true)
        ELSE named_struct('acc', array_append(st.acc, element_at({col}, i)),
                          'skip', false)
      END,
      st -> st.acc)
    """


def words_with_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> distinct lowercase words with occurrence counts (the
    BPE working set).  One tokenization, one hash aggregation."""
    return (
        docs.select(
            F.explode(
                F.expr(
                    f"filter(split(lower({text_col}), '[^a-z]+'), x -> x <> '')"
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def train_bpe(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    min_pair_count: int = 2,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges; returns a DataFrame
    ``(rank int, left string, right string, merged string,
    pair_count bigint)`` ordered by rank.

    Stops early when no adjacent pair reaches ``min_pair_count``
    (weighted by word frequency)."""
    vocab = words_with_counts(docs, text_col).select(
        F.expr("split(word, '')").alias("syms"), "cnt"
    )
    vocab = vocab.persist()
    vocab.count()  # materialize before the loop

    merges: list[tuple[int, str, str, str, int]] = []
    generations = [vocab]
    try:
        for rank in range(num_merges):
            pairs = (
                vocab.select(
                    F.explode(
                        # sequence(1, 0) DESCENDS in Spark — guard the
                        # single-symbol words (they carry no pairs)
                        F.expr(
                            "transform("
                            "  CASE WHEN size(syms) >= 2"
                            "       THEN sequence(1, size(syms) - 1)"
                            "       ELSE CAST(array() AS ARRAY<INT>) END,"
                            "  i -> named_struct('l', element_at(syms, i), "
                            "'r', element_at(syms, i + 1)))"
                        )
                    ).alias("p"),
                    "cnt",
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("cnt").alias("c"))
            )
            top = (
                pairs.orderBy(F.col("c").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] < min_pair_count:
                break
            left, right, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
            merges.append((rank, left, right, left + right, c))
            nxt = vocab.select(
                F.expr(_merge_expr("syms", left, right)).alias("syms"), "cnt"
            )
            # flatten lineage: each round nests another aggregate() over
            # the previous expression; persist every round, checkpoint
            # (plan cut) every few
            if (rank + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
            else:
                nxt = nxt.persist()
                nxt.count()
            generations.append(nxt)
            if len(generations) > 2:
                generations.pop(0).unpersist()
            vocab = nxt
    finally:
        for g in generations:
            try:
                g.unpersist()
            except Exception:
                pass

    return spark.createDataFrame(
        merges or [],
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply learned merges to a corpus — the GPT-2-style encoder:
    per word, repeatedly merge every occurrence of the LOWEST-RANK
    pair present (left-to-right within a pass) until none applies.

    The merge table is tiny (merge count rows) and ships inside the
    Arrow-batched pandas UDF closure — the realistic deployment shape
    for tokenization, which is Python-side in every production
    pipeline; per-batch word caching amortizes repeated words.

    Returns ``(id_col, n_tokens bigint, tokens array<string>)``."""
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        import re

        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            hit = cache.get(w)
            if hit is not None:
                return hit
            syms = list(w)
            while len(syms) > 1:
                best = min(
                    (
                        ranks[p]
                        for p in zip(syms, syms[1:])
                        if p in ranks
                    ),
                    default=None,
                )
                if best is None:
                    break
                left, right = merges[best]
                acc: list[str] = []
                i = 0
                while i < len(syms):
                    if (
                        i < len(syms) - 1
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        acc.append(left + right)
                        i += 2
                    else:
                        acc.append(syms[i])
                        i += 1
                syms = acc
            cache[w] = syms
            return syms

        out = []
        for t in texts:
            toks: list[str] = []
            for w in re.split(r"[^a-z]+", (t or "").lower()):
                if w:
                    toks.extend(enc_word(w))
            out.append(toks)
        return pd.Series(out)

    return docs.select(
        id_col, encode(F.col(text_col)).alias("tokens")
    ).select(
        id_col,
        F.size("tokens").cast("bigint").alias("n_tokens"),
        "tokens",
    )
