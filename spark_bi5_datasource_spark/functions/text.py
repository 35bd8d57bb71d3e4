"""Text-analysis column functions (north-star operators, SURVEY §2
Tier C).  Everything is a Catalyst expression — no Python UDFs — so
these run JVM-side inside whole-stage codegen and scale to 100 TB of
documents without an Arrow boundary.

Each helper returns a Column so callers compose them into selects;
the same formulas are mirrored in the DuckDB oracle SQL (plans/
text_ops.py) for hash-checked correctness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "token_count",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
    "text_stats_cols",
    "chunk_array",
    "redact_pii",
    "term_count_partials",
    "token_count_partials",
    "PII_PATTERNS",
    "STOPWORDS",
]

# Minimal per-language stopword lists for the n-gram/stopword language
# heuristic.  Deliberately tiny and fixed: the heuristic (not the
# list) is the operator under test.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "pas"],
    "es": ["el", "los", "las", "y", "es", "una", "que", "no"],
    "zh": ["的", "是", "了", "在", "我", "有", "他", "这"],
}

_ENGLISH_STOPWORDS = STOPWORDS["en"]


def _tokens(text_col: str) -> str:
    return f"split({text_col}, ' ')"


def _let_tokens(text_col: str, body: str) -> str:
    """Let-bind the token array as lambda variable ``tks``.

    Catalyst performs no common-subexpression elimination inside or
    across lambda-bearing expressions, so every textual repetition of
    ``split(...)`` re-tokenizes the row.  ``transform(array(x),
    tks -> body)[0]`` evaluates the split exactly once per row (the
    same idiom as the 23× minhash fix in operators/dedup.py)."""
    return f"transform(array({_tokens(text_col)}), tks -> {body})[0]"


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _round6(x: str) -> str:
    """round(x, 6) for KNOWN-NON-NEGATIVE doubles via integer cast
    (half-up; cast truncates toward zero).  Spark's ``round()`` on a
    double allocates a java.math.BigDecimal per row — the cast idiom
    measured ~2× faster in q1's aggs and is value-identical to the
    DuckDB oracle's ``round()`` at every tested scale (the same
    trade-off as plans/relational._dsum).  ``x`` is evaluated exactly
    once, which matters here because it is typically a lambda
    aggregate Catalyst would otherwise re-evaluate."""
    return f"cast(({x}) * 1000000D + 0.5D AS bigint) / 1000000D"


def token_count(text_col: str) -> Column:
    """Whitespace token count."""
    return F.expr(f"size({_tokens(text_col)})")


# BPE-style pre-tokenizer classes (simplified GPT-2 shape, kept to
# constructs whose semantics are identical in Java regex (Spark) and
# RE2 (DuckDB) so the oracle can mirror it): runs of letters, single
# digits, runs of other non-space symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def bpe_ish_token_count(text_col: str) -> Column:
    """Approximate LLM token count: matches of a BPE-ish pre-tokenizer
    regex (letters-run | digit | symbol-run) — the cheap, deterministic
    stand-in for a real tokenizer when budgeting corpus token counts.

    The pattern is passed as a literal Column, not an SQL string —
    Spark's SQL literal parser strips unrecognized escapes (``\\s`` →
    ``s``), which would corrupt the character class."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0)))


def _punct_sql(text_col: str) -> str:
    return (
        f"length(regexp_replace({text_col}, '[^.,;:!?\\'\"()-]', '')) "
        f"/ greatest(length({text_col}), 1)"
    )


def _stop_ratio_sql(words: list[str]) -> str:
    """Stopword ratio over the bound token var ``tks``."""
    return (
        f"size(filter(tks, x -> lower(x) IN ({_in_list(words)}))) "
        f"/ cast(size(tks) AS double)"
    )


def _quality_body(text_col: str) -> str:
    return _round6(
        f"least(size(tks) / 50.0, 1.0) * 0.4 "
        f"+ (1.0 - least(({_punct_sql(text_col)}) * 5, 1.0)) * 0.3 "
        f"+ least(({_stop_ratio_sql(_ENGLISH_STOPWORDS)}) * 4, 1.0) * 0.3"
    )


def quality_score(text_col: str) -> Column:
    """Composite quality heuristic in [0, 1]: favors mid-length docs,
    low punctuation noise, presence of stopwords (prose-likeness).
    Mirrors common LLM-corpus filters (C4/Gopher-style rules) with a
    deterministic closed-form score.  One split per row (let-bound)."""
    return F.expr(_let_tokens(text_col, _quality_body(text_col)))


def quality_score_cols(text_col: str) -> Column:
    """``quality_score`` as a generator column.  The Generate node is
    a projection-collapse barrier: downstream filters/projections that
    mention ``quality`` reference the generated attribute instead of
    inlining (and re-evaluating) the whole scoring expression."""
    return F.expr(
        f"inline(transform(array({_tokens(text_col)}), "
        f"tks -> named_struct('quality', {_quality_body(text_col)})))"
    )


def lang_id(text_col: str) -> Column:
    """Stopword-vote language ID: the language with the highest hit
    count wins; ties and all-zero rows resolve to 'und' / first
    alphabetically.  Deterministic so the oracle can mirror it.

    Double let-binding: the token array is split once (``tks``), then
    the five per-language counts are materialized once into ``cs`` —
    the round-1 shape re-evaluated split() ~15× per row because each
    score mention inlined its own tokenizer."""
    langs = sorted(STOPWORDS)
    counts = ", ".join(
        f"size(filter(tks, x -> lower(x) IN ({_in_list(STOPWORDS[lang])})))"
        for lang in langs
    )
    g = "greatest(" + ", ".join(f"cs[{i}]" for i in range(len(langs))) + ")"
    # alphabetical order: first language listed wins ties
    whens = " ".join(
        f"WHEN cs[{i}] = {g} THEN '{lang}'" for i, lang in enumerate(langs)
    )
    body = f"CASE WHEN {g} > 0 THEN (CASE {whens} END) ELSE 'und' END"
    return F.expr(
        f"transform(array({_tokens(text_col)}), tks -> "
        f"transform(array(array({counts})), cs -> {body})[0])[0]"
    )


# Modulus for the rolling fingerprint: keeps 33*h + codepoint and
# 31*h + token_hash below 2^63, so the fold is exact BIGINT
# arithmetic in both Spark and DuckDB (no overflow, no ANSI trap).
FP_MOD = 1_000_000_000_000


def doc_fingerprint(text_col: str) -> Column:
    """Order-sensitive rolling polynomial fingerprint: fold each
    token's unicode codepoints (base 33), then chain token hashes
    (base 31), all mod 1e12.  Pure integer arithmetic with an exact
    DuckDB twin (list_reduce + unicode()), unlike the earlier
    xxhash64 chain which had no cross-engine oracle."""
    return F.expr(
        f"aggregate({_tokens(text_col)}, 0L, (h, tk) -> "
        f"pmod(h * 31 + aggregate(regexp_extract_all(tk, '(?s).', 0), 0L, "
        f"(a, c) -> pmod(a * 33 + ascii(c), {FP_MOD})), {FP_MOD}))"
    )


def text_stats_cols(text_col: str) -> Column:
    """Generator column producing (n_tokens, avg_token_len,
    punct_ratio, stopword_ratio) from ONE tokenization.

    ``inline`` over the 1-element array from the let-binding transform
    expands the struct into columns at the Generate node, which
    Catalyst cannot collapse back into per-column copies of the split
    — the round-1 shape evaluated split() 5× per row across the four
    projected stats."""
    body = (
        f"named_struct("
        f"'n_tokens', size(tks), "
        f"'avg_token_len', {_round6('aggregate(tks, 0D, (acc, x) -> acc + length(x)) / size(tks)')}, "
        f"'punct_ratio', {_round6(_punct_sql(text_col))}, "
        f"'stopword_ratio', {_round6(_stop_ratio_sql(_ENGLISH_STOPWORDS))})"
    )
    return F.expr(f"inline(transform(array({_tokens(text_col)}), tks -> {body}))")


def chunk_array(text_col: str, window: int = 64, stride: int = 48) -> Column:
    """Overlapping token-window chunks of a document, as an
    array<string>: chunk i covers tokens [i·stride+1, i·stride+window].
    Docs at or under ``window`` tokens yield one chunk (themselves).
    One tokenization per row (let-binding); everything JVM-side."""
    if stride <= 0 or window <= 0 or stride > window:
        raise ValueError("need 0 < stride <= window")
    n_last = (
        f"greatest(cast(ceil((size(tks) - {window}) / cast({stride} AS double)) AS int), 0)"
    )
    body = (
        f"transform(sequence(0, {n_last}), "
        f"i -> concat_ws(' ', slice(tks, i * {stride} + 1, {window})))"
    )
    return F.expr(_let_tokens(text_col, body))


# PII patterns chosen from the regex subset where Java (Spark) and RE2
# (DuckDB) agree byte-for-byte: no backrefs, no lookaround, no \b.
# Order matters: emails first so their user/host digits can't be
# half-eaten by the later numeric patterns.
PII_PATTERNS: list[tuple[str, str]] = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}", "<PHONE>"),
]


def redact_pii(text_col: str | Column) -> Column:
    """Replace email / IPv4 / phone-shaped spans with typed tags —
    the compliance scrub every crawl pipeline runs before training.
    A chain of JVM-side regexp_replace calls (one scan pass, no
    Python); ``pii_redaction_sql`` note: the same patterns run
    verbatim in DuckDB, which is what makes this oracle-checkable."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def _fanout(df: DataFrame) -> DataFrame:
    """Row-group fan-out gate for the Arrow kernels (same rationale
    as plans.tables.fanout, duplicated here to keep functions/ free
    of a plans/ import): parquet tasks can't split a row group, and
    a small single-file scan arrives as fewer splits than cores — a
    per-row-expensive Python stage then runs on a fraction of the
    machine.  When partitions < cores, round-robin once (the guarded
    inputs are a few MB compressed); any real multi-file corpus takes
    the no-op path and nothing is shuffled."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df

def term_count_partials(
    df: DataFrame, group_cols: tuple[str, ...] = (), text_col: str = "text"
) -> DataFrame:
    """Per-batch partial token counts as an Arrow kernel:
    ``(*group_cols, term, cnt)`` where ``cnt`` is the term's EXACT
    occurrence count within the batch (standard tokenizer:
    ``utf8_lower`` + RE2 ``split_pattern_regex('[^a-z]+')`` + drop
    empties — semantics identical to the JVM
    ``split(lower(text), '[^a-z]+')`` idiom, verified
    count-for-count).  The caller
    reduces partials with a groupBy-sum to exact corpus counts, so
    the oracle contract is untouched.

    Why a Python boundary against the stay-JVM-side default: on the
    fixture-shaped corpus the JVM split+explode+partial-agg (although
    fused in one codegen stage) is dominated by per-token object
    churn — measured x100 13.1 s vs 6.0 s and x1000 16.2 s vs 9.1 s
    for the identical exact counts.  The
    kernel emits AT MOST |batch vocab| x |batch groups| rows per
    batch, so the downstream shuffle carries partials, not tokens.

    Scale shape: embarrassingly parallel per batch, no exchange
    inside the kernel, bounded output per batch — the same mapInArrow
    posture as ``repetition_counts_arrow`` below.  The input rides
    the row-group fan-out gate (see ``_fanout``): single-file fixture
    scans arrive as ~bytes/openCost splits (10 of 32 cores at x1000),
    which strands a per-row-expensive Python stage; real multi-file
    corpora hit the gate's no-op path."""
    import pyarrow as pa  # noqa: F401 — worker-side import check
    import pyarrow.compute as pc  # noqa: F401

    cols = list(group_cols)
    out = ", ".join([f"{c} string" for c in cols] + ["term string", "cnt long"])

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            toks = pc.split_pattern_regex(
                pc.utf8_lower(b.column(text_col)), "[^a-z]+"
            )
            parents = pc.list_parent_indices(toks)
            flat = pc.list_flatten(toks)
            keep = pc.not_equal(flat, "")
            data = {
                c: pc.filter(b.column(c).take(parents), keep) for c in cols
            }
            data["term"] = pc.filter(flat, keep)
            counts = (
                pa.table(data)
                .group_by(cols + ["term"])
                .aggregate([([], "count_all")])
                .rename_columns(cols + ["term", "cnt"])
            )
            yield from counts.to_batches()

    return _fanout(df.select(*cols, text_col)).mapInArrow(kernel, out)


def token_count_partials(
    df: DataFrame,
    group_cols: tuple[str, ...] = (),
    text_col: str = "text",
    sum_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-batch partial TOKEN-COUNT moments as an Arrow kernel:
    ``(*group_cols, n_docs, n_tokens, *sum_cols)`` with one output
    row per (batch, group).  The tokenizer contract is the corpus
    convention shared with ``term_count_partials``: a token is a
    maximal ``[a-z]+`` run of the lowercased text, and counting RE2
    ``[a-z]+`` MATCHES (Arrow ``count_substring_regex``) equals
    counting the non-empty pieces of a ``[^a-z]+`` split — verified
    against the split formulation in tests.

    Why not reuse ``term_count_partials`` when only totals are
    needed: the term kernel materializes and hash-groups every
    distinct (group, term) per batch — pure overhead when the caller
    immediately sums the counts away (measured at x1000 on the 5M-doc
    corpus: 8.2 s via term partials vs the count kernel's single RE2
    scan with no token materialization at all).  ``sum_cols`` lets
    callers fold additional integer per-doc columns (e.g. n_chars)
    into the same pass, so a fertility-style table needs exactly ONE
    scan of the text column and shuffles |groups| rows per batch.

    Scale shape: embarrassingly parallel per batch, no exchange
    inside the kernel, output ≤|batch groups| rows per batch."""
    import pyarrow as pa  # noqa: F401 — worker-side import check
    import pyarrow.compute as pc  # noqa: F401

    cols = list(group_cols)
    sums = list(sum_cols)
    out = ", ".join(
        [f"{c} string" for c in cols]
        + ["n_docs long", "n_tokens long"]
        + [f"{c} long" for c in sums]
    )

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            nt = pc.fill_null(
                pc.count_substring_regex(
                    pc.utf8_lower(b.column(text_col)), "[a-z]+"
                ),
                0,
            )
            data = {c: b.column(c) for c in cols}
            data["__nt"] = pc.cast(nt, pa.int64())
            for c in sums:
                data[c] = pc.cast(b.column(c), pa.int64())
            agg = (
                pa.table(data)
                .group_by(cols)
                .aggregate(
                    [([], "count_all"), ("__nt", "sum")]
                    + [(c, "sum") for c in sums]
                )
                .rename_columns(cols + ["n_docs", "n_tokens"] + sums)
            )
            yield from agg.to_batches()

    return _fanout(df.select(*cols, text_col, *sums)).mapInArrow(kernel, out)


def repetition_counts_arrow(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document gram-repetition counters as an Arrow-vectorized
    kernel: ``(id, n_tokens, bg_mx, tg_dup)`` where ``bg_mx`` is the
    occurrence count of the document's most frequent bigram and
    ``tg_dup`` the number of trigram occurrences belonging to a
    trigram that appears more than once (Gopher-style repetition
    signals; the caller divides into fractions).

    Why a Python boundary here, against the package's stay-JVM-side
    default: the exact JVM formulation needs per-row higher-order
    folds over SORTED gram arrays, and Catalyst evaluates lambda
    functions interpreted — measured at x10 (50k docs, 32 cores):
    string-sort folds 4.35 s,
    struct-sort 4.75 s, comparator-lambda index sort 1.99 s for the
    bigram piece alone, xxhash64-sorted folds 3.28 s (and those trade
    away provable exactness).  This kernel — Arrow ``utf8_lower`` +
    RE2 ``split_pattern_regex`` + ``dictionary_encode``, then one
    NumPy ``lexsort`` run-length pass per gram size, everything
    C-vectorized and exact (integer dictionary codes, no hashing) —
    does the WHOLE table in 1.64 s on ONE thread; under ``mapInArrow``
    it rides the scan's file-split parallelism with zero shuffle.

    Scale shape: embarrassingly parallel per batch (state is the
    batch-local dictionary), no exchange, output 4 fixed columns per
    input row — the same mapInArrow posture as
    ``operators/quantize.py``.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = df.schema[id_col]

    def _runs(keys: list[np.ndarray]):
        """Sorted-run decomposition of the tuple stream ``keys``
        (first key = doc/parent id): (run_parent, run_len)."""
        m = len(keys[0])
        if m == 0:
            z = np.array([], dtype=np.int64)
            return z, z
        order = np.lexsort(tuple(reversed(keys)))
        srt = [k[order] for k in keys]
        new = np.empty(m, dtype=bool)
        new[0] = True
        new[1:] = False
        for k in srt:
            new[1:] |= k[1:] != k[:-1]
        starts = np.flatnonzero(new)
        run_len = np.diff(np.append(starts, m)).astype(np.int64)
        return srt[0][starts], run_len

    def kernel(batches):
        for batch in batches:
            n = batch.num_rows
            toks = pc.split_pattern_regex(
                pc.utf8_lower(batch.column(text_col)), "[^a-z]+"
            )
            parents = pc.list_parent_indices(toks).to_numpy(
                zero_copy_only=False
            )
            flat = pc.list_flatten(toks)
            keep = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            parents = parents[keep]
            codes = pc.dictionary_encode(flat).indices.to_numpy(
                zero_copy_only=False
            )[keep]

            n_tokens = np.bincount(parents, minlength=n).astype(np.int64)

            # bigrams: adjacent filtered tokens of the same document
            # (per-doc token spans are contiguous in the flat stream)
            same = parents[:-1] == parents[1:]
            rp, rl = _runs(
                [parents[:-1][same], codes[:-1][same], codes[1:][same]]
            )
            bg_mx = np.zeros(n, dtype=np.int64)
            np.maximum.at(bg_mx, rp, rl)

            same3 = same[:-1] & same[1:]
            rp, rl = _runs(
                [
                    parents[:-2][same3],
                    codes[:-2][same3],
                    codes[1:-1][same3],
                    codes[2:][same3],
                ]
            )
            dup = rl >= 2
            tg_dup = np.bincount(
                rp[dup], weights=rl[dup], minlength=n
            ).astype(np.int64)

            yield pa.record_batch(
                {
                    id_col: batch.column(id_col),
                    "n_tokens": pa.array(n_tokens),
                    "bg_mx": pa.array(bg_mx),
                    "tg_dup": pa.array(tg_dup),
                }
            )

    out = StructType(
        [
            StructField(id_field.name, id_field.dataType, True),
            StructField("n_tokens", LongType(), True),
            StructField("bg_mx", LongType(), True),
            StructField("tg_dup", LongType(), True),
        ]
    )
    return df.select(id_col, text_col).mapInArrow(kernel, out)
