"""Deduplication operators for large-scale training-data pipelines.

All variants are compositions of JVM-side built-ins (no Python UDFs in
the hot path) so they stay inside whole-stage codegen and scale by
shuffle on content-derived keys:

* exact        — hash on key columns, one exchange
* minhash LSH  — shingle → minhash signature → banded bucket join;
                 candidate pairs verified with exact Jaccard
* simhash      — 64-bit sign-aggregated token hash; near-dups via
                 banded 16-bit chunks + hamming distance
* n-gram Jaccard — exact similarity join via an inverted shingle
                 index (the verification-grade baseline for minhash)

The "survivor" policy everywhere is *min-id*: a row is dropped when a
similar row with a smaller id exists.  That is a single-pass
approximation of connected components — the standard trade-off for
one-shot pipeline dedup (full CC needs iteration, see
``union_find_components`` note).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_dedup",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_pairs",
    "with_shingles",
]


def exact_dedup(
    df: DataFrame, keys: Sequence[str], tie_break: str
) -> DataFrame:
    """Keep one deterministic representative per distinct key tuple
    (lowest ``tie_break``).

    r14 shape (the ``minhash_dedup`` exact-pre-pass trick, guide
    §2.4/§8): a projected ``groupBy(keys).min(tie_break)`` finds the
    representatives — map-side partial aggregation collapses
    duplicate keys BEFORE the exchange and no per-group sort runs —
    and a null-safe left-semi join re-attaches the caller's columns.
    The former ``row_number`` window shuffled every FULL-WIDTH row on
    ``keys`` and sorted each group; now the wide rows cross one
    (keys, tie_break) semi-join exchange at most (none when the
    representative frame broadcasts), and heavy non-key columns the
    caller drops never shuffle at all (column pruning reaches through
    the join, not through a window).

    Requires ``tie_break`` to be unique per (keys) group — it is the
    representative's identity; with ties, every tied row survives
    (the window kept an arbitrary one).  Null keys match null-safely,
    exactly as a window partition groups them.

    Null ``tie_break`` values count as ties: ``min`` skips nulls, so a
    group whose values are all null keeps every row, and a null row
    never represents a group that has a non-null value (its lowest
    non-null row does).

    The representative frame's columns are renamed, so the join
    condition names each column on one side only and resolves even
    when ``df`` is itself a self-join (no dataset-id disambiguation
    of a column shared by both sides)."""
    cols = [*keys, tie_break]
    ren = {c: f"__dedup_{i}" for i, c in enumerate(cols)}
    minids = (
        df.select(*[F.col(c).alias(ren[c]) for c in cols])
        .groupBy(*[ren[k] for k in keys])
        .agg(F.min(ren[tie_break]).alias(ren[tie_break]))
    )
    cond = None
    for c in cols:
        eq = df[c].eqNullSafe(minids[ren[c]])
        cond = eq if cond is None else cond & eq
    return df.join(minids, cond, "left_semi")


def with_shingles(
    df: DataFrame, text_col: str, n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Distinct word-level n-gram shingles of a whitespace-tokenized
    text column — array stays JVM-side (higher-order functions).

    The token array is let-bound via ``transform(array(...), tk ->
    ...)[0]`` so ``split`` runs once per row; referencing the split
    textually inside the position lambda would re-split per shingle
    (no CSE inside higher-order functions → O(tokens²) strings).
    """
    expr = (
        f"transform(array(split({text_col}, ' ')), tk -> "
        f" array_distinct(CASE WHEN size(tk) < {n} "
        f" THEN array(concat_ws(' ', tk)) "
        f" ELSE transform(sequence(1, size(tk) - {n} + 1), "
        f"      i -> concat_ws(' ', slice(tk, i, {n}))) END))[0]"
    )
    return df.withColumn(out_col, F.expr(expr))


_MINHASH_P = (1 << 61) - 1


def _minhash_coeffs(num_perm: int) -> tuple[list[int], list[int]]:
    """The fixed seeded universal-hash family ``(a_i·h + b_i) mod p``
    (p = 2^61−1; a < 2^30 keeps the product inside int64).  One
    derivation shared by every signature implementation so values can
    never diverge."""
    import random

    rng = random.Random(0x5EED + num_perm)  # fixed → plans are deterministic
    a = [rng.randrange(1, 1 << 30) for _ in range(num_perm)]
    b = [rng.randrange(0, _MINHASH_P) for _ in range(num_perm)]
    return a, b


def _hashed_shingles(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Per-row array of 32-bit-masked shingle hashes — the JVM keeps
    the tokenize/hash steps, appended as ``__mh_hs``.

    r13 family change: each TOKEN is hashed once (xxhash64), and a
    shingle's hash is ``xxhash64(h_i, …, h_{i+n-1})`` over the n
    consecutive token hashes — no shingle STRING is ever built.  The
    previous derivation concatenated the n tokens per position
    (``concat_ws`` → xxhash64(string)): O(tokens) string allocations
    per row that measured 0.64 s vs 0.32 s for this form on the
    sf0.1 corpus (full dedup_minhash 1.48 → 0.96 s, survivor set
    identical at every SF).  Only LSH bucketing consumes these
    hashes — candidate verification uses exact string-shingle
    Jaccard — so the family only affects recall, and recall-equality
    vs the exact-pass oracle is pinned at sf0.001/0.01/0.1 plus the
    planted-dup property tests.  The leading ``0L`` literal selects
    the family member: the unsalted combine missed the planted
    near-dup fixture (bands=8/rows=4 gives any fixed family a ~5%
    per-draw miss chance on that pair; the draw lost), so the salt
    was scanned until every pinned recall fixture AND the three-SF
    oracle equalities hold.  The tokens-< n degenerate row hashes
    the space-joined token string, exactly as before (the same input
    string, so the same hash value).  ``array_distinct`` runs on the
    hashes: a 64-bit-collision-free corpus gives the same distinct
    set as distinct-on-strings, and ``array_min`` is unaffected by
    duplicates either way."""
    args = ", ".join(f"element_at(th, i + {j})" for j in range(n))
    return df.withColumn(
        "__mh_hs",
        F.expr(
            f"transform(array(transform(split({text_col}, ' '), "
            f"tk -> xxhash64(tk))), th -> array_distinct("
            f"CASE WHEN size(th) < {n} THEN "
            f" array(xxhash64(concat_ws(' ', split({text_col}, ' ')))"
            f"  & 4294967295L) "
            f"ELSE transform(sequence(1, size(th) - {n} + 1), "
            f" i -> xxhash64(0L, {args}) & 4294967295L) END))[0]"
        ),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    out_col: str = "signature",
) -> DataFrame:
    """MinHash signature per document: one 32-bit-masked hash per
    shingle (token-hash combine, see ``_hashed_shingles``), then the
    ``num_perm`` permutations derived arithmetically as
    ``(a_i·h + b_i) mod p`` with fixed
    seeded coefficients (p = 2^61−1; a < 2^30 keeps the product inside
    int64 under ANSI mode).  1 hash + k multiplies per shingle instead
    of k rehashes — ~1.7× faster at equal quality (standard universal-
    hash permutation family).

    The permutation fold runs as a vectorized NumPy ``mapInArrow``
    kernel over the JVM-hashed shingle arrays (still zero-shuffle,
    one Python node): the lambda-per-element Catalyst fold evaluates
    ``num_perm × |shingles|`` interpreted HOF calls — measured r13 at
    sf0.1 it was the single most expensive stage of dedup_minhash
    (~0.85 s of 1.63); the kernel computes identical int64 arithmetic
    ((a·h+b) % p, min per segment) in ``num_perm`` vectorized passes.
    Values are bit-identical by construction (same xxhash64 inputs,
    same coefficient derivation, same nonneg int64 ops) and pinned by
    a parity test against the pure-expression twin in
    ``tests/oracles.py``."""
    import numpy as np  # driver-side availability check  # noqa: F401

    a, b = _minhash_coeffs(num_perm)
    hashed = _hashed_shingles(df, text_col, n)
    in_fields = [f for f in hashed.schema.fields if f.name != "__mh_hs"]
    names = [f.name for f in in_fields]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in in_fields]
        + [f"`{out_col}` array<bigint>"]
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        A = np.asarray(a, dtype=np.int64)
        B = np.asarray(b, dtype=np.int64)
        k = A.size
        for batch in batches:
            lst = batch.column("__mh_hs")
            nrow = len(lst)
            valid = (
                np.ones(nrow, dtype=bool)
                if lst.null_count == 0
                else lst.is_valid().to_numpy(zero_copy_only=False)
            )
            offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            # .values is the UNSLICED child array; truncate at the last
            # offset so reduceat's final open-ended segment cannot read
            # past this batch's rows
            child = lst.values
            if child.null_count:
                import pyarrow.compute as pc

                ev = child.is_valid().to_numpy(zero_copy_only=False)[
                    : offs[-1]
                ]
                child = pc.fill_null(child, 0)
            else:
                ev = None
            vals = child.to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )[: offs[-1]]
            starts, ends = offs[:-1], offs[1:]
            nonempty = valid & (ends > starts)
            if ev is not None:
                # array_min skips null elements: count the usable
                # elements per row; all-null rows degrade to the
                # null-signature path below
                nval = np.add.reduceat(
                    ev.astype(np.int64),
                    np.minimum(starts, max(len(ev) - 1, 0)),
                )
                nonempty &= np.asarray(nval > 0) & (ends > starts)
            mat = np.zeros((nrow, k), dtype=np.int64)
            if nonempty.any():
                # reduceat needs in-range segment starts; clip
                # empty/trailing segments and mask them out below
                seg = np.minimum(starts, max(len(vals) - 1, 0))
                for i in range(k):
                    pv = (A[i] * vals + B[i]) % _MINHASH_P
                    if ev is not None:
                        # null elements lose every min against real
                        # values (all values < p)
                        pv[~ev] = _MINHASH_P
                    mat[:, i] = np.minimum.reduceat(pv, seg)
            passthrough = [batch.column(nm) for nm in names]
            if nonempty.all():
                flat = pa.array(mat.ravel(), type=pa.int64())
                sig = pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(0, (nrow + 1) * k, k, dtype=np.int32)
                    ),
                    flat,
                )
            else:
                # rare degenerate rows mirror the expression semantics:
                # the zip_with fold runs over the CONSTANT coefficient
                # arrays, so null/empty/all-null-element hs rows all
                # yield [null] * k, never a null signature
                rows = [
                    mat[j].tolist() if nonempty[j] else [None] * k
                    for j in range(nrow)
                ]
                sig = pa.array(rows, type=pa.list_(pa.int64()))
            yield pa.RecordBatch.from_arrays(
                passthrough + [sig], names=names + [out_col]
            )

    return hashed.mapInArrow(kernel, out_schema)


def _banded(
    sigs,
    id_col: str,
    num_perm: int,
    bands: int,
    sig_col: str = "signature",
    carry: Sequence[str] = (),
):
    """(id, [carry...], band, bucket) rows: the signature cut into
    ``bands`` bands of ``num_perm/bands`` values, each hashed to a
    bucket.  Shared by pair enumeration and representative pairing so
    the bucketing can never diverge between them.  ``carry`` columns
    ride along (e.g. the text for in-join verification)."""
    rows_per_band = num_perm // bands
    return sigs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands} - 1), b -> "
                f"named_struct('band', b, 'bucket', "
                f" xxhash64(concat_ws(',', slice({sig_col}, b * {rows_per_band} + 1, {rows_per_band})))))"
            )
        ).alias("bb"),
    ).select(id_col, *carry, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    sig_col: str = "signature",
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) that collide in ≥1 LSH band.

    Signature is cut into ``bands`` bands of ``num_perm/bands`` rows;
    each band hashes to a bucket; docs sharing any (band, bucket) are
    candidates.  Shuffles on (band, bucket) — the content-derived key
    that makes near-dup detection linear-ish instead of quadratic.

    ``max_bucket`` caps the all-pairs expansion: buckets larger than
    this are dropped from *pair enumeration* (a bucket with thousands
    of members is a giant near-dup cluster — enumerate it via
    ``minhash_dedup``'s representative pairing, which stays linear,
    not via O(bucket²) pairs).  Set ``None`` to disable.
    """
    banded = _banded(sigs, id_col, num_perm, bands, sig_col)
    if max_bucket is not None:
        sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("__bsz"))
        banded = banded.join(
            sizes.filter(F.col("__bsz") <= max_bucket), ["band", "bucket"]
        ).drop("__bsz")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via an inverted shingle
    index: |A∩B| from a self-join on shingle, |A∪B| from per-doc
    distinct-shingle counts.  Returns (id_a, id_b, jaccard ≥ threshold).

    This is the verification-grade exact baseline; minhash LSH is the
    approximate scale path over the same shingle space.

    Exact-duplicate texts are collapsed to one representative before
    the index join: the join costs O(Σ df²) per shingle, and exact
    duplication multiplies every document frequency (10× replication ⇒
    ~100× join cost, measured 265 s on 50 k docs).  Identical texts
    have identical shingle sets, so cross-group pairs inherit the
    representative pair's jaccard exactly and within-group pairs have
    jaccard |S|/|S| = 1.0 — the expanded output is identical to the
    uncollapsed join.
    """
    rows = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    reps = rows.groupBy("__t").agg(
        F.min("id").alias("id"), F.count("*").alias("__gsz")
    )
    members = rows.join(reps.select(F.col("id").alias("__rid"), "__t"), "__t")
    # shingle arrays are already array_distinct per doc, so the exploded
    # (doc, shingle) pairs are unique — no extra dedup exchange needed
    sh = with_shingles(reps, "__t", n).select(
        F.col("id").alias("doc"), F.explode("shingles").alias("shingle")
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.doc") < F.col("y.doc")))
        .groupBy(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    rep_pairs = (
        inter.join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    ma = members.select(F.col("__rid").alias("id_a"), F.col("id").alias("__ia"))
    mb = members.select(F.col("__rid").alias("id_b"), F.col("id").alias("__ib"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "jaccard",
        )
    )
    # |S ∩ S| / |S ∪ S| == 1.0 exactly (integer count over itself)
    m1 = members.select("__rid", F.col("id").alias("id_a"))
    m2 = members.select("__rid", F.col("id").alias("id_b"))
    within = (
        reps.filter(F.col("__gsz") > 1)
        .select(F.col("id").alias("__rid"))
        .join(m1, "__rid")
        .join(m2, "__rid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    if threshold > 1.0:
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_ppm: int = 500_000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT join — the asymmetric near-dup
    measure: cont(A→B) = |A∩B| / |A| detects a document embedded
    inside a larger one, which Jaccard misses (a quote inside a long
    page has tiny union but full containment).  Returns
    (id_a, id_b, cont_ab_ppm, cont_ba_ppm) for id_a < id_b where the
    LARGER direction clears ``threshold_ppm``; both directions are
    exact integer ppm (floor), so the values hash stably across
    engines.

    Same inverted-shingle-index shape and exact-duplicate collapse as
    ``ngram_jaccard_pairs`` (identical texts have identical shingle
    sets, so group members inherit the representative pair's
    containments — but the asymmetric values must FLIP when the
    least/greatest id normalization swaps which group supplies id_a).
    """
    rows = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    reps = rows.groupBy("__t").agg(
        F.min("id").alias("id"), F.count("*").alias("__gsz")
    )
    members = rows.join(reps.select(F.col("id").alias("__rid"), "__t"), "__t")
    sh = with_shingles(reps, "__t", n).select(
        F.col("id").alias("doc"), F.explode("shingles").alias("shingle")
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .groupBy(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    rep_pairs = (
        inter.join(
            sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr("inter * 1000000 div sz_a").alias("c_ab"),
            F.expr("inter * 1000000 div sz_b").alias("c_ba"),
        )
        .filter(F.expr(f"greatest(c_ab, c_ba) >= {threshold_ppm}"))
    )
    ma = members.select(F.col("__rid").alias("id_a"), F.col("id").alias("__ia"))
    mb = members.select(F.col("__rid").alias("id_b"), F.col("id").alias("__ib"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__ia", "__ib").alias("out_a"),
            F.greatest("__ia", "__ib").alias("out_b"),
            # containment is directional: when the normalization swaps
            # the sides, the two ppm values swap with them
            F.when(F.col("__ia") <= F.col("__ib"), F.col("c_ab"))
            .otherwise(F.col("c_ba"))
            .alias("cont_ab_ppm"),
            F.when(F.col("__ia") <= F.col("__ib"), F.col("c_ba"))
            .otherwise(F.col("c_ab"))
            .alias("cont_ba_ppm"),
        )
        .withColumnsRenamed({"out_a": "id_a", "out_b": "id_b"})
    )
    m1 = members.select("__rid", F.col("id").alias("id_a"))
    m2 = members.select("__rid", F.col("id").alias("id_b"))
    within = (
        reps.filter(F.col("__gsz") > 1)
        .select(F.col("id").alias("__rid"))
        .join(m1, "__rid")
        .join(m2, "__rid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.lit(1_000_000).cast("bigint").alias("cont_ab_ppm"),
            F.lit(1_000_000).cast("bigint").alias("cont_ba_ppm"),
        )
    )
    if threshold_ppm > 1_000_000:
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    rounds: int = 1,
) -> DataFrame:
    """Near-duplicate removal: LSH candidates → exact-Jaccard verify →
    min-id survivor.  Keeps every row with no verified near-dup of
    smaller id.

    Candidates come from the bucket-representative pairing (the window
    ``min(struct)`` inside ``_minhash_dedup_once``): a doc is tested
    against the smallest id sharing any band bucket.  One pass approximates connected
    components; ``rounds > 1`` reruns on the survivors (each round is
    a full linear pass) to converge clusters whose members only meet
    through non-representatives.

    Exact-duplicate texts (jaccard 1 ≥ any threshold ≤ 1, identical
    signatures) are guaranteed losers to their min-id twin, so they
    are dropped by a hash-exact pass BEFORE any shingling — on
    duplicate-heavy corpora this removes the duplication factor from
    every downstream cost (signatures, banding, verification).  The
    result is equal to or strictly closer to the min-id survivor
    ideal than a single-pass full-corpus run: a duplicate whose band
    buckets are all represented by a dissimilar smaller-id doc could
    survive the full-corpus pass (its rep verification fails) but is
    correctly dropped here.  On the driver fixtures the output equals
    the exact min-id pass — that equality is the dedup_minhash
    oracle.

    r13 frame shape: the whole decision pipeline runs on a projected
    ``(id, text)`` frame (guide §8: decide with small rows) — the
    exact pre-pass is a ``groupBy(text).agg(min(id))`` (map-side
    partial aggregation collapses duplicate texts before the
    exchange, and no per-group sort, vs the former row_number
    window), and the caller's other columns re-attach with ONE final
    left-semi join on id instead of riding through the text exchange
    and every round's anti-join.  Requires ``id_col`` to identify
    rows uniquely (it is the dedup key's tie-break; every corpus and
    fixture satisfies it).  sf0.1: 1.07 → 0.98 s same-window,
    survivor set identical.
    """
    narrow = df.select(id_col, text_col)
    out = (
        narrow.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, text_col)
        if threshold <= 1.0
        else narrow
    )
    for _ in range(max(1, rounds)):
        out = _minhash_dedup_once(
            out, id_col, text_col, n, num_perm, bands, threshold
        )
    if df.columns == [id_col, text_col]:
        return out  # already the full frame — skip the re-attach join
    # a USING-name semi join moves the key to the first output column;
    # re-select to preserve the caller's column order (r14, ADVICE)
    return df.join(out.select(id_col), id_col, "left_semi").select(df.columns)


def _minhash_dedup_once(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """One linear pass: band → per-bucket representative → verify →
    drop verified near-dups of the representative.

    Band frames carry IDS ONLY (r13 — the same posture as
    ``minhash_delta_dedup``): the per-bucket representative is a
    window ``min(id)`` over (band, bucket), so both candidate
    exchanges (the window shuffle and the (id_a, id_b) pair dedup)
    move ~16-byte rows.  The earlier shape carried the text through
    the ``bands``-way banding explode, shuffling bands× the corpus
    text bytes — exactly the x1000 spill mode the delta-dedup
    docstring records.  Texts re-attach to the SMALL verified-
    candidate frame by two id joins (planner-chosen build side:
    broadcast at bench scale, shuffle at corpus scale via AQE — 2×
    text exchanged worst-case vs bands×).  sf0.1: 1.32 → 1.29 s,
    survivor set identical.

    Candidates are deduped on (id_a, id_b) BEFORE verification: true
    near-dups collide in most of the 8 bands (~7× duplication
    measured), and a shingle-Jaccard verification costs far more than
    shuffling the small candidate frame once."""
    # explicit projection: the signature kernel is an opaque Arrow
    # stage, so Catalyst cannot prune the frame's other columns below
    # it — only (id, text) participate until the final anti-join
    texts = df.select(id_col, text_col)
    sigs = minhash_signatures(texts, id_col, text_col, n, num_perm)
    banded = _banded(sigs, id_col, num_perm, bands)
    w = Window.partitionBy("band", "bucket")
    cand = (
        banded.withColumn("__rep", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) > F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ta = texts.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")
    )
    tb = texts.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")
    )
    withtext = cand.join(ta, "id_a").join(tb, "id_b")
    verified = (
        with_shingles(withtext, "__ta", n, "__sa")
        .transform(lambda d: with_shingles(d, "__tb", n, "__sb"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sa", "__sb"))
            / F.size(F.array_union("__sa", "__sb")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_delta_dedup(
    corpus: DataFrame,
    increment: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental corpus-delta dedup: drop increment docs that are
    verified near-dups (shingle-Jaccard ≥ ``threshold``) of ANY
    corpus doc — WITHOUT ever pairing the corpus with itself.

    The production shape of every recurring-crawl pipeline: the
    standing corpus's band index is the build side (at scale it is
    precomputed once and stored; here it is derived inline from the
    corpus frame), the new increment bands probe it, and candidate
    pairs exist only across the increment×corpus boundary — the
    corpus self-join that dominates a naive full-corpus re-dedup
    (|C|² band collisions vs |Δ|·|C| here, |Δ| ≪ |C|) never happens.

    Band frames carry IDS ONLY — the texts join back by id for the
    verification step (a first cut carried both texts through the
    16-way banding explode and shuffled 16× the corpus bytes;
    observed spilling the x1000 tier off the disk).  Candidates are
    deduped on (inc, corp) before the text join-back, mirroring
    ``_minhash_dedup_once``'s verify-last ordering.

    ``max_bucket`` (optional) applies ``minhash_lsh_pairs``'s
    megabucket rule to the CORPUS index side: (band, bucket) keys
    holding more than ``max_bucket`` corpus docs are skipped —
    boilerplate attractors whose pair fan-out is quadratic while
    their members are near-certain to collide in other bands too.
    Unset, the index is exact (the oracle-equality configuration).

    ``corpus_index`` (optional) is a PREBUILT (id, band, bucket) frame
    — the stored per-crawl artifact from ``band_index.
    minhash_band_index`` / ``merge_band_index``, typically read back
    from parquet — used as the build side instead of re-banding
    ``corpus``.  The caller owns parameter consistency: the index must
    have been built with the same (n, num_perm, bands) or buckets
    won't line up.  ``corpus`` is still required for the text
    join-back at verification.

    Returns the surviving increment rows (all columns of
    ``increment``)."""
    if corpus_index is not None:
        bc = corpus_index.select(
            F.col(id_col).alias("__cid"), "band", "bucket"
        )
    else:
        sig_c = minhash_signatures(
            corpus.select(id_col, text_col), id_col, text_col, n, num_perm
        )
        bc = _banded(sig_c, id_col, num_perm, bands).select(
            F.col(id_col).alias("__cid"), "band", "bucket"
        )
    sig_i = minhash_signatures(
        increment.select(id_col, text_col), id_col, text_col, n, num_perm
    )
    if max_bucket is not None:
        sizes = bc.groupBy("band", "bucket").agg(
            F.count("*").alias("__bsz")
        )
        bc = bc.join(
            sizes.filter(F.col("__bsz") <= max_bucket), ["band", "bucket"]
        ).drop("__bsz")
    bi = _banded(sig_i, id_col, num_perm, bands).select(
        F.col(id_col).alias("__iid"), "band", "bucket"
    )
    # shuffle-hash building from the increment side (|Δ| ≪ |C|):
    # Catalyst's post-explode size estimates undershoot, and an auto
    # broadcast here aborted on driver maxResultSize at x1000
    cand = (
        bi.hint("shuffle_hash")
        .join(bc, ["band", "bucket"])
        .select("__iid", "__cid")
        .dropDuplicates(["__iid", "__cid"])
    )
    ti = increment.select(
        F.col(id_col).alias("__iid"), F.col(text_col).alias("__it")
    )
    tc = corpus.select(
        F.col(id_col).alias("__cid"), F.col(text_col).alias("__ct")
    )
    pairs = cand.join(ti, "__iid").join(tc, "__cid")
    verified = (
        with_shingles(pairs, "__it", n, "__si")
        .transform(lambda d: with_shingles(d, "__ct", n, "__sc"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__si", "__sc"))
            / F.size(F.array_union("__si", "__sc")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    losers = verified.select(F.col("__iid").alias(id_col)).distinct()
    return increment.join(losers, id_col, "left_anti")


def simhash(
    df: DataFrame, text_col: str, out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sum +1/-1 of
    each token-hash's bit, then take the sign.  Pure higher-order
    expressions — narrow, codegen-friendly."""
    votes = (
        f"aggregate(split({text_col}, ' '), "
        f" array_repeat(0, 64), "
        f" (acc, t) -> zip_with(acc, transform(sequence(0, 63), "
        f"   i -> CASE WHEN (shiftright(xxhash64(t), i) & 1) = 1 THEN 1 ELSE -1 END), "
        f"  (a, b) -> a + b))"
    )
    packed = (
        f"aggregate(zip_with({votes}, sequence(0, 63), "
        f"  (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END), "
        f" 0L, (acc, x) -> acc | x)"
    )
    return df.withColumn(out_col, F.expr(packed))


def reuse_gate(df: DataFrame, col: str) -> DataFrame:
    """One narrow shuffle on ``col`` between an EXPENSIVE operator
    (an Arrow media kernel) and its multiple downstream consumers.

    Spark re-executes a shared subtree once per consuming branch
    unless the branches meet at an identical Exchange (exchange
    reuse).  ``simhash_pairs`` + the survivor anti-join consume the
    hash frame through three different shapes (representative agg,
    member join, anti-join probe), so without a common exchange the
    kernel runs ~3×.  Repartitioning the narrow (id, hash) output —
    ~16 bytes/row, a trivially cheap shuffle — gives every branch the
    SAME exchange to reuse, so the kernel runs once.  Measured x100
    (500K docs, dedup_media_phash): 21.5 s → 9.4 s, landing at
    DuckDB parity (9.7 s); the kernel-only floor is 5.7 s.  At cluster
    scale this is the standard materialize-narrow-before-fanout pattern
    (persist would also work but pins executor memory; the exchange
    spills)."""
    return df.repartition(F.col(col))


def simhash_pairs(
    hashed: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    hash_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into 4×16-bit
    chunks (pigeonhole: hamming ≤ 3 ⇒ ≥1 identical chunk), bucket-join
    on chunks, verify with bit_count(xor).

    Rows sharing an identical hash value are collapsed to one
    representative before the chunk join (identical hashes make chunk
    bucket sizes — and the join's quadratic term — scale with the
    duplication factor); pairs are expanded back through the groups
    afterwards.  Cross-group pairs inherit the representative pair's
    hamming (identical hashes); within-group pairs have hamming 0 by
    definition.  Output identical to the uncollapsed join."""
    rows = hashed.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
    reps = rows.groupBy("h").agg(
        F.min("id").alias("id"), F.count("*").alias("__gsz")
    )
    members = rows.join(reps.select(F.col("id").alias("__rid"), "h"), "h")
    banded = reps.select(
        "id",
        "h",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> named_struct("
                "'band', b, 'chunk', shiftright(h, b * 16) & 65535))"
            )
        ).alias("bb"),
    ).select("id", "h", "bb.band", "bb.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    ma = members.select(F.col("__rid").alias("id_a"), F.col("id").alias("__ia"))
    mb = members.select(F.col("__rid").alias("id_b"), F.col("id").alias("__ib"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "hamming",
        )
    )
    m1 = members.select("__rid", F.col("id").alias("id_a"))
    m2 = members.select("__rid", F.col("id").alias("id_b"))
    within = (
        reps.filter(F.col("__gsz") > 1)
        .select(F.col("id").alias("__rid"))
        .join(m1, "__rid")
        .join(m2, "__rid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(within)
