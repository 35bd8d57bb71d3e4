"""Vectorized unordered-pair unfold from per-row sorted arrays.

The "basket pattern" second half: after a ``collect_set`` groupBy has
keyed the baskets, every row's sorted member array must unfold to its
C(size, 2) ordered pairs (u < v).  Catalyst's higher-order-function
chain (``flatten(transform(..., transform(slice(...))))``) evaluates
interpreted — no codegen — and measured as the most expensive stage
of the sf0.1 pair pipelines (r13: ~0.3 s vs ~0.14 s for this kernel
on the co-purchase unfold).  The kernel unfolds pair (i, j) from its
rank via the closed-form inverse of the lexicographic triangular
numbering, entirely in NumPy.

Shared by ``_copurchase_pairs`` (plans/similarity_ops.py) and the
winnowing inverted-index pair generation (dedup_winnow_pairs); the
pure-Catalyst twins remain next to each call site as parity oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "unfold_sorted_pairs",
    "prefilter_min2",
    "maybe_prefilter_min2",
    "scan_size_bytes",
]

#: scan size at which the singleton pre-filter gate
#: (``maybe_prefilter_min2``) turns on.  256 MiB ≈ the x10 fixture
#: tier: below it the pre-filter's two extra stages (~0.4 s measured at
#: sf0.1) outweigh the shuffle it saves; above it the pair exchange
#: dominates and the filter pays (x100: 58.5/26.5 → 35.7/20.7 s
#: interleaved).
PAIR_PREFILTER_BYTES = 256 * 1024 * 1024


def scan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan — for a
    parquet scan this is the file-size sum, read driver-side from
    metadata (no job runs).  Used to pick scale-dependent plan shapes
    deterministically from the input, never from a computed result.

    None (unknown) when any leaf reports ``spark.sql.defaultSizeInBytes``,
    Catalyst's "no statistics" sentinel: a source without statistics,
    such as the bi5 Python DataSource, reports it filtered or not, and
    a projection above it only scales the sentinel down."""
    plan = df._jdf.queryExecution().optimizedPlan()
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    leaves = plan.collectLeaves()
    if any(int(leaves.apply(i).stats().sizeInBytes()) >= unknown for i in range(leaves.size())):
        return None
    return int(plan.stats().sizeInBytes())


def prefilter_min2(pairs: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Drop pair rows whose ``(u, v)`` value occurs exactly once
    globally — the rows a downstream ``HAVING count(*) >= 2`` throws
    away AFTER paying to shuffle them (measured 99.7% of distinct
    co-purchase pairs at sf0.1).

    Guide §8 "decide with small rows": the decision pass shuffles one
    ``xxhash64(u, v)`` long per row (8 B key vs the full pair) into a
    count, and the surviving hash set — bounded by the true
    ``>= 2``-pair count — broadcast-semi-joins the pair stream BEFORE
    the wide (u, v) exchange.  Hash collisions can only ADD a
    singleton to the output (its hash matched a surviving value),
    never remove a true duplicate, so any consumer that applies its
    exact ``count >= 2`` filter downstream gets bit-identical results.
    Callers MUST keep that downstream filter."""
    from pyspark.sql import functions as F

    surv = (
        pairs.select(F.xxhash64(u, v).alias("__ph"))
        .groupBy("__ph")
        .agg(F.count("*").alias("__c"))
        .where("__c >= 2")
        .select("__ph")
    )
    return (
        pairs.withColumn("__ph", F.xxhash64(u, v))
        .join(F.broadcast(surv), "__ph", "left_semi")
        .drop("__ph")
    )


def maybe_prefilter_min2(
    pairs: DataFrame, sized_on: DataFrame, u: str = "u", v: str = "v"
) -> DataFrame:
    """Apply ``prefilter_min2`` when ``sized_on``'s scan is big enough
    for the saved shuffle to beat the filter's fixed two-stage cost.
    The gate reads input-file metadata only (deterministic per
    invocation — nothing is cached across runs).  An input of unknown
    size (``scan_size_bytes`` is None, e.g. any bi5 scan) skips the
    filter."""
    size = scan_size_bytes(sized_on)
    if size is not None and size >= PAIR_PREFILTER_BYTES:
        return prefilter_min2(pairs, u, v)
    return pairs


def unfold_sorted_pairs(
    df: DataFrame,
    list_col: str,
    out_u: str = "u",
    out_v: str = "v",
) -> DataFrame:
    """(u, v) rows for every in-array pair with index i < j, in
    lexicographic pair order per row — byte-identical to the HOF
    unfold ``flatten(transform(xs, (x, i) -> transform(slice(xs,
    i + 2, size(xs)), y -> struct(x, y))))``.

    ``df`` is projected to ``list_col`` only (the kernel is opaque to
    Catalyst, so anything else would be shipped for nothing).  List
    elements must be non-null (collect_set output always is); null or
    empty lists contribute no pairs, mirroring the HOF explode."""
    elem_t = df.schema[list_col].dataType.elementType.simpleString()

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            lst = b.column(list_col)
            pa_elem = lst.type.value_type
            offs = lst.offsets.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            vals = lst.values.to_numpy(zero_copy_only=False)[: offs[-1]]
            sizes = offs[1:] - offs[:-1]
            if lst.null_count:
                sizes = np.where(
                    lst.is_valid().to_numpy(zero_copy_only=False), sizes, 0
                )
            npairs = sizes * (sizes - 1) // 2
            total = int(npairs.sum())
            if total == 0:
                e = pa.array([], type=pa_elem)
                yield pa.RecordBatch.from_arrays([e, e], [out_u, out_v])
                continue
            bidx = np.repeat(np.arange(sizes.size), npairs)
            prank = np.arange(total) - np.repeat(
                np.concatenate(([0], np.cumsum(npairs)))[:-1], npairs
            )
            s = sizes[bidx]
            # rank -> (i, j): count r of pairs at or after this rank
            # determines i (rows shrink by one as i grows), then j
            # follows from the row offset
            r = npairs[bidx] - 1 - prank
            jj = np.floor((np.sqrt(8.0 * r + 1) - 1) / 2).astype(np.int64)
            i = s - 2 - jj
            j = prank - (i * (2 * s - i - 1)) // 2 + i + 1
            base = offs[:-1][bidx]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vals[base + i], type=pa_elem),
                    pa.array(vals[base + j], type=pa_elem),
                ],
                [out_u, out_v],
            )

    return df.select(list_col).mapInArrow(
        kernel, f"`{out_u}` {elem_t}, `{out_v}` {elem_t}"
    )
