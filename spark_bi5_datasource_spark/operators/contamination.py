"""Cross-source contamination matrix over ARBITRARY source counts,
and the one implementation behind the catalog's
``plans/text_ops.text_contamination_matrix`` (``words=1``).

Every shingle folds to a source bitmask (`bit_or(1 << idx)`), and all
pair expansion runs on the tiny per-mask count frame.  Source index
idx maps to word `idx div 64`, bit `idx % 64`; the per-shingle
aggregate is `words` parallel `bit_or` columns (one HashAggregate, one
corpus-sized exchange), and the per-mask collapse keys on the mask
TUPLE.  Set bits explode to global indexes `w*64 + b`, so the pair
expansion and containment arithmetic do not depend on `words`.  An
in-plan `assert_true(idx < words*64)` fails the job when there are
more sources than bits; without it a source past the last word would
silently drop out of every mask.

`words` is an explicit caller parameter, NOT inferred: inference
would need a distinct-count over the corpus at plan-build time — a
hidden eager job, the r10 band-tuning-monitor honesty bug class.
Callers know their source cardinality (or bound it); the in-plan
assert fails loudly if they under-provision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["contamination_matrix"]


def contamination_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    words: int = 1,
) -> DataFrame:
    """Per unordered source pair with any n-gram overlap: shared
    distinct-shingle count and both directional containments in exact
    ppm.  ``words`` 64-bit mask words support up to ``words*64``
    distinct sources (assert-enforced in-plan).

    Scale shape: ONE corpus-sized HashAggregate (shingle →
    ``words`` integer bit_or columns), then everything rides the
    ≤|distinct mask tuples| frame; the source dim is ≤|sources| rows,
    broadcast everywhere.  Adding words adds map-side integer columns,
    never exchanges."""
    from .dedup import with_shingles

    d = docs.select(
        F.col(source_col).alias("source"), F.col(text_col).alias("text")
    )
    raw = with_shingles(d, "text", n).select(
        "source", F.explode("shingles").alias("shingle")
    )
    cap = words * 64
    sdim = (
        d.select("source")
        .distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.partitionBy().orderBy("source")) - 1,
        )
        .withColumn(
            "idx",
            F.when(
                F.assert_true(
                    F.col("idx") < F.lit(cap),
                    F.lit(
                        f"contamination_matrix: more than {cap} distinct"
                        " sources — raise words= (bits would alias)"
                    ),
                ).isNull(),
                F.col("idx"),
            ),
        )
    )
    mask_cols = [
        F.expr(
            f"bit_or(CASE WHEN idx div 64 = {w}"
            " THEN shiftleft(1L, CAST(idx % 64 AS INT)) ELSE 0L END)"
        ).alias(f"m{w}")
        for w in range(words)
    ]
    masks = (
        raw.join(F.broadcast(sdim), "source")
        .groupBy("shingle")
        .agg(*mask_cols)
        .groupBy(*[f"m{w}" for w in range(words)])
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # set bits of the mask tuple as GLOBAL indexes w*64 + b.
    # shiftright(m, b), not `m >> b`: the SQL parser rejects the
    # infix shift when its left side is a bare lambda variable
    bits = (
        "flatten(transform(array("
        + ", ".join(f"m{w}" for w in range(words))
        + "), (m, w) -> transform("
        "filter(sequence(0, 63), b -> shiftright(m, b) & 1 = 1),"
        " b -> w * 64 + b)))"
    )
    inter = (
        masks.select(
            "cnt",
            F.explode(
                F.expr(
                    f"flatten(transform({bits}, (x, i) ->"
                    f" transform(slice({bits}, i + 2, size({bits})),"
                    " y -> struct(x AS ia, y AS ib))))"
                )
            ).alias("p"),
        )
        .groupBy("p.ia", "p.ib")
        .agg(F.sum("cnt").cast("bigint").alias("n_common"))
        .join(
            F.broadcast(
                sdim.select(F.col("idx").alias("ia"), F.col("source").alias("sa"))
            ),
            "ia",
        )
        .join(
            F.broadcast(
                sdim.select(F.col("idx").alias("ib"), F.col("source").alias("sb"))
            ),
            "ib",
        )
        .select("sa", "sb", "n_common")
    )
    sz = (
        masks.select("cnt", F.explode(F.expr(bits)).alias("idx"))
        .groupBy("idx")
        .agg(F.sum("cnt").cast("bigint").alias("sz"))
        .join(F.broadcast(sdim), "idx")
        .select("source", "sz")
    )
    za = sz.select(F.col("source").alias("sa"), F.col("sz").alias("sz_a"))
    zb = sz.select(F.col("source").alias("sb"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(za), "sa")
        .join(F.broadcast(zb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_common",
            "sz_a",
            "sz_b",
            F.expr("CAST(n_common * 1000000 div sz_a AS BIGINT)").alias(
                "contain_a_ppm"
            ),
            F.expr("CAST(n_common * 1000000 div sz_b AS BIGINT)").alias(
                "contain_b_ppm"
            ),
        )
        .orderBy("source_a", "source_b")
    )
