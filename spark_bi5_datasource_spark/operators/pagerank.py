"""Distributed PageRank over an edge list — graph centrality as a
fixed-point of sparse matrix-vector products, the canonical iterative
Spark workload (the pattern GraphX/Pregel specialize; here it stays
in the DataFrame API so Catalyst/AQE keep optimizing every step).

Each iteration is one shuffle: contributions = edges ⋈ ranks grouped
by destination.  The edge list is the loop invariant — it is
persisted once and reused across iterations; only the rank vector
(one row per node) changes.  With out-degrees precomputed on the
edge frame, dangling nodes (no out-edges) leak their mass; the
standard fix — redistributing dangling mass uniformly — is a 1-row
aggregate broadcast into the update expression.

Scale shape: per iteration, shuffle volume is O(|E|) contributions
hashed on dst; the rank vector is O(|V|) rows.  At 100 TB the edge
frame would be bucketed on src so the per-iteration join is
exchange-free on the big side (sources/layout.write_bucketed);
iteration count is a constant (convergence plateaus ~O(log |V|) for
damping 0.85).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    eager: bool = False,
) -> DataFrame:
    """Damped PageRank after ``iters`` synchronous iterations.

    Returns ``node, rank`` for every node appearing as a source or
    destination.  Deterministic for a fixed edge set and iteration
    count (float addition order inside an aggregate is not pinned,
    but magnitudes here keep 6-dp rounding stable — the catalog
    query rounds on output).

    Executor-storage contract: a lazy call leaves three persisted
    loop-invariant frames (edge⋈degree, nodes, out-degrees) plus one
    localCheckpoint block set per iteration alive until the session
    ends, ``spark.catalog.clearCache()`` runs, or Python drops the
    intermediate refs (ContextCleaner then reclaims the checkpoint
    blocks).  They CANNOT be unpersisted inside a lazy call — the
    returned frame's lineage still reads them, and unpersisting
    before the caller's first action would re-trigger the upstream
    recompute-per-branch blowup this shape exists to prevent.  A
    long-lived session running many pageranks should either pass
    ``eager=True`` — materialize the result once (one extra action
    at call time, so NOT the posture for lazily-timed catalog
    entries) and unpersist all three invariants before returning —
    or call ``spark.catalog.clearCache()`` between runs — or, the
    precise scoped form, wrap the call and its consuming actions in
    ``operators.scoped.storage_scope(spark)``, which unpersists
    exactly the frames and checkpoint blocks this call created and
    nothing else (pinned by tests/test_scoped_cleanup.py).

    Fixture-scale cost note (r10 A/B, sf0.01, same protocol): the
    scale-safe shape below (invariants persisted and derived from
    the cached frame; rank vector lineage-truncated per iteration)
    costs a few 0.1 s over the earlier shape that re-derived
    nodes/out_deg from the RAW edge input — at fixture scale the
    upstream kNN recompute per lineage branch is cheap, but it
    doubles per iteration with the input size (the r10 scan-
    multiplicity audit counted 470 upstream scans in one plan),
    which at any real |E| is the difference between running and not
    finishing.  Scale-safety wins the tie.  An intermediate variant
    (reuse_gate per iteration) bounded the RUNTIME via exchange
    reuse but left the plan TREE doubling per iteration (1884-scan
    plan string); the non-eager localCheckpoint keeps tree, planning
    and work all linear — the components.py iterative discipline.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    out_deg = e.groupBy("_s").agg(F.count("*").alias("_deg"))
    # loop invariants: (src, dst, out_degree(src)) plus the node and
    # degree frames — ALL persisted, and nodes/out_deg re-derived
    # FROM the persisted edge frame, never from the raw input.  An
    # earlier shape derived nodes/out_deg from the raw edges: every
    # rank-lineage branch then re-executed the whole upstream edge
    # construction (for the catalog's kNN-graph input, the brute-force
    # cosine join) once per iteration branch — the r10 scan-
    # multiplicity audit counted 470 upstream scans in one plan.
    # (Left persisted: the result is lazy, so unpersisting here would
    # unmark the cache before it fills; callers running many pageranks
    # per session may unpersist via spark.catalog.clearCache())
    ej = e.join(out_deg, "_s").persist()
    nodes = (
        ej.select(F.col("_s").alias("node"))
        .unionByName(ej.select(F.col("_d").alias("node")))
        .distinct()
        .persist()
    )
    out_deg = ej.select("_s", "_deg").dropDuplicates(["_s"]).persist()
    n_nodes = nodes.count()  # one tiny job; |V| is needed as a literal

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    base = (1.0 - damping) / n_nodes
    for _ in range(iters):
        contribs = (
            ej.join(ranks, ej._s == ranks.node)
            .select("_d", (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("_d")
            .agg(F.sum("_c").alias("_in"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(out_deg, ranks.node == out_deg._s, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        # lineage truncation on the new rank vector: its two consumers
        # next iteration (contribution join + dangling anti-join)
        # would otherwise each embed the whole update subtree — the
        # rank lineage doubles per iteration (2^iters tree copies;
        # exchange reuse dedups the RUNTIME but not the plan tree, and
        # planning cost grows with it).  A non-eager localCheckpoint
        # stores the O(|V|) vector once per iteration and keeps both
        # the tree and the work linear — the components.py iterative
        # discipline.
        ranks = (
            nodes.join(contribs, nodes.node == contribs._d, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("_in"), F.lit(0.0))
                       + F.col("_dm") / n_nodes)
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    if eager:
        # materialize once, then release every invariant: the result
        # now reads its own checkpoint blocks, not the caches
        ranks = ranks.localCheckpoint(eager=True)
        for frame in (ej, nodes, out_deg):
            frame.unpersist()
    return ranks
