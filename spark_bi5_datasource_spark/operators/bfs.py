"""Distributed multi-source BFS — shortest-hop depth over an edge
list via synchronous frontier expansion (the Pregel traversal
pattern, kept in the DataFrame API so Catalyst/AQE optimize every
round).

Each round is one equi-join (frontier ⋈ edges on the source key) and
one anti-join (drop already-visited nodes); the visited set grows
monotonically and the frontier shrinks to empty within
``max_depth`` rounds.  Because a node is recorded the FIRST time it
is reached, its recorded depth is the minimum hop count — no per-node
min aggregation is needed.

Scale shape: per round the shuffle is O(|frontier-adjacent edges|)
hashed on the node key, and the anti-join streams the visited set
(O(|V| reached so far)).  At 100 TB the edge frame would be bucketed
on ``src`` (sources/layout.write_bucketed) so the expansion
join is exchange-free on the big side; ``max_depth`` bounds the round
count the way iteration caps bound PageRank.  Frontier/visited frames
are persisted per round — without that, round k's plan would re-run
rounds 1..k-1 (lineage growth is the classic iterative-DataFrame
trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bfs_depths"]


def bfs_depths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Shortest-hop depth from a source set.

    ``edges`` is an edge list; ``sources`` is a one-column DataFrame
    of start nodes (depth 0).  Returns ``node, depth`` for every node
    reachable within ``max_depth`` hops — exact and deterministic for
    a fixed graph, so it carries a plain SQL (recursive CTE) oracle.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
        )
    e = e.distinct().persist()  # loop invariant, read every round

    node_col = sources.columns[0]
    # localCheckpoint (not persist) per round: persist caches DATA but
    # the LOGICAL plan still nests — round k's anti-join references
    # every prior round's union, and by ~6 rounds the plan tree is big
    # enough that AQE's explain-string rendering alone OOMs the
    # driver.  Checkpointing truncates lineage to a materialized leaf,
    # so `visited` stays a shallow union of ≤ max_depth+1 leaves.
    frontier = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .localCheckpoint()
    )
    levels = [frontier.withColumn("depth", F.lit(0))]
    visited = levels[0]

    for d in range(1, max_depth + 1):
        nbrs = (
            frontier.join(e, frontier.node == e._s)
            .select(F.col("_d").alias("node"))
            .distinct()
        )
        fresh = nbrs.join(visited, "node", "left_anti").localCheckpoint()
        # bounded driver check (≤ max_depth tiny jobs): stop when the
        # frontier drains — identical output to running all rounds
        if fresh.isEmpty():
            break
        levels.append(fresh.withColumn("depth", F.lit(d)))
        visited = visited.unionByName(levels[-1])
        frontier = fresh
    e.unpersist()
    return visited.select("node", F.col("depth").cast("int").alias("depth"))
