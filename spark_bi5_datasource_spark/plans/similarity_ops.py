"""Similarity catalog: ``sim_*`` vector search (exact, GEMM, IVF, LSH,
PQ, quantized, radius, recall monitors), ``emb_*`` embedding
transforms, ``retrieval_*`` hybrid lexical/dense ranking and
``graph_*`` document/co-occurrence graphs.

Exact tiers are oracled by brute force; approximate tiers run in
provably-exact settings (nprobe = nlist, seeded hyperplanes whose
buckets the DuckDB twin reproduces) or report recall against the
exact answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import rp_lsh_topk
from ..operators.knn import knn_graph
from ..operators.pagerank import pagerank
from .dedup_ops import _DOT_D, _DOT_LIST, _warehouse
from .registry import query as _q
from .tables import fanout, t
from .text_ops import _TKS, _TKS_D


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


# -------------------------------------------------------- KNN graph
@_q(
    "sim_knn_graph",
    # naive twin: full n² pairing with list arithmetic
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT)
        AS rank
    FROM n a, n b
    WHERE a.vec_id <> b.vec_id AND a.nrm > 0 AND b.nrm > 0
    QUALIFY rank <= 5
    """,
)
def sim_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 5-NN cosine graph over every embedding — block-pair GEMM,
    no driver collect (operators/knn.py)."""
    return knn_graph(t(spark, sf, "embeddings"), "vec_id", "embedding", k=5)


# -------------------------------------------------- PCA projection
@_q("emb_pca_project", None)  # eigenvectors have no SQL twin: rows-only
def emb_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """Global PCA (operators/pca.py): one distributed moment pass fits
    the d×d covariance driver-side; projection is an Arrow GEMM per
    batch.  Rows-only driver check (eigen basis isn't SQL-expressible);
    the pytest oracle pins projection == local NumPy PCA exactly."""
    from ..operators.pca import pca_fit, pca_project

    emb = t(spark, sf, "embeddings")
    mean, comps, _ = pca_fit(emb, "embedding", m=8)
    out = pca_project(emb, mean, comps, "embedding")
    return out.select(
        "vec_id",
        F.transform("pca", lambda x: F.round(x, 6)).alias("pca"),
    )


# ------------------------------------------------ graph centrality
@_q(
    "graph_pagerank_docs",
    # same edge set (the knn SQL), then the recursive fixed point;
    # the correlated subquery is the per-node contribution sum
    f"""
    WITH RECURSIVE
    n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x))) AS nrm
      FROM embeddings
    ),
    knn AS (
      SELECT b.vec_id AS src, a.vec_id AS dst
      FROM n a, n b
      WHERE a.vec_id <> b.vec_id AND a.nrm > 0 AND b.nrm > 0
      QUALIFY row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) <= 5
    ),
    nodes AS (
      -- explicit outer DISTINCT: inside WITH RECURSIVE, DuckDB treats
      -- a bare UNION as anchor/step structure and does NOT dedup the
      -- two branches against each other
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM knn UNION ALL SELECT dst FROM knn
      )
    ),
    deg AS (SELECT src, count(*) AS deg FROM knn GROUP BY src),
    nn AS (SELECT count(*) AS cnt FROM nodes),
    pr(it, node, val) AS (
      SELECT 0, node, 1.0 / (SELECT cnt FROM nn) FROM nodes
      UNION ALL
      SELECT pr.it + 1, pr.node,
        0.15 / (SELECT cnt FROM nn) + 0.85 * coalesce((
          SELECT sum(p2.val / deg.deg)
          FROM pr p2
          JOIN knn ON knn.src = p2.node
          JOIN deg ON deg.src = p2.node
          WHERE knn.dst = pr.node AND p2.it = pr.it), 0)
      FROM pr WHERE pr.it < 5
    )
    SELECT node, round(val, 6) AS rank FROM pr WHERE it = 5
    """,
)
def graph_pagerank_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Document centrality: damped PageRank (5 iterations) over the
    exact 5-NN cosine similarity graph — 'which documents sit at the
    hubs of the corpus' (operators/pagerank.py over
    operators/knn.py's edge list)."""
    edges = knn_graph(
        t(spark, sf, "embeddings"), "vec_id", "embedding", k=5
    ).select(F.col("query_id").alias("src"), F.col("nbr_id").alias("dst"))
    ranks = pagerank(edges, "src", "dst", iters=5, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# ------------------------------------------------- int8 quantization
@_q(
    "sim_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                x -> abs(x))) AS mx
      FROM embeddings
    )
    SELECT vec_id,
      round(CASE WHEN mx > 0 THEN mx ELSE 0.0 END, 6) AS scale,
      array_to_string(
        CASE WHEN mx > 0
             THEN list_transform(e, x -> CAST(floor(x * 127.0 / mx + 0.5)
                                              AS INT))
             ELSE list_transform(e, x -> 0) END, ',') AS qvec
    FROM s
    """,
)
def sim_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column via
    mapInArrow (operators/quantize.py) — the 4x memory tier for
    ANN at corpus scale.  The kernel is one vectorized NumPy pass per
    Arrow batch; the oracle recomputes the same floor-based half-up
    arithmetic in SQL, so the hash match pins the Arrow boundary
    end-to-end (offsets, casts, rounding)."""
    from ..operators.quantize import quantize_int8

    emb = fanout(t(spark, sf, "embeddings"))
    out = quantize_int8(emb, "vec_id", "embedding")
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_join(
            F.transform("qvec", lambda x: x.cast("string")), ","
        ).alias("qvec"),
    )


@_q(
    "sim_radius_search",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine
    FROM n a, n b
    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
      AND {_DOT_D} / (a.nrm * b.nrm) >= 0.3
    """,
)
def sim_radius_search(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-radius cosine search (all corpus vectors with cosine >=
    0.3 of the first 10 queries) — the range-search twin of
    sim_cosine_topk: no window, no k, output bounded only by the
    similarity floor (operators/similarity.py cosine_radius)."""
    from ..operators.similarity import cosine_radius

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_radius(emb, queries, threshold=0.3)


# ------------------------------------- co-occurrence graph + triangles
def _copurchase_pairs(lineitem) -> DataFrame:
    """Node-ordered co-purchase pairs (u < v), one row per distinct
    (order, u, v) — the basket pattern: ONE collect_set groupBy keys
    the baskets (per-order dedup comes free from the set semantics),
    then pairs unfold JVM-side from the sorted array with
    higher-order functions.  No self-join, no post-join distinct: the
    bounded ~C(items-per-order, 2) fan-out exists only between the
    generator and the next aggregation's map-side partials.  Clean
    head-to-head at x1000 (600M lineitem → 1.2B pairs): basket 234 s
    vs self-join + post-join distinct 250 s, with the smallest shuffle
    footprint of the three strategies tried (the pre-join-distinct variant
    exhausted shuffle disk first under concurrent load) — the pair
    stream itself is the remaining cost, and it partitions linearly
    across executors (HISTORY.md "Graph pair-counting")."""
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey))").alias("parts"))
        .where(F.expr("size(parts) >= 2"))
    )

    # r13: the pair unfold runs as a vectorized Arrow kernel instead
    # of the interpreted transform/slice/flatten HOF chain (Catalyst
    # HOFs have no codegen; the chain was ~0.3 s of the sf0.1 pair
    # stage vs ~0.14 for the kernel).  Emitted (u, v) multisets are
    # identical (pinned by test_copurchase_kernel_parity).
    from ..operators.pairs import unfold_sorted_pairs

    return unfold_sorted_pairs(baskets, "parts")


def _salted_wedge_join(x, y, key: str, salt_on: str, hub_cap: int = 4096,
                       salts: int = 16):
    """Skew guard for wedge generation (the r6 verdict's power-law
    note): ``x.join(y, key)`` where ``key`` is the shared middle
    node, except that HUB keys — y-side multiplicity > ``hub_cap`` —
    are salted: each x row takes one deterministic salt
    (``pmod(xxhash64(salt_on), salts)``), each hub y row replicates
    across all ``salts``, so a hub's deg² wedge fan-out spreads over
    ``salts`` shuffle tasks instead of landing on one.  Non-hub keys
    ride salt 0 — on a benign degree distribution (the fixtures) the
    hub set is empty, the broadcast is empty, and the join reduces to
    the plain equi-join with the SAME row set (each matching (x, y)
    pair meets at exactly one salt), so downstream aggregates hash
    identically with or without the guard (pinned in
    tests/test_round4_properties.py).

    Cost: one |y| counting pass for the hub set (broadcast — a graph
    has few nodes above any sane cap) and ×salts replication of hub
    rows only; the deg² work itself is the query's answer and cannot
    shrink, only spread.  Measured on a planted power-law graph in
    HISTORY.md ("Wedge skew guard")."""
    hubs = (
        y.groupBy(key)
        .agg(F.count("*").alias("__kc"))
        .where(F.col("__kc") > hub_cap)
        .select(key, F.lit(True).alias("__hub"))
    )
    xs = (
        x.join(F.broadcast(hubs), key, "left")
        .withColumn(
            "__salt",
            F.when(
                F.col("__hub").isNotNull(),
                F.pmod(F.xxhash64(salt_on), F.lit(salts)),
            ).otherwise(F.lit(0)),
        )
        .drop("__hub")
    )
    ys = (
        y.join(F.broadcast(hubs), key, "left")
        .withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("__hub").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("__hub")
    )
    return xs.join(ys, [key, "__salt"]).drop("__salt")


_TRI_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) m
    GROUP BY node
    ORDER BY triangles DESC, node
    LIMIT 50
"""


@_q("graph_triangle_count", _TRI_SQL)
def graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts
    co-occurring in >= 2 orders).  Edges are node-ordered (u < v) so
    each triangle materializes exactly once as (a < b < c) — the
    standard distributed formulation: one self-join extends edges to
    wedges, one more equi-join closes them; no wedge ever leaves the
    shuffle keyed on its endpoints.  Per-order fan-out is bounded
    (<= items-per-order choose 2), so the pair explosion is linear in
    lineitem with a small constant — and it is generated basket-side
    (one collect_set groupBy + array HOF unfold, `_copurchase_pairs`)
    so the fan-out never enters a join or a distinct.  Returns the
    top-50 parts by triangle membership."""
    from ..operators.pairs import maybe_prefilter_min2

    li = t(spark, sf, "lineitem")
    # r14: scale-adaptive singleton pre-filter ahead of the (u, v)
    # exchange (see basket_association_lift; the exact ``c >= 2``
    # filter below keeps it lossless)
    pairs = maybe_prefilter_min2(_copurchase_pairs(li), li)
    e = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    e2 = e.toDF("v", "w")
    e3 = e.toDF("u3", "w3")
    tri = (
        _salted_wedge_join(e, e2, "v", "u")
        .join(
            e3,
            (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")),
            "semi",
        )
        .select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("w").alias("c"))
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
        .orderBy(F.col("triangles").desc(), "node")
        .limit(50)
    )


# ---------------------------------------------------- PQ ANN tier
_BRUTE_COSINE_SQL = """
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round(list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))
            / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]),
              CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))
              / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT) AS rank
    FROM n a, n b
    WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
    QUALIFY rank <= 5
"""


@_q("sim_pq_exact", _BRUTE_COSINE_SQL)
def sim_pq_exact(spark: SparkSession, sf: str) -> DataFrame:
    """PQ ANN in exact mode: with ``shortlist`` >= |corpus| every
    non-self candidate reaches the exact re-scorer, so the train /
    encode / ADC-scan / shortlist / refine pipeline provably equals
    brute force and shares its oracle — putting the whole PQ
    plumbing under the hard hash gate.  Production mode (small
    shortlist) is sim_pq_topk."""
    from ..operators.pq import pq_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    return pq_topk(emb, queries, k=5, shortlist=n, iters=4, sample=512)


@_q("sim_pq_topk", None)
def sim_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ ANN, production mode: 8-byte codes scanned in place of
    256-byte vectors, ADC shortlist of 64, exact re-scoring of the
    shortlist only.  Approximate by nature (no SQL twin); recall vs
    the exact baseline and determinism are pinned in
    tests/test_operators.py."""
    from ..operators.pq import pq_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(emb, queries, k=5, shortlist=64, iters=4, sample=512)


# ------------------------------------------- multi-source BFS depth


@_q(
    "graph_bfs_depth",
    """
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), e AS (
      SELECT u AS s, v AS d FROM e0
      UNION ALL
      SELECT v AS s, u AS d FROM e0
    ), srcs AS (
      SELECT s AS node FROM e GROUP BY s ORDER BY s LIMIT 5
    ), reach(node, depth) AS (
      SELECT node, 0 FROM srcs
      UNION
      SELECT e.d, r.depth + 1 FROM reach r JOIN e ON e.s = r.node
      WHERE r.depth < 6
    )
    SELECT node, CAST(min(depth) AS INT) AS depth
    FROM reach GROUP BY node
    """,
)
def graph_bfs_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS over the part co-purchase graph (same edge
    set as graph_triangle_count): shortest-hop depth from the 5
    smallest part nodes, capped at 6 hops.  The Spark plan is
    synchronous frontier expansion (operators/bfs.py — one
    expansion join + one anti-join per round, first-reach = min
    depth); the oracle is the textbook recursive CTE with UNION
    dedup, so a hash match certifies the frontier machinery against
    the declarative fixed point."""
    from ..operators.bfs import bfs_depths

    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    b = li.toDF("l_orderkey", "b_partkey")
    pairs = (
        li.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("b_partkey"))
        .select(
            "l_orderkey",
            F.col("l_partkey").alias("u"),
            F.col("b_partkey").alias("v"),
        )
        .distinct()
    )
    e0 = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    nodes = e0.select(F.col("u").alias("node")).unionByName(
        e0.select(F.col("v").alias("node"))
    )
    sources = nodes.distinct().orderBy("node").limit(5)
    return bfs_depths(e0, sources, src="u", dst="v", max_depth=6)


# ------------------------------------------------- hybrid retrieval (RRF)
_RRF_K = 60  # the standard fusion constant
_RRF_QUERIES = 5  # vec_id/doc_id < 5 act as queries (ids are aligned)
_RRF_DEPTH = 20  # per-leg candidate depth


_RRF_SQL = f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    ), dense AS (
      SELECT b.vec_id AS query_id, a.vec_id AS doc_id,
        CAST(row_number() OVER (
          PARTITION BY b.vec_id
          ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS BIGINT) AS r
      FROM n a, n b
      WHERE b.vec_id < {_RRF_QUERIES} AND a.vec_id <> b.vec_id
      QUALIFY r <= {_RRF_DEPTH}
    ), d AS (
      SELECT doc_id, unnest(list_distinct({_TKS_D})) AS tok FROM documents
    ), sparse AS (
      SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
        CAST(row_number() OVER (
          PARTITION BY q.doc_id
          ORDER BY count(*) DESC, c.doc_id ASC) AS BIGINT) AS r
      FROM d q JOIN d c ON q.tok = c.tok AND q.doc_id <> c.doc_id
      WHERE q.doc_id < {_RRF_QUERIES}
      GROUP BY q.doc_id, c.doc_id
      QUALIFY r <= {_RRF_DEPTH}
    ), fused AS (
      SELECT coalesce(dense.query_id, sparse.query_id) AS query_id,
             coalesce(dense.doc_id, sparse.doc_id) AS doc_id,
             coalesce(CAST(round(1000000000.0 / ({_RRF_K} + dense.r)) AS BIGINT), 0)
           + coalesce(CAST(round(1000000000.0 / ({_RRF_K} + sparse.r)) AS BIGINT), 0)
               AS s
      FROM dense FULL OUTER JOIN sparse
        ON dense.query_id = sparse.query_id AND dense.doc_id = sparse.doc_id
    )
    SELECT query_id, doc_id,
      round(CAST(s AS DOUBLE) / 1000000000.0, 6) AS rrf,
      CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS INT) AS rank
    FROM fused QUALIFY rank <= 10
"""


@_q("retrieval_hybrid_rrf", _RRF_SQL)
def retrieval_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: dense (exact cosine) and sparse (distinct-
    token lexical overlap) candidate lists fused with reciprocal-rank
    fusion, top-10 per query.  Fusion contributions are scaled to
    integer billionths BEFORE the sum, so fused scores — and the rank,
    which sorts the exact integer — are engine-identical.

    Scale shape: the dense leg is the brute-force baseline (swap in
    the IVF/LSH/GEMM tiers at corpus scale — identical rank contract);
    the sparse leg is an inverted-index equi-join on tokens, shuffle ∝
    matched postings of the QUERY docs only (the query-side filter
    lands before the join).  The fusion itself is a full-outer join of
    two ≤ |Q|·depth rank lists — trivially small at any corpus size —
    so hybrid serving costs the two legs, never a cross product."""
    emb = t(spark, sf, "embeddings")
    nrm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    q_side = nrm.filter(F.col("vec_id") < _RRF_QUERIES)
    a = nrm.alias("a")
    b = F.broadcast(
        q_side.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with(
            "a.embedding", "qemb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("doc_id").asc()
    )
    dense = (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("a.vec_id").alias("doc_id"),
            (dot / (F.col("a.nrm") * F.col("qnrm"))).alias("cos"),
        )
        .withColumn("r", F.row_number().over(wq).cast("bigint"))
        .filter(F.col("r") <= _RRF_DEPTH)
        .drop("cos")
    )
    toks = t(spark, sf, "documents").select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TKS))).alias("tok")
    )
    qtoks = F.broadcast(
        toks.filter(F.col("doc_id") < _RRF_QUERIES).select(
            F.col("doc_id").alias("query_id"), "tok"
        )
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("overlap").desc(), F.col("doc_id").asc()
    )
    sparse = (
        toks.join(qtoks, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("overlap"))
        .withColumn("r", F.row_number().over(ws).cast("bigint"))
        .filter(F.col("r") <= _RRF_DEPTH)
        .drop("overlap")
    )

    def leg(col):
        return F.coalesce(
            F.round(F.lit(1_000_000_000.0) / (F.lit(_RRF_K) + F.col(col))).cast(
                "bigint"
            ),
            F.lit(0).cast("bigint"),
        )

    fused = (
        dense.withColumnRenamed("r", "rd")
        .join(
            sparse.withColumnRenamed("r", "rs"),
            ["query_id", "doc_id"],
            "full_outer",
        )
        .select(
            "query_id",
            "doc_id",
            (leg("rd") + leg("rs")).alias("s"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("s").cast("double") / 1_000_000_000.0, 6).alias("rrf"),
            "rank",
        )
    )


# ------------------------------------- cross-encoder-style rerank twin
_RR_DEPTH = 20  # first-stage candidate depth
_RR_TOPK = 5

_RERANK_SQL = f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
      FROM embeddings
    ), cand AS (
      SELECT b.vec_id AS query_id, a.vec_id AS doc_id,
        CAST(FLOOR({_DOT_D} / (a.nrm * b.nrm) * 1000000000) AS BIGINT) AS cos_b
      FROM n a, n b
      WHERE b.vec_id < {_RRF_QUERIES} AND a.vec_id <> b.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY b.vec_id ORDER BY cos_b DESC, a.vec_id ASC) <= {_RR_DEPTH}
    ), toks AS (
      SELECT doc_id, unnest(list_distinct({_TKS_D})) AS tok FROM documents
    ), ov AS (
      SELECT c.query_id, c.doc_id, CAST(count(*) AS BIGINT) AS overlap
      FROM cand c
      JOIN toks q ON q.doc_id = c.query_id
      JOIN toks d ON d.doc_id = c.doc_id AND d.tok = q.tok
      GROUP BY c.query_id, c.doc_id
    ), feat AS (
      SELECT c.query_id, c.doc_id, c.cos_b,
             coalesce(o.overlap, 0) AS overlap,
             least(length(d.text), 2000) AS len_c
      FROM cand c
      LEFT JOIN ov o ON o.query_id = c.query_id AND o.doc_id = c.doc_id
      JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT query_id, doc_id,
      CAST(cos_b * 2 + overlap * 50000000 + len_c * 10000 AS BIGINT) AS score,
      CAST(row_number() OVER (
        PARTITION BY query_id
        ORDER BY cos_b * 2 + overlap * 50000000 + len_c * 10000 DESC,
                 doc_id ASC) AS INT) AS rank
    FROM feat QUALIFY rank <= {_RR_TOPK}
"""


@_q("retrieval_rerank_topk", _RERANK_SQL)
def retrieval_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Second-stage rerank twin: first-stage dense top-20 candidates
    per query, then a deterministic cross-encoder-style scorer over
    each (query, candidate) pair — integer-scaled cosine (billionths
    via FLOOR, exact on IEEE doubles in both engines), lexical-overlap
    count, and a length prior, combined with fixed integer weights —
    top-5 per query by the exact integer score.

    This is the serving-stack shape a learned cross-encoder slots
    into: the candidate generator bounds the pair count (|Q| × depth,
    never corpus²), features join per-pair from independent legs, and
    the scorer is a pure projection — swapping in a model score only
    changes the projection.  Scale: the pair frame is ≤ |Q| · depth
    rows regardless of corpus size; the overlap leg is the inverted-
    index join keyed on the QUERY docs' tokens (same bound as
    retrieval_hybrid_rrf's sparse leg)."""
    emb = t(spark, sf, "embeddings")
    nrm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    b = F.broadcast(
        nrm.filter(F.col("vec_id") < _RRF_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with(
            "a.embedding", "qemb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_b").desc(), F.col("doc_id").asc()
    )
    cand = (
        nrm.alias("a")
        .crossJoin(b)
        .filter(F.col("a.vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("a.vec_id").alias("doc_id"),
            F.floor(dot / (F.col("a.nrm") * F.col("qnrm")) * 1_000_000_000)
            .cast("bigint")
            .alias("cos_b"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _RR_DEPTH)
        .drop("rn")
    )
    toks = t(spark, sf, "documents").select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TKS))).alias("tok")
    )
    qtoks = F.broadcast(
        toks.filter(F.col("doc_id") < _RRF_QUERIES).select(
            F.col("doc_id").alias("query_id"), "tok"
        )
    )
    ov = (
        toks.join(qtoks, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("bigint").alias("overlap"))
    )
    dlen = t(spark, sf, "documents").select(
        "doc_id", F.least(F.length("text"), F.lit(2000)).alias("len_c")
    )
    feat = (
        cand.join(ov, ["query_id", "doc_id"], "left")
        .withColumn("overlap", F.coalesce("overlap", F.lit(0).cast("bigint")))
        .join(dlen, "doc_id")
    )
    score = (
        F.col("cos_b") * 2
        + F.col("overlap") * 50_000_000
        + F.col("len_c") * 10_000
    ).cast("bigint")
    wf = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        feat.withColumn("score", score)
        .withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= _RR_TOPK)
        .select("query_id", "doc_id", "score", "rank")
    )


# ------------------------------------------ Matryoshka prefix recall
_NRM = "sqrt(list_sum(list_transform({v}, x -> x * x)))"

_MRL_SQL = f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        CAST(embedding AS DOUBLE[])[1:16] AS p
      FROM embeddings
    ), full_k AS (
      SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
        row_number() OVER (PARTITION BY b.vec_id ORDER BY
          {_DOT_LIST.format(a="a.e", b="b.e")}
            / ({_NRM.format(v="a.e")} * {_NRM.format(v="b.e")}) DESC,
          a.vec_id ASC) AS rank
      FROM n a, n b WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
      QUALIFY rank <= 5
    ), pre_k AS (
      SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
        row_number() OVER (PARTITION BY b.vec_id ORDER BY
          {_DOT_LIST.format(a="a.p", b="b.p")}
            / ({_NRM.format(v="a.p")} * {_NRM.format(v="b.p")}) DESC,
          a.vec_id ASC) AS rank
      FROM n a, n b WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
      QUALIFY rank <= 5
    )
    SELECT f.query_id,
      CAST(count(p.nbr_id) AS BIGINT) AS n_overlap,
      CAST(count(p.nbr_id) * 1000000 // 5 AS BIGINT) AS recall_ppm
    FROM full_k f LEFT JOIN pre_k p
      ON p.query_id = f.query_id AND p.nbr_id = f.nbr_id
    GROUP BY f.query_id ORDER BY f.query_id
"""


@_q("sim_mrl_prefix_recall", _MRL_SQL)
def sim_mrl_prefix_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-representation evaluation: top-5 recall of
    PREFIX-dimension (first 16 of 64) cosine retrieval against the
    full-dimension ranking, per query — the standard check before
    shipping truncated embeddings as the cheap first-stage retriever.
    Recall is an exact integer ratio in ppm.

    Scale shape: two cosine_topk legs (corpus scanned once per leg,
    ≤10-query broadcast — the documented BNLJ contract of
    sim_cosine_topk), then a broadcast-sized overlap join on the two
    k·|queries|-row top-k frames."""
    from ..operators.similarity import cosine_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    full_k = cosine_topk(emb, queries, k=5).select("query_id", "nbr_id")
    pre = emb.select(
        "vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding")
    )
    pre_k = (
        cosine_topk(pre, pre.filter(F.col("vec_id") < 10), k=5)
        .select("query_id", "nbr_id", F.lit(1).alias("hit"))
    )
    # r13: pre_k is k·|queries| rows (50 here) but sits behind a
    # window + filter, so Catalyst's size estimate blows past the
    # broadcast threshold and planned a sort-merge join — two
    # exchanges + sorts on 50-row inputs.  Explicit broadcast (the
    # bound is k·|queries| by construction, the documented contract
    # of this entry) makes it a BroadcastHashJoin.
    return (
        full_k.join(F.broadcast(pre_k), ["query_id", "nbr_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_overlap"),
            F.expr("CAST(count(hit) * 1000000 div 5 AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
        .orderBy("query_id")
    )


# --------------------------------------------- neighbor Jaccard sim
_NBR_JACCARD_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), adj AS (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v, u FROM e
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node
    ), common AS (
      SELECT x.node AS u, y.node AS v, CAST(count(*) AS BIGINT) AS com
      FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      GROUP BY u, v
    )
    SELECT c.u, c.v, c.com AS common_nbrs, da.deg AS deg_u, db.deg AS deg_v,
      CAST(c.com * 1000000 // (da.deg + db.deg - c.com) AS BIGINT)
        AS jaccard_ppm
    FROM common c
    JOIN e ON e.u = c.u AND e.v = c.v
    JOIN deg da ON da.node = c.u
    JOIN deg db ON db.node = c.v
    ORDER BY jaccard_ppm DESC, c.u, c.v
    LIMIT 50
"""


@_q("graph_neighbor_jaccard", _NBR_JACCARD_SQL)
def graph_neighbor_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Link-prediction similarity over the part co-purchase graph of
    graph_triangle_count: for each connected pair,
    |N(u)∩N(v)| / |N(u)∪N(v)| in exact ppm (union by
    inclusion-exclusion on the degrees), top-50 by similarity — the
    'substitutable parts' readout.

    Scale shape: the common-neighbor count is the same wedge join as
    triangle counting (adjacency self-joined on the shared neighbor,
    grouped by endpoints — every wedge stays keyed on its endpoints
    through the shuffle); the semi-restriction to actual edges and
    the two degree joins are |edges|-sized.  Pair generation is the
    basket pattern (see graph_triangle_count): one
    collect_set groupBy keys the baskets (dedup for free), pairs
    unfold JVM-side from the sorted array — no self-join, no
    post-join distinct; clean x1000 head-to-head (234 s vs 250 s for
    the self-join + distinct shape) and the DuckDB disk-death story
    live in HISTORY.md "Graph pair-counting"."""
    from ..operators.pairs import maybe_prefilter_min2

    li = t(spark, sf, "lineitem")
    # r14: scale-adaptive singleton pre-filter ahead of the (u, v)
    # exchange (see basket_association_lift; the exact ``c >= 2``
    # filter below keeps it lossless)
    pairs = maybe_prefilter_min2(_copurchase_pairs(li), li)
    e = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("bigint").alias("deg"))
    x = adj.toDF("u", "nbr")
    y = adj.toDF("v", "nbr")
    common = (
        _salted_wedge_join(x, y, "nbr", "u")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("com"))
    )
    return (
        common.join(e, ["u", "v"], "semi")
        .join(deg.toDF("u", "deg_u"), "u")
        .join(deg.toDF("v", "deg_v"), "v")
        .select(
            "u",
            "v",
            F.col("com").alias("common_nbrs"),
            "deg_u",
            "deg_v",
            F.expr(
                "CAST(com * 1000000 div (deg_u + deg_v - com) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "u", "v")
        .limit(50)
    )


# ------------------------------------ graph degree distribution
_DEGDIST_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING count(*) >= 2
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    )
    SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS log2_bucket,
      CAST(count(*) AS BIGINT) AS n_nodes,
      CAST(min(degree) AS BIGINT) AS min_degree,
      CAST(max(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY log2_bucket ORDER BY log2_bucket
"""


@_q("graph_degree_distribution", _DEGDIST_SQL)
def graph_degree_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Degree histogram of the co-purchase graph in power-of-two
    buckets — the power-law profile that decides whether the wedge
    ops need their hub guard (_salted_wedge_join).  The bucket index
    is floor(log2(degree)) computed EXACTLY as the bit length of the
    degree (``length(bin(x)) - 1``) — no engine float log near a
    power-of-two boundary.

    Scale shape: basket-pattern pair generation, one (u,v) count, one
    per-node count, one |buckets|-row rollup — every aggregate
    map-side-combines."""
    from ..operators.pairs import maybe_prefilter_min2

    li = t(spark, sf, "lineitem")
    # r14: same scale-adaptive singleton pre-filter as
    # basket_association_lift (shared pair pipeline, same exact
    # ``n >= 2`` downstream filter keeps it lossless)
    e = (
        maybe_prefilter_min2(_copurchase_pairs(li), li)
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .where("n >= 2")
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return (
        deg.groupBy(
            F.expr("CAST(length(bin(degree)) - 1 AS BIGINT)").alias(
                "log2_bucket"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------- embedding norm audit
_NORMHIST_SQL = """
    WITH n AS (
      SELECT CAST(floor(list_sum(list_transform(
          CAST(embedding AS DOUBLE[]), x -> x * x)) * 100) AS BIGINT)
        AS bucket
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs
    FROM n GROUP BY bucket ORDER BY bucket
"""


@_q("sim_norm_histogram", _NORMHIST_SQL)
def sim_norm_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding squared-norm histogram in centi-buckets
    (floor(|v|²·100)) — the drift/normalization audit run before any
    cosine index is trusted (un-normalized or collapsed vectors show
    up as mass away from the expected bucket).  The squared norm is
    a per-row left fold over the vector — both engines evaluate the
    identical double sequence, so the floor boundary is
    engine-stable (the dedup_semantic_semdedup oracle pins the same
    arithmetic).

    Scale shape: pure per-row map + map-side-combinable bucket
    count; nothing global."""
    return (
        t(spark, sf, "embeddings")
        .where("embedding IS NOT NULL")
        .select(
            F.expr(
                "CAST(floor(aggregate(transform(CAST(embedding AS"
                " ARRAY<DOUBLE>), x -> x * x), 0D, (a, b) -> a + b)"
                " * 100) AS BIGINT)"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
        .orderBy("bucket")
    )


# ------------------------------------------- ANN recall monitor
_K = 10
_NQ = 8  # vec_id < 8 — the deterministic sampled query slice
_NLIST = 16
_LSH_TIERS = (8, 12, 16)
_IVF_TIERS = (1, 2, 4)


def _plane_literals() -> list[list[float]]:
    """The 16 seeded hyperplanes shared by every LSH tier: with a
    fixed seed, numpy fills row-major, so _hyperplanes(dim, 8, seed)
    is exactly the first 8 rows of _hyperplanes(dim, 16, seed) — one
    plane set serves all three tiers (and keeps the SQL twin to one
    set of literals)."""
    from ..operators.similarity import _hyperplanes

    return _hyperplanes(64, 16, 42)


def _recall_sql() -> str:
    planes = _plane_literals()
    dot_ab = _DOT_LIST.format(a="a.e", b="b.e")
    sign_bits = ", ".join(
        "CASE WHEN list_sum(list_transform(list_zip(e, ["
        + ", ".join(repr(x) for x in row)
        + f"]), x -> x[1] * x[2])) >= 0 THEN (1::BIGINT << {i})"
        " ELSE 0 END AS s" + str(i)
        for i, row in enumerate(planes)
    )
    mask = {8: (1 << 8) - 1, 12: (1 << 12) - 1, 16: (1 << 16) - 1}
    lsh_leg = " UNION ALL ".join(
        f"""
        SELECT 'lsh' AS tier, {np} AS param, q.vec_id AS query_id,
          c.vec_id AS nbr_id,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            {_DOT_RAW} / (c.nrm * q.nrm) DESC, c.vec_id ASC) AS rk
        FROM sig c JOIN sig q
          ON bit_count(xor(c.bucket & {mask[np]}, q.bucket & {mask[np]})) <= 1
        WHERE q.vec_id < {_NQ} AND c.vec_id <> q.vec_id
        """
        for np in _LSH_TIERS
    )
    ivf_leg = " UNION ALL ".join(
        f"""
        SELECT 'ivf' AS tier, {npr} AS param, q.vec_id AS query_id,
          c.vec_id AS nbr_id,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            {_DOT_RAW} / (c.nrm * q.nrm) DESC, c.vec_id ASC) AS rk
        FROM asg c JOIN probes q ON c.cell = q.cell
        WHERE q.vec_id < {_NQ} AND q.pr <= {npr} AND c.vec_id <> q.vec_id
        """
        for npr in _IVF_TIERS
    )
    return f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
          x -> x * x))) AS nrm
      FROM embeddings
    ), nn AS (
      SELECT vec_id, e, nrm, list_transform(e, x -> x / nrm) AS u
      FROM n WHERE nrm > 0
    ), exact AS (
      SELECT b.vec_id AS query_id, a.vec_id AS nbr_id
      FROM nn a, nn b
      WHERE b.vec_id < {_NQ} AND a.vec_id <> b.vec_id
      QUALIFY row_number() OVER (PARTITION BY b.vec_id ORDER BY
        {dot_ab} / (a.nrm * b.nrm) DESC, a.vec_id ASC) <= {_K}
    ), sig AS (
      SELECT vec_id, e, nrm, u, ({
        " | ".join(f"s{i}" for i in range(16))
      }) AS bucket
      FROM (SELECT vec_id, e, nrm, u, {sign_bits} FROM nn)
    ), cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, u AS cu
      FROM nn ORDER BY vec_id LIMIT {_NLIST}
    ), dist AS (
      SELECT v.vec_id, c.ci,
        round(list_sum(list_transform(list_zip(v.u, c.cu),
          x -> x[1] * x[2])), 9) AS rdot
      FROM nn v CROSS JOIN cents c
    ), asg AS (
      SELECT d.vec_id, d.ci AS cell, nn.e, nn.nrm, nn.u
      FROM dist d JOIN nn USING (vec_id)
      QUALIFY row_number() OVER (PARTITION BY d.vec_id
        ORDER BY d.rdot DESC, d.ci ASC) = 1
    ), probes AS (
      SELECT d.vec_id, d.ci AS cell, nn.e, nn.nrm, nn.u,
        row_number() OVER (PARTITION BY d.vec_id
          ORDER BY d.rdot DESC, d.ci ASC) AS pr
      FROM dist d JOIN nn USING (vec_id)
      WHERE d.vec_id < {_NQ}
    ), approx AS (
      SELECT tier, param, query_id, nbr_id
      FROM ({lsh_leg} UNION ALL {ivf_leg})
      WHERE rk <= {_K}
    ), hits AS (
      SELECT a.tier, a.param, CAST(count(*) AS BIGINT) AS n_hits
      FROM approx a JOIN exact e
        ON a.query_id = e.query_id AND a.nbr_id = e.nbr_id
      GROUP BY a.tier, a.param
    ), dom AS (
      SELECT * FROM (VALUES {", ".join(
          [f"('lsh', {np})" for np in _LSH_TIERS]
          + [f"('ivf', {npr})" for npr in _IVF_TIERS]
      )}) d(tier, param)
    )
    SELECT dom.tier, CAST(dom.param AS BIGINT) AS param,
      CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      CAST(coalesce(h.n_hits, 0) * 1000000 // {_NQ * _K} AS BIGINT)
        AS recall_ppm
    FROM dom LEFT JOIN hits h
      ON h.tier = dom.tier AND h.param = dom.param
    ORDER BY dom.tier, dom.param
    """


_DOT_RAW = _DOT_LIST.format(a="c.e", b="q.e")

# (applicationId, sf) -> (persisted corpus feature frame, ranked-cells
# expr).  Keyed on the session's applicationId (never reused by a new
# session, unlike id(spark)) so repeated invocations in one session
# (warm iterations, the x1000 probe) reuse ONE persisted frame
# instead of stacking a new persist per call and leaning on
# block-LRU eviction (advisor r8 note).  The frame is deterministic
# for a given (session, sf): centroids are the 16 smallest vec_ids'
# unit vectors and the hyperplanes are seed-42 literals.  A process
# runs one SparkContext at a time, so an entry under another
# applicationId belongs to a stopped session and is dropped.
_RECALL_FEAT_CACHE: dict[tuple[str, str], tuple[DataFrame, str]] = {}


def _recall_feat(spark: SparkSession, sf: str) -> tuple[DataFrame, str]:
    from ..operators.similarity import rp_signature, with_norm

    app = spark.sparkContext.applicationId
    for stale in [k for k in _RECALL_FEAT_CACHE if k[0] != app]:
        del _RECALL_FEAT_CACHE[stale]
    key = (app, sf)
    hit = _RECALL_FEAT_CACHE.get(key)
    if hit is not None:
        return hit
    emb = t(spark, sf, "embeddings")
    nn = (
        with_norm(emb, "embedding")
        .filter(F.col("norm") > 0)
        .select(
            "vec_id",
            F.col("__v").alias("e"),
            F.col("norm").alias("nrm"),
            F.expr("transform(__v, x -> x / norm)").alias("u"),
        )
    )
    cents = [
        r.u for r in nn.orderBy("vec_id").limit(_NLIST).select("u").collect()
    ]
    dots = ", ".join(
        "named_struct('rdot', round(aggregate(zip_with(u, array("
        + ", ".join(repr(x) + "D" for x in c)
        + f"), (x, y) -> x * y), 0D, (acc, v) -> acc + v), 9), 'ni', {-i})"
        for i, c in enumerate(cents)
    )
    # lexicographic array_max picks (max rdot, max -ci) = ties to the
    # SMALLEST cell index — the twin's (rdot DESC, ci ASC) order
    ranked_cells = f"reverse(array_sort(array({dots})))"
    feat = (
        rp_signature(nn, "e", 64, 16, 42, out_col="bucket16")
        .select(
            "vec_id",
            "e",
            "nrm",
            "u",
            "bucket16",
            F.expr(f"-element_at({ranked_cells}, 1).ni").alias("cell"),
        )
        .persist()
    )
    _RECALL_FEAT_CACHE[key] = (feat, ranked_cells)
    return feat, ranked_cells


@_q("sim_ann_recall_monitor", _recall_sql())
def sim_ann_recall_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """Per-tier/param ANN recall vs exact cosine on the deterministic
    8-query slice (vec_id < 8), k=10: LSH at 8/12/16 hyperplanes
    (hamming-1 multiprobe, the production rp_lsh_topk path) and IVF
    at nprobe 1/2/4 over 16 init-only cells — emitted as a
    (tier, param, n_hits, recall_ppm) table.  This is the guardrail
    a corpus-scale deployment runs per crawl to pick band counts /
    probe widths: recall decays as buckets shrink (more planes) and
    grows with probe width, and the monitor makes the trade-off a
    TABLE instead of folklore.

    The exact leg reuses ``cosine_topk`` (the ≤10-query broadcast
    contract).  LSH buckets come from the seeded literal hyperplanes
    — numpy fills row-major, so the 8- and 12-plane tiers are bit
    prefixes of the 16-plane signature and the DuckDB twin
    reproduces every bucket from one plane set.  The IVF tier uses
    init-only centroids (unit vectors of the 16 smallest vec_ids —
    deterministic and SQL-expressible; Lloyd iterations would put
    data-dependent floats in the twin).  Cell assignment rounds the
    centroid dot to 1e-9 before the argmax so both engines rank the
    same values (absorbs fold-order FP noise); the per-neighbor
    cosine ranking itself is the established sim_cosine_topk
    convention.

    Scale shape: every leg is a bounded bucket/cell equi-join (the
    8-query side broadcasts; no cross product anywhere); the recall
    join is |approx|≈6·80 rows against |exact|=80.  The corpus-side
    features — the 16-plane sign signature and the IVF cell, each a
    16-dot interpreted-HOF pass over every vector — are computed
    ONCE into a persisted frame all six legs join against (first cut
    recomputed them per leg per run: 6 legs × 16 dots × 2M vectors
    ground the x1000 probe past 25 minutes; one cached pass + six
    joins is the monitor's honest cost).  The persisted frame is
    keyed per (applicationId, sf) in ``_RECALL_FEAT_CACHE`` so
    repeated invocations reuse it instead of stacking persists."""
    from ..operators.similarity import _DOT, cosine_topk

    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < _NQ)
    exact = cosine_topk(fanout(emb), queries, k=_K).select(
        "query_id", "nbr_id"
    )

    # ---- shared corpus features: 16-plane bucket + init-only IVF
    # cell (centroids = unit vectors of the 16 smallest vec_ids —
    # bounded 16×64 driver state, the ivf.py centroid-collect class)
    feat, ranked_cells = _recall_feat(spark, sf)

    legs = []
    for n_planes in _LSH_TIERS:
        m = (1 << n_planes) - 1
        q = feat.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("__qv"),
            F.col("nrm").alias("__qn"),
            # the n-plane bucket is the low-bit prefix of bucket16
            F.explode(
                F.expr(
                    f"array_union(array(bucket16 & {m}),"
                    f" transform(sequence(0, {n_planes} - 1),"
                    f" i -> (bucket16 & {m}) ^ shiftleft(1L, i)))"
                )
            ).alias("probe"),
        )
        joined = (
            feat.withColumn("probe", F.expr(f"bucket16 & {m}"))
            .join(F.broadcast(q), "probe")
            .filter(F.col("query_id") != F.col("vec_id"))
        )
        scored = joined.withColumn(
            "cosine",
            F.expr(_DOT.format(a="e", b="__qv"))
            / (F.col("nrm") * F.col("__qn")),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        legs.append(
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _K)
            .select(
                F.lit("lsh").alias("tier"),
                F.lit(n_planes).cast("bigint").alias("param"),
                "query_id",
                F.col("vec_id").alias("nbr_id"),
            )
        )

    q_probe = feat.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("__qv"),
        F.col("nrm").alias("__qn"),
        F.posexplode(
            F.expr(f"transform({ranked_cells}, s -> -s.ni)")
        ).alias("pr0", "cell"),
    )
    for nprobe in _IVF_TIERS:
        joined = feat.join(
            F.broadcast(q_probe.filter(F.col("pr0") < nprobe)), "cell"
        ).filter(F.col("query_id") != F.col("vec_id"))
        scored = joined.withColumn(
            "cosine",
            F.expr(_DOT.format(a="e", b="__qv"))
            / (F.col("nrm") * F.col("__qn")),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        legs.append(
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _K)
            .select(
                F.lit("ivf").alias("tier"),
                F.lit(nprobe).cast("bigint").alias("param"),
                "query_id",
                F.col("vec_id").alias("nbr_id"),
            )
        )

    approx = legs[0]
    for leg in legs[1:]:
        approx = approx.unionByName(leg)
    hits = (
        approx.join(exact, ["query_id", "nbr_id"])
        .groupBy("tier", "param")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    # a tier whose recall collapses to ZERO must still show a row —
    # that is the exact situation the monitor exists to surface
    dom = spark.createDataFrame(
        [("lsh", p) for p in _LSH_TIERS]
        + [("ivf", p) for p in _IVF_TIERS],
        "tier STRING, param BIGINT",
    )
    return (
        dom.join(F.broadcast(hits), ["tier", "param"], "left")
        .select(
            "tier",
            "param",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(
                f"CAST(coalesce(n_hits, 0) * 1000000 div {_NQ * _K}"
                " AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("tier", "param")
    )


# the deterministic crawl-cycle split over embeddings (the
# dedup_band_index_merge discipline):
#   initial corpus  vec_id % 10 ∈ {1..8}
#   added vectors   vec_id % 10 = 9
#   retired ids     initial ∩ (vec_id % 7 = 3)
#   queries         vec_id % 10 = 0  (served from the stored index)
# live corpus = (initial \ retired) ∪ added — the brute-force twin's
# a-side.  nprobe = nlist probes every cell, so the stored-index probe
# is provably exact and shares the brute-force oracle (the
# sim_ivf_exact discipline) while exercising build + merge + parquet
# round-trip + stored-probe end-to-end.
_IVFIDX_SQL = f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
          x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT b.vec_id AS query_id, a.vec_id AS nbr_id,
      round({_DOT_D} / (a.nrm * b.nrm), 6) AS cosine,
      CAST(row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) AS INT)
        AS rank
    FROM n a, n b
    WHERE b.vec_id % 10 = 0
      AND a.vec_id % 10 BETWEEN 1 AND 9
      AND NOT (a.vec_id % 10 BETWEEN 1 AND 8 AND a.vec_id % 7 = 3)
    QUALIFY rank <= 5
"""


@_q("sim_ivf_index_merge", _IVFIDX_SQL)
def sim_ivf_index_merge(spark: SparkSession, sf: str) -> DataFrame:
    """One full crawl cycle of PERSISTED IVF inverted-file maintenance
    (operators/ann_index.py) — the ANN analogue of
    dedup_band_index_merge: train centroids on the initial corpus
    (deterministic distributed Lloyd), build its inverted file, merge
    one cycle (retire vec_id%7=3, assign the vec_id%10=9 adds under
    the SAME stored centroids — the production retrain-rarely shape),
    write index + centroids to parquet (PARTITIONED BY cell, so
    probes prune unprobed cells at the file level), read both back,
    and serve the vec_id%10=0 queries top-5 cosine from the STORED
    index in exact mode (nprobe = nlist = 8).

    Oracle = brute-force cosine top-5 over the live corpus (the
    sim_ivf_exact discipline — exact mode probes every cell, so any
    merge error — un-retired vectors surfacing as neighbors, missed
    adds losing one, assignment drift, parquet/partition-column
    corruption — changes some query's top-5 and breaks the hash).
    Stored-vs-inline index EXACT row equality is additionally pinned
    by pytest (tests/test_operators.py).

    Scale shape: the inverted file is one row per live vector,
    written once per crawl; the merge is one anti-join + one Arrow
    GEMM assignment pass over |adds|; probe cost is
    |Q|·nprobe·(corpus/nlist) candidates through a broadcast cell
    join — at production nprobe < nlist, with file-level cell
    pruning from the partition layout.  Centroid state is k × dim
    driver-bounded (the documented ivf.py class)."""
    from ..operators.ann_index import (
        build_ivf_index,
        ivf_probe_index,
        merge_ivf_index,
        read_ivf_index,
        write_ivf_index,
    )
    from ..operators.ivf import kmeans_centroids

    emb = t(spark, sf, "embeddings")
    initial = emb.where("vec_id % 10 BETWEEN 1 AND 8")
    adds = emb.where("vec_id % 10 = 9")
    retired = initial.where("vec_id % 7 = 3").select("vec_id")
    queries = emb.where("vec_id % 10 = 0")

    cents = kmeans_centroids(initial, "embedding", k=8, iters=2)
    idx = build_ivf_index(initial, cents)
    merged = merge_ivf_index(
        idx, added=adds, retired=retired, centroids=cents
    )
    path = _warehouse(sf, "ivf_index")
    write_ivf_index(merged, cents, path)
    stored, stored_cents = read_ivf_index(spark, path)
    return ivf_probe_index(stored, stored_cents, queries, k=5, nprobe=8)
