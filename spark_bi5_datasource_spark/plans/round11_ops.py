"""Round-11 catalog additions — the two highest-value absent LLM-
pipeline ops (r6 verdict ask #6):

* SemDeDup-style semantic dedup (operators/semdedup.py) — k-means
  cells + intra-cell cosine pruning with a deterministic lowest-id
  representative, hash-gated in the provably-exact single-cell mode
  (every pair intra-cell ⇒ output == the all-pairs answer, the same
  exact-at-a-point trick as sim_ivf_exact / sim_lsh_exact); the
  approximate production mode is pinned by a recall pytest;
* cross-table contamination matrix — text_decontaminate generalized
  from one (train, bench) split to the full per-source-pair 3-gram
  overlap report: the train/eval leakage audit a corpus runs before
  any split is trusted.  The entry calls
  operators/contamination.contamination_matrix with one mask word.

Oracle policy unchanged: counts BIGINT, derived floats in half-up
integer ppm, deterministic total orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import t

# ------------------------------------------- SemDeDup semantic dedup

_DOT_D = (
    "list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))"
)

_SEMDEDUP_SQL = f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
          x -> x * x))) AS nrm
      FROM embeddings
    ), nn AS (
      SELECT * FROM n WHERE nrm > 0
    ), hits AS (
      SELECT b.vec_id AS vec_id,
        CAST(count(*) AS BIGINT) AS n_dups_lower,
        CAST(floor(max({_DOT_D} / (a.nrm * b.nrm)) * 1000000 + 0.5)
          AS BIGINT) AS max_cos_ppm
      FROM nn a JOIN nn b ON a.vec_id < b.vec_id
      WHERE {_DOT_D} / (a.nrm * b.nrm) >= 0.3
      GROUP BY b.vec_id
    )
    SELECT nn.vec_id, CAST(0 AS INTEGER) AS cell,
      CAST(COALESCE(h.n_dups_lower, 0) AS BIGINT) AS n_dups_lower,
      h.max_cos_ppm,
      h.max_cos_ppm IS NULL AS is_kept
    FROM nn LEFT JOIN hits h ON h.vec_id = nn.vec_id
    ORDER BY nn.vec_id
"""


@_q("dedup_semantic_semdedup", _SEMDEDUP_SQL)
def dedup_semantic_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup over the embeddings table in EXACT single-cell mode
    (nlist=1 ⇒ the intra-cell pair set is the all-pairs set, so the
    k-means/cell/pair/keep plumbing is hash-checked against the
    brute-force oracle); τ=0.3 exercises a non-trivial duplicate set
    on the fixture distribution (990 of ~125k pairs at sf0.01).  The
    production mode (nlist·nprobe tuned to the corpus) is
    dedup_semantic_cells territory — pinned by the recall pytest in
    tests/test_semdedup.py, same split as sim_ivf_topk/sim_ivf_exact.

    Scale shape: one corpus shuffle by cell, per-cell bounded pair
    fan-out, one aggregation to per-vector verdicts — no all-pairs
    join at production nlist; the exact mode's single cell is the
    fixture-scale correctness pin, not the deployment shape."""
    from ..operators.semdedup import semantic_dedup

    emb = t(spark, sf, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.3, nlist=1
    ).orderBy("vec_id")


# -------------------------------------- cross-source contamination

_CONTAM_SQL = """
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT source,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT DISTINCT source, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), sz AS (
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


# ---------------------------------------- winnowing fingerprints

def _winnow_hash_sql(col: str, i: str, k: int = 8) -> str:
    """Base-131 polynomial over codepoints mod 1e9+7, folded with a
    mod after every step — textually identical fold order to the
    NumPy kernel (operators/winnowing.py), so the values match
    bit-for-bit."""
    h = f"CAST(ascii(substr({col}, {i}, 1)) AS BIGINT) % 1000000007"
    for j in range(1, k):
        h = f"(({h}) * 131 + ascii(substr({col}, {i} + {j}, 1))) % 1000000007"
    return h


_WINNOW_SQL = f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS m FROM documents
    ), g AS (
      SELECT doc_id, i, {_winnow_hash_sql("text", "i")} AS h
      FROM d, UNNEST(generate_series(1, m - 7)) AS u(i)
      WHERE m >= 8
    ), perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM g GROUP BY doc_id
    ), wins AS (
      SELECT doc_id, i,
        min(h) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
        count(*) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n
      FROM g
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE n = 4
      UNION
      SELECT g.doc_id, min(g.h) AS fp
      FROM g JOIN perdoc p USING (doc_id)
      WHERE p.n_grams < 4 GROUP BY g.doc_id
    ), agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        CAST(bit_xor(fp) AS BIGINT) AS fp_xor
      FROM fps GROUP BY doc_id
    )
    SELECT d.doc_id,
      CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(COALESCE(a.n_fp, 0) AS BIGINT) AS n_fp,
      a.fp_xor
    FROM d
    LEFT JOIN perdoc p ON p.doc_id = d.doc_id
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    ORDER BY d.doc_id
"""


@_q("dedup_winnowing_fingerprints", _WINNOW_SQL)
def dedup_winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (k=8 char-grams, window
    w=4): per document, the count of distinct winnowed fingerprints
    plus their XOR set-digest — the digest pins the exact fingerprint
    SET against the brute-force SQL twin without materializing a
    per-fingerprint fan-out row stream.  Winnowing guarantees any
    shared substring of length >= w + k - 1 = 11 chars surfaces as a
    shared fingerprint while keeping ~2/(w+1) of the gram hashes —
    the character-level clone-detection complement of the
    token-shingle dedup family (operators/dedup.py).

    Scale shape: a pure per-document NumPy rolling-hash kernel behind
    the row-group fan-out gate (operators/winnowing.py) — no shuffle
    until the driver-compare sort; the final orderBy exists only for
    the deterministic driver compare.  The hash repartition under it
    is load-bearing (r13): a global sort's range-partitioner SAMPLES
    its child to pick bounds, re-executing the child stage — with the
    kernel directly below, every document was fingerprinted twice
    (measured 0.37 s -> 1.00 s at sf0.1).  A cheap exchange of the
    tiny stats rows turns the kernel into a shuffle map stage whose
    output the sampling pass reuses, so the kernel runs once."""
    from ..operators.winnowing import winnow_fingerprint_stats

    docs = t(spark, sf, "documents")
    stats = winnow_fingerprint_stats(docs, "doc_id", "text")
    return stats.repartition("doc_id").orderBy("doc_id")


# ------------------------------------- referential-integrity audit

_REFINT_SQL = """
    WITH checks AS (
      SELECT 'lineitem.l_orderkey->orders' AS fk,
        (SELECT count(*) FROM lineitem) AS n_child,
        (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
        (SELECT count(*) FROM lineitem),
        (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM part p
                           WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
        (SELECT count(*) FROM lineitem),
        (SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM supplier s
                           WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 'orders.o_custkey->customer',
        (SELECT count(*) FROM orders),
        (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey))
    )
    SELECT fk, CAST(n_child AS BIGINT) AS n_child,
      CAST(n_orphans AS BIGINT) AS n_orphans,
      CAST(n_orphans * 1000000 // n_child AS BIGINT) AS orphan_ppm
    FROM checks ORDER BY fk
"""


@_q("dq_referential_integrity", _REFINT_SQL)
def dq_referential_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Foreign-key orphan audit across the four star-schema edges:
    per edge, the child row count, the count of non-null child keys
    with no parent (left-anti join), and the orphan rate in exact
    ppm — the ingestion gate every warehouse load runs before a
    snapshot is trusted (intact TPC-H fixtures audit to zero, which
    is the assertion).

    Scale shape: each edge is one anti-join keyed on the FK — Spark
    picks broadcast for dim-sized parents (part/supplier/customer)
    and a shuffled hash anti-join for orders; the per-edge result is
    a 1-row scalar aggregate pair (documented plan-audit bound) and
    the union is 4 rows."""
    edges = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
    ]
    frames = []
    for fk, child, ck, parent, pk in edges:
        c = t(spark, sf, child)
        p = t(spark, sf, parent).select(F.col(pk).alias(ck))
        n_child = c.agg(F.count("*").cast("bigint").alias("n_child"))
        orphans = (
            c.select(ck)
            .where(F.col(ck).isNotNull())
            .join(p, ck, "left_anti")
            .agg(F.count("*").cast("bigint").alias("n_orphans"))
        )
        frames.append(
            n_child.crossJoin(orphans).select(
                F.lit(fk).alias("fk"), "n_child", "n_orphans"
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out.select(
        "fk", "n_child", "n_orphans",
        F.expr("CAST(n_orphans * 1000000 div n_child AS BIGINT)").alias(
            "orphan_ppm"
        ),
    ).orderBy("fk")


# -------------------------------------------- per-column null audit

_NULLPROF_SQL = """
    WITH p AS (
      SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        count(*) - count(doc_id) AS n_null,
        count(DISTINCT doc_id) AS n_distinct FROM documents
      UNION ALL
      SELECT 'text', count(*), count(*) - count(text),
        count(DISTINCT text) FROM documents
      UNION ALL
      SELECT 'lang', count(*), count(*) - count(lang),
        count(DISTINCT lang) FROM documents
      UNION ALL
      SELECT 'source', count(*), count(*) - count(source),
        count(DISTINCT source) FROM documents
      UNION ALL
      SELECT 'n_chars', count(*), count(*) - count(n_chars),
        count(DISTINCT n_chars) FROM documents
    )
    SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
      CAST(n_null AS BIGINT) AS n_null,
      CAST(n_distinct AS BIGINT) AS n_distinct,
      CAST(n_null * 1000000 // n_rows AS BIGINT) AS null_ppm
    FROM p ORDER BY col_name
"""


@_q("dq_null_profile", _NULLPROF_SQL)
def dq_null_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column completeness/cardinality profile of the documents
    table: row count, null count, exact distinct count, null rate in
    ppm — one row per column, the schema-drift companion to
    dq_expectations (which checks value RANGES; this checks SHAPE).

    Scale shape: ONE aggregate pass computes every column's metrics —
    Spark plans the multi-column distinct via Expand (x|cols| row
    multiplication feeding partial aggregates, here x5), which
    map-side-combines before the single shuffle; the stack() unpivot
    runs on the 1-row result."""
    d = t(spark, sf, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(
            (F.count("*") - F.count(c)).alias(f"null_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    one = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', null_{c}, dist_{c}" for c in cols
    )
    return (
        one.select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack}) AS (col_name, n_null,"
                " n_distinct)"
            ),
        )
        .select(
            "col_name",
            F.col("n_rows").cast("bigint"),
            F.col("n_null").cast("bigint"),
            F.col("n_distinct").cast("bigint"),
            F.expr("CAST(n_null * 1000000 div n_rows AS BIGINT)").alias(
                "null_ppm"
            ),
        )
        .orderBy("col_name")
    )


# --------------------------------------- association-rule lift

_LIFT_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM li
    ), deg AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
      FROM li GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
        CAST(count(*) AS BIGINT) AS n_uv
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING count(*) >= 2
    )
    SELECT u, v, n_uv, du.n_item AS n_u, dv.n_item AS n_v,
      CAST((n_uv * 1000000 // du.n_item) * n.n_orders // dv.n_item
        AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN deg du ON du.l_partkey = u
    JOIN deg dv ON dv.l_partkey = v
    CROSS JOIN n
    ORDER BY lift_ppm DESC, u, v
    LIMIT 500
"""


@_q("basket_association_lift", _LIFT_SQL)
def basket_association_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association lift for co-purchased part pairs
    with support >= 2 co-orders: lift = P(u,v) / (P(u)·P(v)) in
    integer ppm, evaluated with a DEFINED two-step floor —
    ``(n_uv · 1e6 div n_u) · N div n_v`` — so the value is exact and
    overflow-free at any scale (each intermediate stays under
    n_uv·1e6 <= 1.5e14; a single-expression cross-multiply would
    overflow BIGINT at x1000 order counts).  Top 500 by (lift, u, v)
    — a deterministic total order.

    Scale shape: pair generation is the basket pattern
    (_copurchase_pairs — one collect_set groupBy, no self-join); the
    per-item support frame keys on part (broadcast at dim scale) and
    the corpus total is a 1-row broadcast."""
    from ..operators.pairs import maybe_prefilter_min2, unfold_sorted_pairs

    li = t(spark, sf, "lineitem")
    # r13 shared exchange: the support frame (distinct pairs) and the
    # basket frame (collect_set per order) each shuffled the full
    # lineitem projection separately — hash(ok, pk) and hash(ok).  One
    # explicit repartition on l_orderkey satisfies BOTH downstream
    # clusterings (HashPartitioning([ok]) ⊆ ClusteredDistribution for
    # the (ok, pk) distinct and the ok groupBy), so ReuseExchange
    # runs the fact shuffle once.  sf0.1: 1.44 → 1.25 s same-window,
    # result-equal; at scale it halves the fact bytes shuffled.
    ex = li.select("l_orderkey", "l_partkey").repartition("l_orderkey")
    dli = ex.distinct()
    n = dli.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    deg = dli.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_item")
    )
    baskets = (
        ex.groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey))").alias("parts"))
        .where(F.expr("size(parts) >= 2"))
    )
    # r14: the (u, v) exchange is the query's dominant scale cost
    # (3.6 GiB at x100) and 99.7% of distinct pairs are singletons the
    # HAVING discards post-exchange; above the size gate a hash-count
    # + broadcast-semi pre-filter drops them BEFORE the exchange
    # (guide §8 / §2.3; x100 interleaved A/B 58.5/26.5 → 35.7/20.7 s,
    # result-equal).  The exact
    # ``n_uv >= 2`` below stays: it is what makes the filter lossless.
    pairs = (
        maybe_prefilter_min2(unfold_sorted_pairs(baskets, "parts"), li)
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("n_uv"))
        .where("n_uv >= 2")
    )
    du = deg.select(F.col("l_partkey").alias("u"), F.col("n_item").alias("n_u"))
    dv = deg.select(F.col("l_partkey").alias("v"), F.col("n_item").alias("n_v"))
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .crossJoin(F.broadcast(n))
        .select(
            "u", "v", "n_uv", "n_u", "n_v",
            F.expr(
                "CAST((n_uv * 1000000 div n_u) * n_orders div n_v"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "u", "v")
        .limit(500)
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
    from .round4_ops import _copurchase_pairs

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


# ------------------------------------------------- Aroon indicator

_AROON_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo
      FROM base GROUP BY event_type, day
    ), rn AS (
      SELECT event_type, day, hi, lo,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
          AS BIGINT) AS r
      FROM px
    ), wm AS (
      SELECT event_type, day, r,
        CAST(count(*) OVER w AS BIGINT) AS n,
        max(hi * 100000 + r) OVER w AS pmax,
        min(lo * 100000 + (99999 - r)) OVER w AS pmin
      FROM rn
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
      CAST((25 - (r - ((pmax % 100000) + 100000) % 100000)) * 4
        AS BIGINT) AS aroon_up,
      CAST((25 - (r - (99999 - ((pmin % 100000) + 100000) % 100000))) * 4
        AS BIGINT) AS aroon_down,
      CAST(((25 - (r - ((pmax % 100000) + 100000) % 100000))
          - (25 - (r - (99999 - ((pmin % 100000) + 100000) % 100000)))) * 4
        AS BIGINT) AS aroon_osc
    FROM wm WHERE n = 25
    ORDER BY event_type, day
"""


@_q("window_aroon", _AROON_SQL)
def window_aroon(spark: SparkSession, sf: str) -> DataFrame:
    """25-day Aroon indicator per event-type price series:
    aroon_up = (25 - days_since_25d_high) · 4, aroon_down likewise on
    the low, oscillator = up - down — all exact integers.  The argmax
    day inside the rolling window comes from PACKED BIGINT extrema —
    ``max(hi·1e5 + rownum)`` (ties resolve to the most recent bar)
    and ``min(lo·1e5 + (99999 - rownum))`` for the argmin — instead
    of an arg_max window (which Spark lacks over frames); the
    double-mod ``((x % 1e5) + 1e5) % 1e5`` unpack is sign-safe and
    engine-identical.  rownum < 1e5 bounds the packing (calendar days
    — ~2.4k even at x1000).

    Scale shape: the indicator family's standard two stages — one
    map-side-combinable per-(type, day) extrema pass over the fact
    scan, then type-partitioned windows over the tiny bar frame
    (daily_ohlc_bars supplies hi/lo; close is unused here)."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf).select("event_type", "day", "hi", "lo")
    wt = Window.partitionBy("event_type").orderBy("day")
    w25 = wt.rowsBetween(-24, 0)
    wm = px.select(
        "event_type",
        "day",
        F.row_number().over(wt).cast("bigint").alias("r"),
        "hi",
        "lo",
    ).select(
        "event_type",
        "day",
        "r",
        F.count("*").over(w25).cast("bigint").alias("n"),
        F.max(F.expr("hi * 100000 + r")).over(w25).alias("pmax"),
        F.min(F.expr("lo * 100000 + (99999 - r)")).over(w25).alias("pmin"),
    )
    up = "(25 - (r - ((pmax % 100000) + 100000) % 100000))"
    dn = "(25 - (r - (99999 - ((pmin % 100000) + 100000) % 100000)))"
    return (
        wm.where("n = 25")
        .select(
            "event_type",
            "day",
            F.expr(f"CAST({up} * 4 AS BIGINT)").alias("aroon_up"),
            F.expr(f"CAST({dn} * 4 AS BIGINT)").alias("aroon_down"),
            F.expr(f"CAST(({up} - {dn}) * 4 AS BIGINT)").alias("aroon_osc"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------- on-balance volume

_OBV_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl,
        CAST(count(*) AS BIGINT) AS vol
      FROM base GROUP BY event_type, day
    ), ch AS (
      SELECT event_type, day, cl, vol,
        cl - lag(cl) OVER (PARTITION BY event_type ORDER BY day) AS d
      FROM px
    )
    SELECT event_type, day, cl AS close_cents, vol,
      CAST(sum(CASE WHEN d > 0 THEN vol WHEN d < 0 THEN -vol
                    ELSE 0 END)
        OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS BIGINT) AS obv
    FROM ch ORDER BY event_type, day
"""


@_q("window_obv_daily", _OBV_SQL)
def window_obv_daily(spark: SparkSession, sf: str) -> DataFrame:
    """On-balance volume per event-type series: daily volume (tick
    count) added on close-up days, subtracted on close-down days,
    accumulated — the classic volume-confirmation indicator, exact
    integers end to end (the sign comes from a CASE, not ``sign()``,
    which returns DOUBLE in both engines).  The first day of each
    series contributes 0 (NULL diff).

    Scale shape: one per-(type, day) close+count aggregate over the
    fact scan (volume rides the same pass as the close — no second
    scan), then a type-partitioned running sum over the bar frame."""
    ev = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL AND value IS NOT NULL")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            F.expr(_HA.format(x="value", m="100")).alias("cents"),
        )
    )
    px = ev.groupBy("event_type", "day").agg(
        F.expr("max_by(cents, ts)").cast("bigint").alias("cl"),
        F.count("*").cast("bigint").alias("vol"),
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    ch = px.select(
        "event_type", "day", "cl", "vol",
        (F.col("cl") - F.lag("cl").over(wt)).alias("d"),
    )
    return ch.select(
        "event_type",
        "day",
        F.col("cl").alias("close_cents"),
        "vol",
        F.sum(
            F.expr("CASE WHEN d > 0 THEN vol WHEN d < 0 THEN -vol ELSE 0 END")
        )
        .over(wt.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("obv"),
    ).orderBy("event_type", "day")


# ------------------------------------------- hourly burst detection

_BURST_SQL = """
    WITH hr AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
        CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, hour_ts
    ), wm AS (
      SELECT event_type, hour_ts, c,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(c) OVER w AS BIGINT) AS s,
        CAST(sum(c * c) OVER w AS BIGINT) AS s2
      FROM hr
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_ts, c,
      CAST(s * 1000 // 24 AS BIGINT) AS mean_milli,
      (24 * c - s) * (24 * c - s) > 9 * (24 * s2 - s * s)
        AND 24 * c > s AS is_burst
    FROM wm WHERE n = 24
    ORDER BY event_type, hour_ts
"""


@_q("events_burst_hours", _BURST_SQL)
def events_burst_hours(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly burst detection per event type: an hour is a burst when
    its count exceeds the trailing-24-observed-hours mean by more
    than 3 sigma AND is above the mean — evaluated entirely in
    integer space by cross-multiplying the z-test,
    (24c - s)^2 > 9·(24·s2 - s^2), so no engine float variance ever
    touches the flag boundary.  The trailing frame EXCLUDES the
    current hour (24 PRECEDING .. 1 PRECEDING): a burst must not
    inflate its own baseline.

    Scale shape: one map-side-combinable (type, hour) count over the
    fact scan, then type-partitioned windows over ~|types|·|hours|
    rows."""
    hr = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL")
        .groupBy(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour_ts"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-24, -1)
    )
    wm = hr.select(
        "event_type", "hour_ts", "c",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("c").over(w).cast("bigint").alias("s"),
        F.sum(F.expr("c * c")).over(w).cast("bigint").alias("s2"),
    )
    return (
        wm.where("n = 24")
        .select(
            "event_type",
            "hour_ts",
            "c",
            F.expr("CAST(s * 1000 div 24 AS BIGINT)").alias("mean_milli"),
            F.expr(
                "(24 * c - s) * (24 * c - s) > 9 * (24 * s2 - s * s)"
                " AND 24 * c > s"
            ).alias("is_burst"),
        )
        .orderBy("event_type", "hour_ts")
    )


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


# -------------------------------------- quality prune curve

_PRUNE_SQL = """
    WITH f AS (
      SELECT doc_id, n_chars,
        2 * (1000000 * len(list_filter(string_split_regex(lower(text),
              '[^a-z]+'), x -> x <> '' AND x IN ('the','a','of','and',
              'to','in','is','it','for','on')))
            // greatest(len(list_filter(string_split_regex(lower(text),
              '[^a-z]+'), x -> x <> '')), 1))
        + (1000000 * least(len(list_filter(string_split_regex(lower(text),
              '[^a-z]+'), x -> x <> '')), 400) // 400)
        - 3 * (1000000 * length(regexp_replace(text, '[^.!?,;]', '', 'g'))
            // greatest(length(text), 1)) AS logit
      FROM documents
    ), ranked AS (
      SELECT n_chars, logit,
        ntile(10) OVER (ORDER BY logit DESC, doc_id) AS decile
      FROM f
    ), per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars
      FROM ranked GROUP BY decile
    ), tot AS (
      SELECT CAST(sum(chars) AS BIGINT) AS total_chars FROM per
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, chars,
      CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_docs,
      CAST(sum(chars) OVER (ORDER BY decile) AS BIGINT) AS cum_chars,
      CAST(sum(chars) OVER (ORDER BY decile) * 1000000 // total_chars
        AS BIGINT) AS cum_chars_ppm
    FROM per CROSS JOIN tot ORDER BY decile
"""


@_q("corpus_quality_prune_curve", _PRUNE_SQL)
def corpus_quality_prune_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Prune curve over the deterministic quality logit
    (text_quality_logit's exact integer score): documents ranked best
    -> worst, cut into deciles (ntile over the total order
    (logit DESC, doc_id)), reporting docs/chars per decile and the
    cumulative corpus fraction retained at each cut in exact ppm —
    the "how much do we lose at threshold X" table a corpus curation
    run reads before fixing its filter.

    Scale shape: the oracle's literal ``ntile(10) OVER (ORDER BY …)``
    would plan an Exchange SinglePartition over the whole corpus (5M
    rows through one task at x1000 — measured 36.6 s); instead the
    decile comes from operators.ranking.with_global_rank (range
    partition + parallel windows + bounded offsets) and ``ntile_expr``
    reproduces SQL NTILE's bucket arithmetic from the exact global
    rank — hash-identical to the ntile oracle, no single-partition
    exchange (the events_rfm pattern).  Then a 10-row rollup."""
    from ..operators.ranking import ntile_expr, with_global_rank

    stops = "('the','a','of','and','to','in','is','it','for','on')"
    tks = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"
    f = t(spark, sf, "documents").select(
        "doc_id",
        "n_chars",
        (
            F.lit(2)
            * F.expr(
                f"1000000 * size(filter({tks}, x -> x IN {stops}))"
                f" div greatest(size({tks}), 1)"
            )
            + F.expr(f"1000000 * least(size({tks}), 400) div 400")
            - F.lit(3)
            * F.expr(
                "1000000 * length(regexp_replace(text, '[^.!?,;]', ''))"
                " div greatest(length(text), 1)"
            )
        ).alias("logit"),
    ).withColumn("neg_logit", -F.col("logit"))
    # The select is filter-free, so |f| == |documents|: take the row
    # count from the raw table (parquet metadata count, no logit
    # computation, no persist to leak — with_global_rank caches its
    # own range-shuffled frame for the two passes that need it).
    n = t(spark, sf, "documents").count()  # bounded: one long
    ranked = with_global_rank(f, ["neg_logit", "doc_id"], "rk").select(
        "n_chars", ntile_expr("rk", n, 10).alias("decile")
    )
    per = ranked.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = per.agg(F.sum("chars").cast("bigint").alias("total_chars"))
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("bigint"),
            "n_docs",
            "chars",
            F.sum("n_docs").over(wc).cast("bigint").alias("cum_docs"),
            F.sum("chars").over(wc).cast("bigint").alias("cum_chars"),
            F.expr(
                "CAST(sum(chars) OVER (ORDER BY decile ROWS BETWEEN"
                " UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000"
                " div total_chars AS BIGINT)"
            ).alias("cum_chars_ppm"),
        )
        .orderBy("decile")
    )


# ------------------------------------------------ Ichimoku cloud

_ICHI_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), mids AS (
      SELECT event_type, day, cl,
        CAST(count(*) OVER w16 AS BIGINT) AS n16,
        (max(hi) OVER w4 + min(lo) OVER w4) // 2 AS tenkan,
        (max(hi) OVER w8 + min(lo) OVER w8) // 2 AS kijun,
        (max(hi) OVER w16 + min(lo) OVER w16) // 2 AS mid16
      FROM px
      WINDOW
        w4 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        w8 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
        w16 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
    ), sh AS (
      SELECT event_type, day, cl, n16, tenkan, kijun,
        lag((tenkan + kijun) // 2, 8) OVER wt AS senkou_a,
        lag(mid16, 8) OVER wt AS senkou_b,
        lag(n16, 8) OVER wt AS lag_n16,
        lead(cl, 8) OVER wt AS chikou
      FROM mids
      WINDOW wt AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, CAST(cl AS BIGINT) AS close_cents,
      CAST(tenkan AS BIGINT) AS tenkan,
      CAST(kijun AS BIGINT) AS kijun,
      CAST(senkou_a AS BIGINT) AS senkou_a,
      CAST(senkou_b AS BIGINT) AS senkou_b,
      CAST(chikou AS BIGINT) AS chikou,
      cl > greatest(senkou_a, senkou_b) AS above_cloud
    FROM sh WHERE n16 = 16 AND lag_n16 = 16
    ORDER BY event_type, day
"""


@_q("window_ichimoku", _ICHI_SQL)
def window_ichimoku(spark: SparkSession, sf: str) -> DataFrame:
    """Ichimoku cloud per event-type series in exact cents, with the
    classic 1:2:4 window ratio scaled to the ~30-day fixture span:
    tenkan (4-day midpoint), kijun (8-day), senkou A/B (the cloud —
    displaced 8 days forward, so today's cloud is lag(8) of the
    midpoint series), chikou (close displaced 8 back = lead(8),
    NULL near the series tail by definition), and the above-cloud
    flag.  The production parameters are the textbook 9/26/52 with
    26-day displacement — same plan shape, different frame bounds.
    Midpoints are (max+min) div 2 on positive cents — floor and
    trunc agree.  Rows require BOTH a full 16-day window today and a
    full window at the displaced origin (lag_n16 = 16): no
    partially-warmed cloud ever flags a signal.

    Scale shape: the indicator-family standard — one per-(type, day)
    OHLC reduction (shared daily_ohlc_bars builder), then three
    frame windows + one lag/lead pass, all partitioned by event_type
    over the tiny bar series."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf)
    wt = Window.partitionBy("event_type").orderBy("day")
    w16 = wt.rowsBetween(-15, 0)
    mids = px.select(
        "event_type",
        "day",
        "cl",
        F.count("*").over(w16).cast("bigint").alias("n16"),
        F.expr("(%s + %s) div 2"
               % ("max(hi) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
                  "min(lo) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)")).alias("tenkan"),
        F.expr("(%s + %s) div 2"
               % ("max(hi) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)",
                  "min(lo) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)")).alias("kijun"),
        F.expr("(%s + %s) div 2"
               % ("max(hi) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)",
                  "min(lo) OVER (PARTITION BY event_type ORDER BY day"
                  " ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)")).alias("mid16"),
    )
    sh = mids.select(
        "event_type",
        "day",
        "cl",
        "n16",
        "tenkan",
        "kijun",
        F.lag(F.expr("(tenkan + kijun) div 2"), 8).over(wt).alias("senkou_a"),
        F.lag("mid16", 8).over(wt).alias("senkou_b"),
        F.lag("n16", 8).over(wt).alias("lag_n16"),
        F.lead("cl", 8).over(wt).alias("chikou"),
    )
    return (
        sh.where("n16 = 16 AND lag_n16 = 16")
        .select(
            "event_type",
            "day",
            F.col("cl").cast("bigint").alias("close_cents"),
            F.col("tenkan").cast("bigint"),
            F.col("kijun").cast("bigint"),
            F.col("senkou_a").cast("bigint"),
            F.col("senkou_b").cast("bigint"),
            F.col("chikou").cast("bigint"),
            F.expr("cl > greatest(senkou_a, senkou_b)").alias("above_cloud"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------- order/lineitem reconciliation

_RECON_SQL = """
    WITH lc AS (
      SELECT l_orderkey,
        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
          * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS actual_c
      FROM lineitem GROUP BY l_orderkey
    ), j AS (
      SELECT o.o_orderstatus,
        CAST(round(o.o_totalprice * 100) AS BIGINT) AS expected_c,
        lc.actual_c
      FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CASE WHEN abs(expected_c - actual_c) > 100
               THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
      CAST(sum(abs(expected_c - actual_c)) AS BIGINT) AS total_abs_diff_c,
      CAST(sum(CASE WHEN abs(expected_c - actual_c) > 100
               THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        AS mismatch_ppm
    FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@_q("dq_order_reconciliation", _RECON_SQL)
def dq_order_reconciliation(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table money reconciliation: per order, the header total
    vs the sum of line charges extprice·(1-disc)·(1+tax), both
    half-adjusted to exact integer cents PER ROW before any sum (the
    fastmoney discipline — the double product is computed identically
    by both engines, and once in cents the aggregation is exact), a
    mismatch flag at a 1-dollar tolerance, and per-status totals —
    the classic "does the header lie" audit on a denormalized feed.
    The synthetic fixture's headers are independent of its lines, so
    the audit REPORTS near-total mismatch — which is the point: the
    numbers are deterministic and the oracle pins them.

    Scale shape: one map-side-combinable per-order aggregate over
    lineitem, one equi-join to orders on the natural clustering key
    (exchange-free under the bucketed layout, the q21 shape), one
    |status|-row rollup."""
    li = t(spark, sf, "lineitem")
    lc = li.groupBy("l_orderkey").agg(
        F.sum(
            F.expr(
                _HA.format(
                    x="l_extendedprice * (1 - l_discount) * (1 + l_tax)",
                    m="100",
                )
            )
        )
        .cast("bigint")
        .alias("actual_c")
    )
    od = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr(_HA.format(x="o_totalprice", m="100")).alias("expected_c"),
    )
    j = od.join(lc, od.o_orderkey == lc.l_orderkey)
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.expr(
                    "CASE WHEN abs(expected_c - actual_c) > 100"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_mismatch"),
            F.sum(F.expr("abs(expected_c - actual_c)"))
            .cast("bigint")
            .alias("total_abs_diff_c"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "n_mismatch",
            "total_abs_diff_c",
            F.expr("CAST(n_mismatch * 1000000 div n_orders AS BIGINT)").alias(
                "mismatch_ppm"
            ),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------- shipping latency

_SHIPLAT_SQL = """
    WITH j AS (
      SELECT o.o_orderpriority,
        least(date_diff('day', CAST(o.o_orderdate AS DATE),
          CAST(l.l_shipdate AS DATE)) // 7, 8) AS wk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
    ), per AS (
      SELECT o_orderpriority, CAST(wk AS BIGINT) AS week_bucket,
        CAST(count(*) AS BIGINT) AS n
      FROM j GROUP BY o_orderpriority, wk
    ), tot AS (
      SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS tot
      FROM per GROUP BY o_orderpriority
    )
    SELECT p.o_orderpriority, p.week_bucket, p.n,
      CAST(p.n * 1000000 // t.tot AS BIGINT) AS share_ppm
    FROM per p JOIN tot t USING (o_orderpriority)
    ORDER BY o_orderpriority, week_bucket
"""


@_q("orders_ship_latency", _SHIPLAT_SQL)
def orders_ship_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Order-to-ship latency distribution: integer weeks between
    order date and each line's ship date, capped into an 8+ bucket,
    per order priority, with the within-priority share in exact ppm
    — the fulfilment-SLA histogram.  datediff is calendar-exact in
    both engines (DATE-truncated operands).

    Scale shape: the fact-to-fact join rides the orderkey clustering
    (exchange-free under the bucketed layout); buckets collapse
    map-side to ≤|priorities|·9 rows and the share join is a
    broadcast."""
    li = t(spark, sf, "lineitem").where("l_shipdate IS NOT NULL").select(
        "l_orderkey", "l_shipdate"
    )
    od = t(spark, sf, "orders").where("o_orderdate IS NOT NULL").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "o_orderpriority",
        F.expr(
            "least(datediff(CAST(l_shipdate AS DATE),"
            " CAST(o_orderdate AS DATE)) div 7, 8)"
        ).alias("week_bucket"),
    )
    per = j.groupBy("o_orderpriority", "week_bucket").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = per.groupBy("o_orderpriority").agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    return (
        per.join(F.broadcast(tot), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("week_bucket").cast("bigint"),
            "n",
            F.expr("CAST(n * 1000000 div tot AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("o_orderpriority", "week_bucket")
    )


# ---------------------------------------------- prefix dedup clusters

_PREFIX_SQL = """
    WITH c AS (
      SELECT substr(text, 1, 64) AS pfx, CAST(count(*) AS BIGINT) AS sz
      FROM documents WHERE text IS NOT NULL
      GROUP BY pfx
    )
    SELECT sz AS cluster_size,
      CAST(count(*) AS BIGINT) AS n_clusters,
      CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM c GROUP BY sz ORDER BY cluster_size
"""


@_q("dedup_prefix_clusters", _PREFIX_SQL)
def dedup_prefix_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix-collision profile: documents grouped by their first 64
    characters, reported as a cluster-size histogram — the cheapest
    crawl-dedup signal there is (boilerplate headers, mirrored pages
    and templated spam all collide on prefixes long before a shingle
    pass runs), used to size the real dedup job.

    Scale shape: one groupBy on a fixed-width key projection
    (map-side combinable — the 64-char prefix is the only data
    touched), then a ≤|distinct sizes|-row rollup."""
    c = (
        t(spark, sf, "documents")
        .where("text IS NOT NULL")
        .groupBy(F.expr("substr(text, 1, 64)").alias("pfx"))
        .agg(F.count("*").cast("bigint").alias("sz"))
    )
    return (
        c.groupBy(F.col("sz").alias("cluster_size"))
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            F.expr("CAST(cluster_size * n_clusters AS BIGINT)").alias(
                "n_docs"
            ),
        )
        .orderBy("cluster_size")
    )


# -------------------------------------------------- lang × source mix

_LANGMIX_SQL = """
    WITH per AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT source, CAST(sum(chars) AS BIGINT) AS src_chars
      FROM per GROUP BY source
    )
    SELECT p.lang, p.source, p.n_docs, p.chars,
      CAST(p.chars * 1000000 // t.src_chars AS BIGINT) AS src_share_ppm
    FROM per p JOIN tot t USING (source)
    ORDER BY lang, source
"""


@_q("corpus_lang_mix", _LANGMIX_SQL)
def corpus_lang_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Language × source composition matrix: docs and char mass per
    cell plus each language's share of its source's characters in
    exact ppm — the first table a multilingual-corpus plan reads
    (and the denominator sanity-check for every per-lang op
    downstream).

    Scale shape: one map-side-combinable (lang, source) count over
    the metadata columns only; shares join a broadcast |sources|-row
    total."""
    per = t(spark, sf, "documents").groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = per.groupBy("source").agg(
        F.sum("chars").cast("bigint").alias("src_chars")
    )
    return (
        per.join(F.broadcast(tot), "source")
        .select(
            "lang",
            "source",
            "n_docs",
            "chars",
            F.expr("CAST(chars * 1000000 div src_chars AS BIGINT)").alias(
                "src_share_ppm"
            ),
        )
        .orderBy("lang", "source")
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


# ------------------------------------- shingle DF profile (LSH tuning)

_SHDF_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), df AS (
      SELECT shingle, CAST(count(*) AS BIGINT) AS df
      FROM sh GROUP BY shingle
    )
    SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_bucket,
      CAST(count(*) AS BIGINT) AS n_shingles,
      CAST(sum(df) AS BIGINT) AS doc_memberships,
      CAST(min(df) AS BIGINT) AS min_df,
      CAST(max(df) AS BIGINT) AS max_df
    FROM df GROUP BY log2_bucket ORDER BY log2_bucket
"""


@_q("dedup_shingle_df_profile", _SHDF_SQL)
def dedup_shingle_df_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Document-frequency histogram of the dedup 3-gram shingle space
    in power-of-two buckets (exact bit-length, no float log): how many
    shingles live in 1 doc, 2-3, 4-7, ... — the distribution that
    sizes every shingle-keyed index in the dedup family (a heavy tail
    here predicts hot inverted-index keys and motivates the df-cap /
    hub-guard tiers before an LSH run is launched).

    Scale shape: one distinct (doc, shingle) pass (the dedup family's
    shared first stage), one shingle-keyed count, one |buckets|-row
    rollup — all map-side-combinable."""
    from ..operators.dedup import with_shingles

    docs = t(spark, sf, "documents").select("doc_id", "text")
    sh = (
        with_shingles(docs, "text", 3)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .distinct()
    )
    df = sh.groupBy("shingle").agg(F.count("*").cast("bigint").alias("df"))
    return (
        df.groupBy(
            F.expr("CAST(length(bin(df)) - 1 AS BIGINT)").alias("log2_bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum("df").cast("bigint").alias("doc_memberships"),
            F.min("df").cast("bigint").alias("min_df"),
            F.max("df").cast("bigint").alias("max_df"),
        )
        .orderBy("log2_bucket")
    )


# --------------------------------------------- repeat-purchase curve

_REPEAT_SQL = """
    WITH rk AS (
      SELECT o_custkey,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS rk
      FROM orders
    ), per AS (
      SELECT CAST(rk AS BIGINT) AS order_rank,
        CAST(count(*) AS BIGINT) AS n_customers
      FROM rk WHERE rk <= 20 GROUP BY rk
    ), tot AS (
      SELECT CAST(max(n_customers) AS BIGINT) AS n_first FROM per
    )
    SELECT order_rank, n_customers,
      CAST(n_customers * 1000000 // t.n_first AS BIGINT) AS reach_ppm
    FROM per CROSS JOIN tot t
    ORDER BY order_rank
"""


@_q("orders_repeat_curve", _REPEAT_SQL)
def orders_repeat_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Repeat-purchase reach curve: how many customers place a 1st,
    2nd, ... Nth order (curve reported through rank 20), with reach
    as an exact ppm of first-order customers — the order-count twin of the
    time-based cohort retention op (events_cohort_retention): this
    one answers "do buyers come back", not "when".

    Scale shape: one customer-keyed row_number window over orders
    (single exchange on o_custkey), a ≤20-row rollup, and a 1-row
    broadcast for the denominator."""
    rk = t(spark, sf, "orders").select(
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        )
        .alias("rk")
    )
    per = (
        rk.where("rk <= 20")
        .groupBy(F.expr("CAST(rk AS BIGINT)").alias("order_rank"))
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )
    tot = per.agg(F.max("n_customers").cast("bigint").alias("n_first"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "order_rank",
            "n_customers",
            F.expr(
                "CAST(n_customers * 1000000 div n_first AS BIGINT)"
            ).alias("reach_ppm"),
        )
        .orderBy("order_rank")
    )


# --------------------------------------------- event-ordering audit

_ORDERING_SQL = """
    WITH s AS (
      SELECT event_type, ts,
        lag(ts) OVER (PARTITION BY event_type ORDER BY event_id) AS pts
      FROM events WHERE ts IS NOT NULL
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_steps,
      CAST(sum(CASE WHEN ts < pts THEN 1 ELSE 0 END) AS BIGINT)
        AS n_regressions,
      CAST(sum(CASE WHEN ts < pts THEN 1 ELSE 0 END) * 1000000
        // count(*) AS BIGINT) AS regression_ppm,
      CAST(max(CASE WHEN ts < pts
               THEN date_diff('microseconds', ts, pts) ELSE 0 END)
        AS BIGINT) AS max_regression_us
    FROM s WHERE pts IS NOT NULL
    GROUP BY event_type ORDER BY event_type
"""


@_q("dq_event_ordering", _ORDERING_SQL)
def dq_event_ordering(spark: SparkSession, sf: str) -> DataFrame:
    """Ingestion-order audit: within each event type, how often does
    the timestamp REGRESS along the append order (event_id)?  Reports
    step count, regression count/rate (ppm) and the worst backward
    jump in exact integer microseconds — the check that decides
    whether downstream sessionization can trust arrival order or must
    sort (and how much watermark slack a streaming twin needs).

    Scale shape: one type-keyed lag window over (event_id, ts) pairs,
    then a |types|-row rollup — single exchange."""
    s = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL")
        .select(
            "event_type",
            "ts",
            F.lag("ts")
            .over(Window.partitionBy("event_type").orderBy("event_id"))
            .alias("pts"),
        )
    )
    return (
        s.where("pts IS NOT NULL")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_steps"),
            F.sum(F.expr("CASE WHEN ts < pts THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_regressions"),
            F.max(
                F.expr(
                    "CASE WHEN ts < pts"
                    " THEN unix_micros(pts) - unix_micros(ts) ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("max_regression_us"),
        )
        .select(
            "event_type",
            "n_steps",
            "n_regressions",
            F.expr(
                "CAST(n_regressions * 1000000 div n_steps AS BIGINT)"
            ).alias("regression_ppm"),
            "max_regression_us",
        )
        .orderBy("event_type")
    )


# ------------------------------------------ user-concentration HHI

_HHI_SQL = """
    WITH per AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_users,
      CAST(sum(c) AS BIGINT) AS n_events,
      CAST(sum(c * c) * 1000000 // (sum(c) * sum(c)) AS BIGINT)
        AS hhi_ppm,
      CAST((sum(c) * sum(c)) // sum(c * c) AS BIGINT)
        AS effective_users
    FROM per GROUP BY event_type ORDER BY event_type
"""


@_q("events_user_hhi", _HHI_SQL)
def events_user_hhi(spark: SparkSession, sf: str) -> DataFrame:
    """User-concentration Herfindahl index per event type:
    HHI = Σ share² in exact ppm via cross-multiplication
    (Σc²·10⁶ div (Σc)²) plus the inverse-Simpson effective user count
    ((Σc)² div Σc²) — the audience-concentration twin of
    text_source_diversity: an HHI near 10⁶ means one user IS the
    signal (and that type's per-user windows will skew).

    Scale shape: one map-side-combinable (type, user) count, then a
    |types|-row rollup of integer moments — no window, no join.
    BIGINT bound: Σc² ≤ Σc·max(c) ≈ 10¹² at x1000, ×10⁶ stays under
    2⁶³."""
    per = t(spark, sf, "events").groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("c").cast("bigint").alias("n_events"),
            F.sum(F.expr("c * c")).cast("bigint").alias("s2"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            F.expr(
                "CAST(s2 * 1000000 div (n_events * n_events) AS BIGINT)"
            ).alias("hhi_ppm"),
            F.expr(
                "CAST((n_events * n_events) div s2 AS BIGINT)"
            ).alias("effective_users"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- week-over-week deltas

_WOW_SQL = """
    WITH wk AS (
      SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week_start,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY event_type, week_start
    ), d AS (
      SELECT event_type, week_start, n_events, rev_c,
        lag(n_events) OVER w AS pn, lag(rev_c) OVER w AS pr
      FROM wk WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
    )
    SELECT event_type, week_start, n_events, rev_c,
      CASE WHEN pn > 0
        THEN CAST((n_events - pn) * 1000000 // pn AS BIGINT) END
        AS events_wow_ppm,
      CASE WHEN pr > 0
        THEN CAST((rev_c - pr) * 1000000 // pr AS BIGINT) END
        AS rev_wow_ppm
    FROM d WHERE pn IS NOT NULL
    ORDER BY event_type, week_start
"""


@_q("events_kpi_wow_delta", _WOW_SQL)
def events_kpi_wow_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Week-over-week KPI deltas per event type: weekly event counts
    and exact-cents revenue with the WoW change in integer ppm
    (NULL-guarded when the prior week's base is 0 — a ratio against
    nothing is not a number; negative deltas keep exact floor
    semantics on a positive divisor).  date_trunc('week') is
    Monday-anchored in both engines.

    Scale shape: one map-side-combinable (type, week) rollup over the
    fact scan, then a type-partitioned lag over ≤|types|·|weeks|
    rows."""
    wk = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL AND value IS NOT NULL")
        .groupBy(
            "event_type",
            F.to_date(F.date_trunc("week", "ts")).alias("week_start")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.expr(_HA.format(x="value", m="100")))
            .cast("bigint")
            .alias("rev_c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("week_start")
    d = wk.select(
        "*",
        F.lag("n_events").over(w).alias("pn"),
        F.lag("rev_c").over(w).alias("pr"),
    )
    return (
        d.where("pn IS NOT NULL")
        .select(
            "event_type",
            "week_start",
            "n_events",
            "rev_c",
            F.expr(
                "CASE WHEN pn > 0 THEN CAST((n_events - pn) * 1000000"
                " div pn AS BIGINT) END"
            ).alias("events_wow_ppm"),
            F.expr(
                "CASE WHEN pr > 0 THEN CAST((rev_c - pr) * 1000000"
                " div pr AS BIGINT) END"
            ).alias("rev_wow_ppm"),
        )
        .orderBy("event_type", "week_start")
    )


# --------------------------------------- monthly seasonality deltas

_MOM_SQL = """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY month_start
    ), d AS (
      SELECT month_start, n_orders, rev_c, rev_c // 100000 AS rev_k,
        lag(rev_c // 100000, 1) OVER w AS prev_m,
        lag(rev_c // 100000, 12) OVER w AS prev_y
      FROM m WINDOW w AS (ORDER BY month_start)
    )
    SELECT month_start, n_orders, rev_c,
      CASE WHEN prev_m > 0
        THEN CAST((rev_k - prev_m) * 1000000 // prev_m AS BIGINT) END
        AS mom_ppm,
      CASE WHEN prev_y > 0
        THEN CAST((rev_k - prev_y) * 1000000 // prev_y AS BIGINT) END
        AS yoy_ppm
    FROM d ORDER BY month_start
"""


@_q("orders_seasonality_mom", _MOM_SQL)
def orders_seasonality_mom(spark: SparkSession, sf: str) -> DataFrame:
    """Monthly revenue in exact cents with month-over-month and
    year-over-year deltas in integer ppm (lag 1 / lag 12 over the
    months actually present; NULL until the base exists) — the
    finance-calendar twin of events_forecast_snaive.  Deltas are
    evaluated on the k$-scaled series (rev_c div 100000, the
    window_bollinger_bands convention): monthly CENTS at x1000 reach
    ~3·10¹³ and a cents·10⁶ cross-multiply would overflow BIGINT
    (ANSI mode catches exactly this); k$ keeps the ppm exact to the
    documented unit.

    Scale shape: one ≤|months|-row rollup over the orders scan, then
    lags over that tiny series (documented SinglePartition bound —
    ~84 calendar months even at x1000)."""
    m = (
        t(spark, sf, "orders")
        .where("o_orderdate IS NOT NULL")
        .groupBy(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias(
                "month_start"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.expr(_HA.format(x="o_totalprice", m="100")))
            .cast("bigint")
            .alias("rev_c"),
        )
    )
    w = Window.orderBy("month_start")
    return (
        m.select(
            "*",
            F.expr("rev_c div 100000").alias("rev_k"),
            F.lag(F.expr("rev_c div 100000"), 1).over(w).alias("prev_m"),
            F.lag(F.expr("rev_c div 100000"), 12).over(w).alias("prev_y"),
        )
        .select(
            "month_start",
            "n_orders",
            "rev_c",
            F.expr(
                "CASE WHEN prev_m > 0 THEN CAST((rev_k - prev_m) * 1000000"
                " div prev_m AS BIGINT) END"
            ).alias("mom_ppm"),
            F.expr(
                "CASE WHEN prev_y > 0 THEN CAST((rev_k - prev_y) * 1000000"
                " div prev_y AS BIGINT) END"
            ).alias("yoy_ppm"),
        )
        .orderBy("month_start")
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


# ----------------------------------------- commodity channel index

_CCI_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(max(cents) AS BIGINT) AS hi, CAST(min(cents) AS BIGINT) AS lo,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), tp AS (
      SELECT event_type, day,
        (hi + lo + cl) * 1000 // 3 AS tp_m
      FROM px
    ), wm AS (
      SELECT event_type, day, tp_m,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(tp_m) OVER w AS BIGINT) AS s,
        array_agg(tp_m) OVER w AS xs
      FROM tp
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), dev AS (
      SELECT event_type, day, tp_m, n, s,
        list_sum(list_transform(xs, x -> abs(x * n - s))) AS md
      FROM wm WHERE n = 20
    )
    SELECT event_type, day, tp_m,
      CASE WHEN md > 0
        THEN CAST((tp_m * n - s) * n * 1000000 // (15 * md) AS BIGINT)
      END AS cci_milli
    FROM dev ORDER BY event_type, day
"""


@_q("window_cci", _CCI_SQL)
def window_cci(spark: SparkSession, sf: str) -> DataFrame:
    """20-day Commodity Channel Index per event-type series, exact to
    the milli: CCI = (tp − SMA) / (0.015 · meanAbsDev) evaluated
    entirely in n-scaled integer space — tp in milli-cents (the /3 is
    the only division, floored once), deviations as |xᵢ·n − s| so no
    rational mean is ever materialized, and the final
    (tp·n − s)·n·10⁶ div (15·md) folds the 0.015 into integers.  The
    window's member values ride a 20-element collect_list aggregated
    JVM-side with a higher-order fold — the mean-absolute-deviation
    needs every member against the CURRENT window's mean, which no
    pair of plain window sums can express.

    Scale shape: indicator-family standard — the heavy per-(type,
    day) OHLC pass, then type-partitioned windows carrying a bounded
    20-element array over the tiny bar frame."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf)
    tp = px.select(
        "event_type", "day",
        F.expr("(hi + lo + cl) * 1000 div 3").alias("tp_m"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-19, 0)
    )
    wm = tp.select(
        "event_type",
        "day",
        "tp_m",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("tp_m").over(w).cast("bigint").alias("s"),
        F.collect_list("tp_m").over(w).alias("xs"),
    )
    dev = wm.where("n = 20").select(
        "event_type",
        "day",
        "tp_m",
        "n",
        "s",
        F.expr(
            "aggregate(transform(xs, x -> abs(x * n - s)), 0L,"
            " (a, b) -> a + b)"
        ).alias("md"),
    )
    return dev.select(
        "event_type",
        "day",
        "tp_m",
        F.expr(
            "CASE WHEN md > 0 THEN CAST((tp_m * n - s) * n * 1000000"
            " div (15 * md) AS BIGINT) END"
        ).alias("cci_milli"),
    ).orderBy("event_type", "day")


# ------------------------------------- winnowing near-dup pairs

_WINNOW_PAIRS_SQL = f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS m FROM documents
    ), g AS (
      SELECT doc_id, i, {_winnow_hash_sql("text", "i")} AS h
      FROM d, UNNEST(generate_series(1, m - 7)) AS u(i)
      WHERE m >= 8
    ), perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM g GROUP BY doc_id
    ), wins AS (
      SELECT doc_id, i,
        min(h) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
        count(*) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n
      FROM g
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE n = 4
      UNION
      SELECT g.doc_id, min(g.h) AS fp
      FROM g JOIN perdoc p USING (doc_id)
      WHERE p.n_grams < 4 GROUP BY g.doc_id
    ), keep AS (
      SELECT fp FROM fps GROUP BY fp
      HAVING count(*) BETWEEN 2 AND 50
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(count(*) AS BIGINT) AS n_shared
      FROM fps a JOIN keep USING (fp) JOIN fps b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b HAVING count(*) >= 2
    )
    SELECT doc_a, doc_b, n_shared
    FROM pairs ORDER BY n_shared DESC, doc_a, doc_b LIMIT 200
"""


@_q("dedup_winnow_pairs", _WINNOW_PAIRS_SQL)
def dedup_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS-style near-dup pair detection over the winnowing
    fingerprints: document pairs sharing >= 2 winnowed fingerprints,
    ranked by shared-fingerprint count (top 200, deterministic
    order).  Ubiquitous fingerprints — document frequency > 50, the
    boilerplate a crawl shares everywhere — are dropped from pair
    generation exactly as MOSS drops common code scaffolding (the
    SQL twin applies the identical df band, so the hash pins the
    filter too).

    Scale shape: per-doc fingerprints from the Arrow kernel (no
    shuffle), one fp-keyed groupBy for the df band, basket-pattern
    pair unfold from the fp -> docs inverted index (sorted
    collect_set + array-HOF expansion, bounded C(df<=50, 2) per
    fingerprint — never a raw self-join), one (a, b) count.  The df
    cap is the hub guard: pair volume is bounded by
    |fps| · C(50, 2)."""
    from ..operators.pairs import unfold_sorted_pairs
    from ..operators.winnowing import winnow_fingerprints

    docs = t(spark, sf, "documents")
    fps = winnow_fingerprints(docs, "doc_id", "text")
    # r14 negative result, kept for the record: a two-pass shape — one
    # explicit fp exchange shared by a per-fp count (the df band
    # BEFORE any set is built) and the surviving collect_set — was
    # installed and REVERTED: x100 interleaved A/B 4.5/12.9 s (this
    # shape) vs 7.1/17.0 s (two-pass), because the raw-row
    # repartition forfeits the map-side partial collect_set that
    # collapses each partition's duplicate-fp rows before the
    # exchange (the x100 replica corpus multiplies every fp's df
    # 100x, so the partial agg removes ~99% of exchange rows here).
    # The kernel-twice variant (tiny partial-count exchange + semi
    # filter) loses too: the winnow kernel is ~2.4 s of the 4.4 s
    # x100 leg and would run twice.  The residual hazard — one
    # df≫band hub fp's set building on a single reducer — is bounded
    # map-side by the same partial aggregation.
    inv = (
        fps.groupBy("fp")
        .agg(F.expr("sort_array(collect_set(doc_id))").alias("ds"))
        .where("size(ds) BETWEEN 2 AND 50")
    )
    # r13: the pair unfold shares the co-purchase Arrow kernel
    # (operators/pairs.py) instead of the interpreted HOF chain —
    # same closed-form triangular-rank unfold, identical pair
    # multisets (test_winnow_unfold_kernel_parity); sf0.1 1.25 →
    # 1.20 s, and the interpreted per-pair cost it removes grows
    # with C(df<=50, 2) pair volume at corpus scale
    pairs = unfold_sorted_pairs(inv, "ds", "doc_a", "doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where("n_shared >= 2")
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
        .limit(200)
    )


# ------------------------------------ volume-weighted moving average

_VWMA_SQL = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl,
        CAST(count(*) AS BIGINT) AS vol
      FROM base GROUP BY event_type, day
    ), wm AS (
      SELECT event_type, day, cl, vol,
        CAST(count(*) OVER w AS BIGINT) AS n,
        CAST(sum(cl * vol) OVER w AS BIGINT) AS pv,
        CAST(sum(vol) OVER w AS BIGINT) AS v
      FROM px
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, cl AS close_cents, vol,
      CAST(pv // v AS BIGINT) AS vwma_cents,
      cl > pv // v AS above_vwma
    FROM wm WHERE n = 10
    ORDER BY event_type, day
"""


@_q("window_vwma", _VWMA_SQL)
def window_vwma(spark: SparkSession, sf: str) -> DataFrame:
    """10-day volume-weighted moving average per event-type series in
    exact cents (floor of Σ(close·vol)/Σvol over the trailing full
    window — positive operands, trunc == floor both engines), with
    the close-above-VWMA flag.  The volume-weighted complement of the
    SMA family: a close drifting above its VWMA on thin volume reads
    differently than on heavy volume.

    Scale shape: close and volume ride ONE per-(type, day) pass, then
    a type-partitioned window over the bar frame; Σ(cl·vol) stays
    under BIGINT (1e6 cents · 1e5 ticks · 10 days = 1e12)."""
    ev = (
        t(spark, sf, "events")
        .where("ts IS NOT NULL AND value IS NOT NULL")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            F.expr(_HA.format(x="value", m="100")).alias("cents"),
        )
    )
    px = ev.groupBy("event_type", "day").agg(
        F.expr("max_by(cents, ts)").cast("bigint").alias("cl"),
        F.count("*").cast("bigint").alias("vol"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-9, 0)
    )
    wm = px.select(
        "event_type",
        "day",
        "cl",
        "vol",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum(F.expr("cl * vol")).over(w).cast("bigint").alias("pv"),
        F.sum("vol").over(w).cast("bigint").alias("v"),
    )
    return (
        wm.where("n = 10")
        .select(
            "event_type",
            "day",
            F.col("cl").alias("close_cents"),
            "vol",
            F.expr("CAST(pv div v AS BIGINT)").alias("vwma_cents"),
            F.expr("cl > pv div v").alias("above_vwma"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------- new vs returning users

_NEWRET_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL
    ), first AS (
      SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id
    )
    SELECT du.day,
      CAST(count(*) AS BIGINT) AS active_users,
      CAST(sum(CASE WHEN f.first_day = du.day THEN 1 ELSE 0 END)
        AS BIGINT) AS new_users,
      CAST(count(*) - sum(CASE WHEN f.first_day = du.day THEN 1 ELSE 0
        END) AS BIGINT) AS returning_users,
      CAST(sum(CASE WHEN f.first_day = du.day THEN 1 ELSE 0 END)
        * 1000000 // count(*) AS BIGINT) AS new_share_ppm
    FROM du JOIN first f USING (user_id)
    GROUP BY du.day ORDER BY du.day
"""


def _events_day_bounds(spark, sf):
    """(min_day, max_day) of non-null event timestamps.

    Prefers parquet footer row-group statistics (pure metadata, no
    row scan — min/max stats exclude nulls, exactly ``F.min(ts)``
    semantics); falls back to a column-pruned scalar job when stats
    are absent or the table isn't a plain parquet path (e.g. the
    bucketed-layout tier)."""
    import glob as _g
    import os as _os

    path = f"{sf}/events.parquet"
    try:
        import pyarrow.parquet as pq

        files = (
            [path]
            if _os.path.isfile(path)
            else sorted(_g.glob(_os.path.join(path, "*.parquet")))
        )
        lo = hi = None
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["ts"]).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no ts stats")
                mn, mx = st.min, st.max
                if isinstance(mn, int):  # nanos-as-long physical type
                    import datetime as _dt

                    epoch = _dt.datetime(1970, 1, 1)
                    mn = epoch + _dt.timedelta(microseconds=mn // 1000)
                    mx = epoch + _dt.timedelta(microseconds=mx // 1000)
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        if lo is None:
            raise ValueError("no files")
        return lo.date(), hi.date()
    except Exception:
        row = (
            t(spark, sf, "events")
            .where("ts IS NOT NULL")
            .agg(F.min(F.to_date("ts")), F.max(F.to_date("ts")))
            .first()
        )
        return row[0], row[1]


@_q("events_new_vs_returning", _NEWRET_SQL)
def events_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """Daily new-vs-returning split: active users per day, how many
    are on their FIRST active day, the returning remainder, and the
    new share in exact ppm — the acquisition/retention pulse read
    next to events_cume_users (which shows the cumulative total this
    op decomposes per day).

    Scale shape (r8 rewrite): when the day span fits 64 bits, each
    user's activity collapses to ONE BIGINT day-bitmask — a
    primitive ``bit_or`` aggregate (whole-stage-codegen HashAggregate,
    no per-group objects), keyed by an explicit
    ``repartition(defaultParallelism, user_id)`` so the aggregate
    runs as a single complete pass after one compact raw exchange
    (measured: the partial+final plan re-hashes 3.1M rows/task into a
    1.4M-entry map-side table for a 2.3× row reduction — slower than
    shipping the raw 16-byte rows).  first active day = lowest set
    bit; the mask explodes (post-agg, ≤|days| bits) into the tiny
    day rollup.  The anchor day comes from parquet footer stats —
    no pre-scan.  Measured x1000: 9.5 s (r7 window-min) → 2.93 s,
    DuckDB 1.74 s → ratio 1.7.  Spans > 63 days (multi-year
    production corpora) fall back to the r7 window-min shape; the
    bitmask generalizes to an array-of-longs chunk per 64-day block
    if that tier ever needs the same treatment."""
    ev = t(spark, sf, "events").where("ts IS NOT NULL")
    dmin, dmax = _events_day_bounds(spark, sf)
    if dmin is not None and (dmax - dmin).days <= 63:
        n = spark.sparkContext.defaultParallelism
        masks = (
            ev.select(
                "user_id",
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    f" datediff(CAST(ts AS DATE), DATE'{dmin}'))"
                ).alias("bit"),
            )
            .repartition(n, "user_id")
            .groupBy("user_id")
            .agg(F.expr("bit_or(bit)").alias("mask"))
        )
        j = masks.select(
            F.expr(
                "filter(sequence(0, 63), k -> ((mask >> k) & 1) = 1)"
            ).alias("bits")
        ).select(
            F.element_at("bits", 1).alias("first_k"),
            F.explode("bits").alias("k"),
        )
        day_counts = j.groupBy(
            F.expr(f"date_add(DATE'{dmin}', k)").alias("day")
        ).agg(
            F.count("*").cast("bigint").alias("active_users"),
            F.sum(F.expr("CAST(k = first_k AS INT)"))
            .cast("bigint")
            .alias("new_users"),
        )
    else:
        du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
        j = du.select(
            "day",
            F.expr(
                "CASE WHEN day = min(day) OVER (PARTITION BY user_id)"
                " THEN 1 ELSE 0 END"
            ).alias("nw"),
        )
        day_counts = j.groupBy("day").agg(
            F.count("*").cast("bigint").alias("active_users"),
            F.sum("nw").cast("bigint").alias("new_users"),
        )
    return day_counts.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users"))
        .cast("bigint")
        .alias("returning_users"),
        F.expr(
            "CAST(new_users * 1000000 div active_users AS BIGINT)"
        ).alias("new_share_ppm"),
    ).orderBy("day")


# ------------------------------------------- count-min sketch (exact pin)

# depth-4 universal-hash rows over the BIGINT key: row 0 is the
# IDENTITY row (a=1, b=0) whose universal-hash modulus P equals its
# own width W (prime, ~1e15), so its bucket is exactly key % W —
# collision-free for every key below W, i.e. up to part-key domains
# of 1e15 (far past the 100 TB regime), and the CMS min equals the
# true count — the provably-exact-at-a-point configuration (CMS
# estimates are always >= truth; one exact row pins the min to
# truth).  Rows 1-3 keep the classic P = 2^31-1 universal hash with
# small prime widths and DO collide — the plumbing the exact row
# certifies is the same plumbing production runs with all-small
# widths.  All hashing is explicit integer arithmetic, portable to
# the SQL twin.
_CMS_W0 = 1_000_003_565_842_103  # identity row: prime > key domain
_CMS_P = 2_147_483_647  # 2^31 - 1 (rows 1-3 only)
_CMS_ROWS = [  # (a, b, p, width); row 0 has p == width => bucket = key % W
    (1, 0, _CMS_W0, _CMS_W0),
    (1_103_515_245, 12_345, _CMS_P, 8_191),
    (214_013, 2_531_011, _CMS_P, 16_381),
    (69_069, 362_437, _CMS_P, 32_749),
]
# the key is reduced mod P BEFORE the multiply: the universal-hash
# guarantee needs key < P anyway, values are identical for every
# key below P, and a * (key % P) stays under 2^62 where the raw
# a * key overflows BIGINT once stride-replicated keys pass 2^33
# (the x1000 ANSI canary caught exactly this, r8)
_CMS_HASH = "((({a} * (l_partkey % {p}) + {b}) % {p}) % {w})"


def _cms_bucket_sql(r: int) -> str:
    a, b, p, w = _CMS_ROWS[r]
    return _CMS_HASH.format(a=a, b=b, p=p, w=w)


_CMS_SQL = f"""
    WITH buckets AS (
      {" UNION ALL ".join(
          f"SELECT {r} AS row_id, {_cms_bucket_sql(r)} AS bucket,"
          f" l_partkey FROM lineitem"
          for r in range(len(_CMS_ROWS)))}
    ), counters AS (
      SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS c
      FROM buckets GROUP BY row_id, bucket
    ), keys AS (
      SELECT DISTINCT l_partkey FROM lineitem
    ), probes AS (
      SELECT k.l_partkey, b.row_id, {_CMS_HASH.format(
          a="CASE b.row_id WHEN 0 THEN 1 WHEN 1 THEN 1103515245"
            " WHEN 2 THEN 214013 ELSE 69069 END",
          b="CASE b.row_id WHEN 0 THEN 0 WHEN 1 THEN 12345"
            " WHEN 2 THEN 2531011 ELSE 362437 END",
          p=f"CASE b.row_id WHEN 0 THEN {_CMS_W0} ELSE {_CMS_P} END",
          w=f"CASE b.row_id WHEN 0 THEN {_CMS_W0} WHEN 1 THEN 8191"
            " WHEN 2 THEN 16381 ELSE 32749 END")} AS bucket
      FROM keys k CROSS JOIN (SELECT DISTINCT row_id FROM counters) b
    ), est AS (
      SELECT p.l_partkey, CAST(min(c.c) AS BIGINT) AS est_count
      FROM probes p JOIN counters c
        ON c.row_id = p.row_id AND c.bucket = p.bucket
      GROUP BY p.l_partkey
    )
    SELECT l_partkey, est_count
    FROM est ORDER BY est_count DESC, l_partkey LIMIT 20
"""


@_q("agg_count_min_exact", _CMS_SQL)
def agg_count_min_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters over lineitem part keys, in the
    provably-exact configuration: depth-4 universal-hash counter
    rows where row 0 is the identity row (collision-free W) — CMS
    estimates are always >= truth and the exact row participates in
    the min, so every estimate equals the true count and the DuckDB
    twin can be the plain GROUP BY (the sim_ivf_exact /
    agg_approx_quantiles exact-at-a-point discipline).  Rows 1-3 use
    real small widths (8k/16k/32k) and genuinely collide — the
    mergeable-counter plumbing being certified is exactly what a
    production all-small-width sketch runs.  Top-20 by (est, key), a
    deterministic total order.

    Scale shape: the sketch build is one map-side-combinable
    (row, bucket) count — 4 counters per input row, the classic
    mergeable-sketch shuffle of O(d·W) not O(rows); the probe side
    joins the |keys| frame to the counter table per row and takes a
    4-way min.  At 100 TB only the d·W counter table moves."""
    li = t(spark, sf, "lineitem").select("l_partkey")
    bucket_structs = ", ".join(
        f"named_struct('row_id', {r}, 'bucket', "
        + _CMS_HASH.format(a=a, b=b, p=p, w=w)
        + ")"
        for r, (a, b, p, w) in enumerate(_CMS_ROWS)
    )
    counters = (
        li.select(
            F.explode(F.expr(f"array({bucket_structs})")).alias("rb")
        )
        .groupBy("rb.row_id", "rb.bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    keys = li.distinct()
    probes = keys.select(
        "l_partkey",
        F.explode(F.expr(f"array({bucket_structs})")).alias("rb"),
    ).select("l_partkey", "rb.row_id", "rb.bucket")
    est = (
        probes.join(counters, ["row_id", "bucket"])
        .groupBy("l_partkey")
        .agg(F.min("c").cast("bigint").alias("est_count"))
    )
    return est.orderBy(F.desc("est_count"), "l_partkey").limit(20)


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


# ------------------------------------------- langid confusion matrix


def _langid_confusion_sql() -> str:
    from .llm_ops import _sql_lang_id

    return f"""
    WITH pred AS ({_sql_lang_id()}),
    cells AS (
      SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY lang_true, lang_pred
    ), rows_ AS (
      SELECT lang_true, CAST(sum(n) AS BIGINT) AS row_total
      FROM cells GROUP BY lang_true
    )
    SELECT c.lang_true, c.lang_pred, c.n, r.row_total,
      CAST(c.n * 1000000 // r.row_total AS BIGINT) AS row_share_ppm
    FROM cells c JOIN rows_ r USING (lang_true)
    ORDER BY lang_true, lang_pred
"""


@_q("corpus_langid_confusion", _langid_confusion_sql())
def corpus_langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Confusion matrix of the stopword-vote language classifier
    against the fixture's labeled lang column: per (true, predicted)
    cell count and its share of the true-language row in exact ppm —
    the evaluation harness every classifier swap runs before
    replacing text_langid's heuristic (the diagonal shares ARE the
    per-language recall).

    Scale shape: the per-row vote (one tokenize, functions/text.py
    lang_id) feeds a ≤|langs|²-cell rollup; the row-total join is a
    broadcast."""
    from ..functions.text import lang_id

    pred = t(spark, sf, "documents").select(
        F.col("lang").alias("lang_true"),
        lang_id("text").alias("lang_pred"),
    )
    cells = pred.groupBy("lang_true", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n")
    )
    rows = cells.groupBy("lang_true").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return (
        cells.join(F.broadcast(rows), "lang_true")
        .select(
            "lang_true",
            "lang_pred",
            "n",
            "row_total",
            F.expr("CAST(n * 1000000 div row_total AS BIGINT)").alias(
                "row_share_ppm"
            ),
        )
        .orderBy("lang_true", "lang_pred")
    )


# --------------------------------------------- duplicate-event audit

_DUPEVENT_SQL = """
    WITH g AS (
      SELECT event_type, user_id, ts, value,
        CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id, ts, value
    )
    SELECT event_type,
      CAST(sum(c) AS BIGINT) AS n_events,
      CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_groups,
      CAST(sum(c - 1) AS BIGINT) AS n_extra_rows,
      CAST(sum(c - 1) * 1000000 // sum(c) AS BIGINT) AS extra_ppm
    FROM g GROUP BY event_type ORDER BY event_type
"""


@_q("dq_duplicate_event_audit", _DUPEVENT_SQL)
def dq_duplicate_event_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicate-event audit per type: identical
    (user, ts, type, value) tuples collapsed, reporting the group
    count, the surplus rows a retry/at-least-once pipeline injected,
    and the surplus rate in exact ppm — the idempotency check run
    before any counting metric downstream is believed (a clean feed
    audits to zero surplus, which is the assertion on the fixture).

    Scale shape (hash-first two-pass, r9): pass 1 exchanges ONLY the
    8-byte xxhash64 of the tuple into a complete count (explicit
    repartition — on a clean feed every group is unique, so a
    partial+final plan re-hashes 100M rows/wave for no reduction),
    pass 2 re-groups EXACTLY the rows whose hash is duplicated (hash
    collisions are resolved here, so the result is exact; the dup
    hash set broadcasts — it is bounded by the surplus row count,
    ~0 on a clean feed), plus a |types|-row totals pass.  Measured
    x1000: 6.6 → 4.74 s (ratio 3.28×, from 4.6×).  The remaining gap
    is the 100M-unique-key complete-agg engine constant: pass 1
    ALONE measures 4.5 s, and every alternative measured worse —
    full-tuple two-pass 5.7 s (r8), partial+final hash pass 5.9 s,
    sortWithinPartitions + vectorized Arrow dup-scan 4.2 s
    (HISTORY.md "Duplicate-event audit")."""
    ev = t(spark, sf, "events").select(
        "event_type", "user_id", "ts", "value"
    )
    n = spark.sparkContext.defaultParallelism
    h = F.xxhash64("event_type", "user_id", "ts", "value")
    dup_h = (
        ev.select(h.alias("__h"))
        .repartition(n, "__h")
        .groupBy("__h")
        .agg(F.count("*").alias("__hc"))
        .filter("__hc > 1")
        .select("__h")
    )
    dups = (
        ev.withColumn("__h", h)
        .join(F.broadcast(dup_h), "__h")
        .groupBy("event_type", "user_id", "ts", "value")
        .agg(F.count("*").cast("bigint").alias("c"))
        .filter("c > 1")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_dup_groups"),
            F.sum(F.expr("c - 1")).cast("bigint").alias("n_extra_rows"),
        )
    )
    totals = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return (
        totals.join(dups, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce("n_dup_groups", F.lit(0))
            .cast("bigint")
            .alias("n_dup_groups"),
            F.coalesce("n_extra_rows", F.lit(0))
            .cast("bigint")
            .alias("n_extra_rows"),
            F.expr(
                "CAST(coalesce(n_extra_rows, 0) * 1000000 div n_events"
                " AS BIGINT)"
            ).alias("extra_ppm"),
        )
        .orderBy("event_type")
    )
