"""Round-14 catalog additions (builder round 9): the two persisted /
multimodal legs that complete crosses earlier rounds opened.

* ``dedup_video_fingerprint`` — the VIDEO leg of the dedup ×
  multimodal cross (dedup_media_phash is the image leg,
  dedup_audio_fingerprint the audio leg): real AVI containers, real
  frame sampling, per-frame dHash, per-bit majority temporal hash,
  then the established simhash banding + hamming verify.
* ``sim_ivf_index_merge`` — persisted IVF inverted-file maintenance:
  the ANN analogue of dedup_band_index_merge.  Build the inverted
  file, merge one crawl cycle (retire + assign adds under the stored
  centroids), write it to parquet (partitioned by cell), read it
  back, and serve queries from the STORED index in provably-exact
  mode (nprobe = nlist) against the brute-force oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query as _q
from .round13_ops import _warehouse
from .tables import t

# ------------------------------------------- video-fingerprint dedup

# gray(f, i) = (len(token[((f*72 + i) % n_tokens)+1]) * 11) % 128 —
# exactly what documents_as_avi_media bakes into frame f's DIB raster
# and the decode stack hands back; the fingerprint samples frames
# 0, 2, 4 of the 6 (sample_frames every_n=2).  Bit b of a frame's
# dHash compares gray(i) > gray(i+1) within a grid row (i % 9 < 8,
# b = (i // 9) * 8 + i % 9); the temporal hash sets bit b iff a
# strict MAJORITY of the 3 sampled frames set it (2·cnt > 3).  Bit 63
# as the signed constant (the _PHASH_SQL two's-complement rule).
_VFP_SQL = """
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
    ), g AS (
      SELECT doc_id, fr.f, u.i,
        (len(tk[((fr.f * 72 + u.i) % len(tk)) + 1]) * 11) % 128 AS g
      FROM tk, (VALUES (0), (2), (4)) fr(f),
           UNNEST(generate_series(0, 71)) u(i)
    ), cmp AS (
      SELECT a.doc_id, (a.i // 9) * 8 + (a.i % 9) AS bit,
        count(*) FILTER (WHERE a.g > b.g) AS cnt
      FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.f = a.f
        AND b.i = a.i + 1
      WHERE a.i % 9 < 8
      GROUP BY a.doc_id, (a.i // 9) * 8 + (a.i % 9)
    ), bits AS (
      SELECT doc_id,
        CAST(coalesce(sum(CASE WHEN 2 * cnt > 3 THEN
          CASE WHEN bit = 63 THEN -9223372036854775807 - 1
            ELSE 1::BIGINT << bit END
          ELSE 0 END), 0) AS BIGINT) AS vhash
      FROM cmp GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id, vhash, u.b AS band,
        (vhash >> (u.b * 16)) & 65535 AS chunk
      FROM bits, UNNEST(generate_series(0, 3)) u(b)
    ), losers AS (
      SELECT DISTINCT b.doc_id AS id
      FROM chunks a JOIN chunks b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.vhash, b.vhash)) <= 3
    )
    SELECT doc_id AS media_id, vhash FROM bits
    WHERE doc_id NOT IN (SELECT id FROM losers)
    ORDER BY media_id
"""


@_q("dedup_video_fingerprint", _VFP_SQL)
def dedup_video_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal video near-dup dedup over the multimodal binary
    column — the video leg of the dedup × multimodal cross: every
    document becomes a REAL AVI container of six 9×8 uncompressed DIB
    frames (functions/multimodal.documents_as_avi_media — pixels from
    token lengths with a per-frame offset, so near-dup texts yield
    near-identical videos), frames are sampled through the real
    container walk (sample_frames every_n=2 → frames 0/2/4, each
    gaining a BMP header and decoding through the real BMP stack),
    per-frame dHashed, and combined by PER-BIT MAJORITY into a 64-bit
    temporal hash (vhash64 — the frame-median fingerprint, robust to
    a minority of edited frames) in one Arrow mapInPandas kernel.
    Near-dups drop min-id-survivor style via the simhash machinery:
    4×16-bit banding + bit_count(xor) hamming ≤ 3 (exact by
    pigeonhole).

    Oracle = the same sampled-frame dHashes and majority vote
    recomputed arithmetically from string_split token lengths (the
    container encode → walk → BMP decode legs are an identity over
    the rasters the synth wrote — any container, sampler, decoder,
    hash, majority, banding or survivor error breaks value equality),
    identical banded chunk join.  A planted near-dup pytest
    additionally pins the kernel on MJPEG and dirty containers the
    synthesizer did NOT produce (tests/test_operators.py).

    Scale shape: identical to dedup_media_phash — one Arrow pass per
    payload (container walk + 3 frame decodes + 3 dHashes, no
    per-row Python UDF), identical-hash collapse to representatives,
    4-chunk bucket join on content-derived keys, hamming verify on
    candidates only, one left_anti; payload bytes never shuffle past
    the fingerprint kernel."""
    from ..functions.multimodal import (
        documents_as_avi_media,
        extract_video_fingerprint,
    )
    from ..operators.dedup import reuse_gate, simhash_pairs

    docs = t(spark, sf, "documents").where("text IS NOT NULL")
    # null vhash = decode failure; excluded BEFORE pairing so a decode
    # regression surfaces as a row-count mismatch vs the oracle (which
    # never produces nulls) instead of a silent null-hash survivor.
    # reuse_gate: one narrow exchange so the container-walk kernel
    # runs once, not once per consuming branch (dedup.reuse_gate).
    hashed = reuse_gate(
        extract_video_fingerprint(documents_as_avi_media(docs)).where(
            "vhash IS NOT NULL"
        ),
        "vhash",
    )
    pairs = simhash_pairs(hashed, "media_id", max_hamming=3, hash_col="vhash")
    losers = pairs.select(F.col("id_b").alias("media_id")).distinct()
    return (
        hashed.join(losers, "media_id", "left_anti")
        .select("media_id", "vhash")
        .orderBy("media_id")
    )


# ------------------------------------ persisted IVF index maintenance

_DOT_D = (
    "list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))"
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


# --------------------------------- cross-modal dedup agreement monitor

# text leg: exact word-3-shingle Jaccard >= 0.5, min-id survivor (the
# dedup_ngram_jaccard / _BANDIDX_SQL loser rule); media leg: the
# _PHASH_SQL dHash loser rule.  Every (text IS NOT NULL) doc is
# classified into the 2x2 contingency; the VALUES domain join emits
# explicit zero rows (the sim_ann_recall_monitor zero-tier rule).
_XMODAL_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
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
    ), tl AS (
      SELECT DISTINCT y.doc_id AS id
      FROM sh x JOIN sh y ON x.shingle = y.shingle
        AND x.doc_id < y.doc_id
      JOIN sizes sa ON sa.doc_id = x.doc_id
      JOIN sizes sb ON sb.doc_id = y.doc_id
      GROUP BY x.doc_id, y.doc_id, sa.sz, sb.sz
      HAVING CAST(count(*) AS DOUBLE) / (sa.sz + sb.sz - count(*)) >= 0.5
    ), g AS (
      SELECT doc_id, i, (len(tk[(i % len(tk)) + 1]) * 7) % 128 AS g
      FROM toks, UNNEST(generate_series(0, 71)) u(i)
    ), bits AS (
      SELECT a.doc_id,
        CAST(coalesce(sum(CASE WHEN a.g > b.g THEN
          CASE WHEN (a.i // 9) * 8 + (a.i % 9) = 63
            THEN -9223372036854775807 - 1
            ELSE 1::BIGINT << ((a.i // 9) * 8 + (a.i % 9)) END
          ELSE 0 END), 0) AS BIGINT) AS phash
      FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      WHERE a.i % 9 < 8
      GROUP BY a.doc_id
    ), chunks AS (
      SELECT doc_id, phash, u.b AS band,
        (phash >> (u.b * 16)) & 65535 AS chunk
      FROM bits, UNNEST(generate_series(0, 3)) u(b)
    ), ml AS (
      SELECT DISTINCT b.doc_id AS id
      FROM chunks a JOIN chunks b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 3
    ), cls AS (
      SELECT d.doc_id,
        CASE WHEN tl.id IS NOT NULL THEN 1 ELSE 0 END AS text_dup,
        CASE WHEN ml.id IS NOT NULL THEN 1 ELSE 0 END AS media_dup
      FROM toks d
      LEFT JOIN tl ON tl.id = d.doc_id
      LEFT JOIN ml ON ml.id = d.doc_id
    ), cnt AS (
      SELECT text_dup, media_dup, count(*) AS n
      FROM cls GROUP BY text_dup, media_dup
    )
    SELECT dom.text_dup, dom.media_dup,
      CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_docs
    FROM (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) dom(text_dup, media_dup)
    LEFT JOIN cnt ON cnt.text_dup = dom.text_dup
      AND cnt.media_dup = dom.media_dup
    ORDER BY dom.text_dup, dom.media_dup
"""


@_q("dedup_cross_modal_agreement", _XMODAL_SQL)
def dedup_cross_modal_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-modal dedup agreement monitor — do the TEXT and IMAGE
    legs of the dedup stack flag the same documents?  Every document
    is classified by two independent loser rules: the exact
    word-3-shingle Jaccard ≥ 0.5 min-id-survivor rule
    (operators/dedup.ngram_jaccard_pairs — the verification-grade
    text baseline) and the perceptual-dHash hamming ≤ 3 rule over the
    synthesized media column (the dedup_media_phash leg), yielding
    the 2×2 contingency (text_dup, media_dup, n_docs) with explicit
    zero rows via a domain join.  The off-diagonal cells are the
    monitor's signal: text-only losers are near-dups the perceptual
    channel misses (layout-churned rewrites), media-only losers are
    visually-identical docs with divergent text — each feeds a
    different pipeline remediation.

    Oracle = both loser CTEs recomputed in exact SQL (the
    dedup_ngram_jaccard and _PHASH_SQL disciplines composed) over the
    same classification join.

    Scale shape: the text leg is the exact-baseline inverted shingle
    index (production swaps in the banded minhash rule — identical
    classification plumbing); the media leg is one Arrow pass + the
    4-chunk bucket join; classification is two left joins on doc_id
    feeding a 4-group aggregate and a 4-row domain join."""
    from ..functions.multimodal import documents_as_ppm_media, extract_phash
    from ..operators.dedup import (
        ngram_jaccard_pairs,
        reuse_gate,
        simhash_pairs,
    )

    docs = t(spark, sf, "documents").where("text IS NOT NULL")
    tpairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    t_losers = tpairs.select(F.col("id_b").alias("doc_id")).distinct()
    hashed = reuse_gate(
        extract_phash(documents_as_ppm_media(docs)), "phash"
    )
    mpairs = simhash_pairs(hashed, "media_id", max_hamming=3,
                           hash_col="phash")
    m_losers = mpairs.select(F.col("id_b").alias("doc_id")).distinct()
    cls = (
        docs.select("doc_id")
        .join(t_losers.withColumn("__t", F.lit(1)), "doc_id", "left")
        .join(m_losers.withColumn("__m", F.lit(1)), "doc_id", "left")
        .select(
            F.coalesce("__t", F.lit(0)).alias("text_dup"),
            F.coalesce("__m", F.lit(0)).alias("media_dup"),
        )
        .groupBy("text_dup", "media_dup")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    dom = spark.range(4).select(
        (F.col("id") / 2).cast("int").alias("text_dup"),
        (F.col("id") % 2).cast("int").alias("media_dup"),
    )
    return (
        dom.join(cls, ["text_dup", "media_dup"], "left")
        .select(
            "text_dup",
            "media_dup",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_docs"),
        )
        .orderBy("text_dup", "media_dup")
    )


# ----------------------------------------- token-budget sequence packing

_PACK_BUDGET = 2048

# contiguous greedy fill: within each source (the pack shard), docs in
# doc_id order join sequence floor(exclusive_cumsum_tokens / budget) —
# a sequence absorbs docs until the budget is crossed, and the doc that
# crosses it closes the sequence (overflow tracked, never split).
_PACK_SQL = f"""
    WITH tok AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
      FROM documents WHERE text IS NOT NULL
    ), cum AS (
      SELECT source, doc_id, n_tok,
        CAST(coalesce(sum(n_tok) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS prior
      FROM tok
    )
    SELECT source, CAST(prior // {_PACK_BUDGET} AS BIGINT) AS seq_id,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS tokens,
      CAST(greatest(max(prior + n_tok) - ({_PACK_BUDGET} *
        (prior // {_PACK_BUDGET} + 1)), 0) AS BIGINT) AS overflow
    FROM cum
    GROUP BY source, prior // {_PACK_BUDGET}
    ORDER BY source, seq_id
"""


@_q("corpus_sequence_packing", _PACK_SQL)
def corpus_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing — the pretraining batch-assembly
    op: documents are packed contiguously (doc_id order, never split)
    into fixed-budget training sequences per source shard, each doc
    joining sequence ``floor(exclusive_cumsum_tokens / budget)`` so a
    sequence absorbs docs until the budget is crossed and the
    crossing doc closes it.  Per (source, seq_id): doc count, token
    sum, and the overflow past the budget (the truncation-or-carry
    amount the trainer handles).  Whitespace token counts — the
    catalog's cheap token rule; the BPE tier swaps in via
    text_bpe_token_count.

    Oracle = the identical integer window/floor-division arithmetic
    in SQL (exclusive-frame running sum, BIGINT division).

    Scale shape: one window partitioned by source (the pack shard) in
    doc_id order, then one hash aggregate on (source, seq) — no
    global ordering anywhere.  At 100 TB the shard key is
    (source, hash-bucket) so no partition outgrows an executor; the
    per-shard sequential cumsum is exactly the scan order parquet
    already provides within a bucket."""
    from pyspark.sql import Window

    docs = t(spark, sf, "documents").where("text IS NOT NULL")
    tok = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = tok.withColumn(
        "prior", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint")
    ).withColumn("seq_id", F.expr(f"prior div {_PACK_BUDGET}"))
    return (
        cum.groupBy("source", "seq_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.greatest(
                F.max(F.col("prior") + F.col("n_tok"))
                - (F.col("seq_id") + 1) * _PACK_BUDGET,
                F.lit(0),
            )
            .cast("bigint")
            .alias("overflow"),
        )
        .select(
            "source",
            F.col("seq_id").cast("bigint").alias("seq_id"),
            "n_docs",
            "tokens",
            "overflow",
        )
        .orderBy("source", "seq_id")
    )
