"""Round-13 catalog additions (builder round 9): the ops the r8
verdict asked for.

* ``dedup_band_index_merge`` — persisted band-index maintenance: the
  recurring-crawl loop ``dedup_incremental_delta`` opened, completed.
  The corpus band index is BUILT, MERGED through one crawl cycle
  (retire dropped docs' bands, append new docs' bands, keyed on
  (band, bucket, doc_id)), WRITTEN to parquet, READ BACK, and the new
  increment is deduped probing the STORED index — end-to-end through
  the storage round-trip.  Oracle: the exact shingle-Jaccard SQL over
  increment×live-corpus pairs (the dedup_incremental_delta equality
  discipline) — any corruption in merge logic or the parquet
  round-trip changes the candidate set and breaks the hash.
* ``dedup_media_phash`` — perceptual-hash near-dup dedup over the
  multimodal binary column: 64-bit dHash from the REAL pure-Python
  image decoders (functions/multimodal.py), then the simhash-style
  16-bit banding + hamming verify.  Makes the media column a dedup
  *participant*, not just a feature source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query as _q
from .tables import t

# --------------------------------- persisted band-index maintenance

# the deterministic crawl-cycle split over documents:
#   initial corpus  doc_id % 10 ∈ {1..8}
#   added docs      doc_id % 10 = 9   (this crawl's keepers)
#   retired ids     initial ∩ (doc_id % 7 = 3)
#   new increment   doc_id % 10 = 0   (probes the maintained index)
# live corpus = (initial \ retired) ∪ added — the SQL twin's x-side.
_BANDIDX_SQL = """
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
      WHERE ((x.doc_id % 10 NOT IN (0, 9) AND x.doc_id % 7 <> 3)
             OR x.doc_id % 10 = 9)
        AND y.doc_id % 10 = 0
      GROUP BY x.doc_id, y.doc_id, sa.sz, sb.sz
      HAVING CAST(count(*) AS DOUBLE) / (sa.sz + sb.sz - count(*)) >= 0.5
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT id FROM losers)
    ORDER BY doc_id
"""


def _warehouse(sf: str, leaf: str) -> str:
    """Deterministic scratch location inside the repo's gitignored
    spark-warehouse/, anchored on the package path (cwd-independent),
    keyed by the sf dir's basename so scales don't clobber each
    other."""
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(
        repo,
        "spark-warehouse",
        leaf,
        os.path.basename(os.path.normpath(sf)),
    )


@_q("dedup_band_index_merge", _BANDIDX_SQL)
def dedup_band_index_merge(spark: SparkSession, sf: str) -> DataFrame:
    """One full crawl cycle of PERSISTED band-index maintenance
    (operators/band_index.py): build the initial corpus's minhash
    band index, merge one cycle (retire doc_id%7=3, append the
    doc_id%10=9 adds), write it to parquet, read it back, and dedup
    the doc_id%10=0 increment probing the STORED index — the
    production artifact ``dedup_incremental_delta``'s docstring says
    "at scale is precomputed and stored once per crawl", made real
    through the storage round-trip.  Surviving increment docs are
    returned; a doc is dropped iff a verified word-3-shingle Jaccard
    ≥ 0.5 live-corpus neighbor exists.

    Oracle = the exact increment×live-corpus shingle-index SQL (the
    dedup_incremental_delta equality discipline): merge errors —
    un-retired bands resurrecting a dropped doc as a candidate whose
    text join-back then dangles, missed adds losing a loser, parquet
    round-trip corruption — all shift the verified drop set and break
    the hash.  Stored-vs-inline index EXACT row equality is
    additionally pinned by pytest (tests/test_operators.py).

    Scale shape: the index is ~bands×|C| narrow rows written once per
    crawl; the merge is one anti-join + one append (plus an
    idempotence distinct this entry exercises deliberately); the
    probe is the |Δ|·|C| banded join of minhash_delta_dedup — the
    corpus is never self-paired, and a 1000-crawl history pays ONE
    stored index, not 1000 rebuilds.  The probe runs the PRODUCTION
    posture: ``max_bucket=200`` skips megabucket (band, bucket) keys
    — boilerplate attractors whose fan-out is quadratic while their
    members collide in other bands anyway — so the entry stays
    bounded on duplicate-saturated corpora (the x1000 stride-replica
    tier degenerated the no-cap config to ~5e8 verify pairs;
    HISTORY.md "Band-index cap").  The cap is NON-BINDING at oracle scales
    (measured max bucket: 3 at sf0.01, 5 at sf0.1 — r10), so exact
    SQL equality still gates every driver run; no-cap exactness is
    separately pinned by the band_index pytest suite, and
    non-bindingness itself is a pytest GATE (tests/test_operators.
    TestBandIndexMaintenance.test_merge_entry_cap_nonbinding_at_
    oracle_scales rebuilds this merged index at every oracle fixture
    scale and fails loudly if any bucket exceeds the cap — a fixture
    regeneration can't silently detach the entry from its oracle)."""
    from ..operators.band_index import (
        merge_band_index,
        minhash_band_index,
        read_band_index,
        write_band_index,
    )
    from ..operators.dedup import minhash_delta_dedup

    docs = t(spark, sf, "documents")
    initial = docs.where("doc_id % 10 NOT IN (0, 9)")
    adds = docs.where("doc_id % 10 = 9")
    retired = initial.where("doc_id % 7 = 3").select("doc_id")
    increment = docs.where("doc_id % 10 = 0")

    idx = minhash_band_index(
        initial, "doc_id", "text", n=3, num_perm=32, bands=16
    )
    merged = merge_band_index(
        idx,
        added=adds,
        retired=retired,
        id_col="doc_id",
        text_col="text",
        n=3,
        num_perm=32,
        bands=16,
    )
    path = _warehouse(sf, "band_index")
    write_band_index(merged, path)
    stored = read_band_index(spark, path)

    live = initial.where("doc_id % 7 <> 3").unionByName(adds)
    kept = minhash_delta_dedup(
        live,
        increment,
        "doc_id",
        "text",
        n=3,
        num_perm=32,
        bands=16,
        threshold=0.5,
        max_bucket=200,
        corpus_index=stored,
    )
    return kept.select("doc_id", "lang", "source").orderBy("doc_id")


# ----------------------------------- perceptual-hash multimodal dedup

# bit r*8+c of the dHash compares gray(r,c) > gray(r,c+1) on the 9×8
# grid; pixel index i = r*9+c; gray = (len(token[(i % n_tokens)+1])*7)
# % 128 — exactly what documents_as_ppm_media bakes into the P6
# payload the Spark side DECODES back.  Bit 63 (i=70) is the sign bit
# of the BIGINT: materialized as the signed constant (DuckDB's `<< 63`
# raises on overflow; the signed sum equals the two's-complement
# pattern the kernel emits).
_PHASH_SQL = """
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
    ), g AS (
      SELECT doc_id, i, (len(tk[(i % len(tk)) + 1]) * 7) % 128 AS g
      FROM tk, UNNEST(generate_series(0, 71)) u(i)
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
      SELECT doc_id, phash, u.b AS band, (phash >> (u.b * 16)) & 65535 AS chunk
      FROM bits, UNNEST(generate_series(0, 3)) u(b)
    ), losers AS (
      SELECT DISTINCT b.doc_id AS id
      FROM chunks a JOIN chunks b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 3
    )
    SELECT doc_id AS media_id, phash FROM bits
    WHERE doc_id NOT IN (SELECT id FROM losers)
    ORDER BY media_id
"""


@_q("dedup_media_phash", _PHASH_SQL)
def dedup_media_phash(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash near-dup dedup over the multimodal binary
    column: every document becomes a REAL 9×8 P6 image
    (functions/multimodal.documents_as_ppm_media — pixels derived
    from token lengths, so near-dup texts yield near-dup images), the
    payload is DECODED back through the pure-Python decoder stack and
    dHashed in one Arrow mapInPandas kernel (extract_phash →
    dhash64), and near-dups are dropped min-id-survivor style via the
    established simhash machinery: 4×16-bit banding + bit_count(xor)
    hamming verify (operators/dedup.simhash_pairs — pigeonhole makes
    hamming ≤ 3 banding EXACT, no recall luck).  The media column
    becomes a dedup PARTICIPANT, not just a feature source — the
    "dedup × multimodal" cross.

    Oracle = the same dHash recomputed arithmetically from
    string_split token lengths (the decode leg is an identity over
    the raster the synth kernel wrote — any decoder, hash, banding or
    survivor error breaks value equality), with the identical banded
    chunk join.  A planted near-dup pytest additionally pins the
    kernel on images the synthesizer did NOT produce
    (tests/test_operators.py).

    Scale shape: one Arrow pass per payload (decode+hash, no Python
    per-row UDF), then the simhash_pairs shape — identical-hash
    collapse to representatives, 4-chunk bucket join (content-derived
    keys), hamming verify on candidates only; survivors via one
    left_anti.  No all-pairs anywhere; payload bytes never shuffle
    past the hash kernel."""
    from ..functions.multimodal import documents_as_ppm_media, extract_phash
    from ..operators.dedup import reuse_gate, simhash_pairs

    docs = t(spark, sf, "documents").where("text IS NOT NULL")
    # reuse_gate: one narrow exchange so the synth+decode kernel runs
    # once, not once per consuming branch (21.5 s → 9.4 s at x100 —
    # see the helper's docstring)
    hashed = reuse_gate(
        extract_phash(documents_as_ppm_media(docs)), "phash"
    )
    pairs = simhash_pairs(hashed, "media_id", max_hamming=3, hash_col="phash")
    losers = pairs.select(F.col("id_b").alias("media_id")).distinct()
    return (
        hashed.join(losers, "media_id", "left_anti")
        .select("media_id", "phash")
        .orderBy("media_id")
    )


# ------------------------------------- audio-fingerprint media dedup

# bit i of the fingerprint compares sample s(i) > s(i+1) over the 65
# synthesized samples; s(i) = (len(token[(i % n_tokens)+1]) * 13) %
# 256 - 128 (the ·256 PCM gain in the payload cancels — comparisons
# only).  Bit 63 as the signed constant, same as _PHASH_SQL.
_AFP_SQL = """
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, i,
        (len(tk[(i % len(tk)) + 1]) * 13) % 256 - 128 AS v
      FROM tk, UNNEST(generate_series(0, 64)) u(i)
    ), bits AS (
      SELECT a.doc_id,
        CAST(coalesce(sum(CASE WHEN a.v > b.v THEN
          CASE WHEN a.i = 63 THEN -9223372036854775807 - 1
            ELSE 1::BIGINT << a.i END
          ELSE 0 END), 0) AS BIGINT) AS afp
      FROM s a JOIN s b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      WHERE a.i < 64
      GROUP BY a.doc_id
    ), chunks AS (
      SELECT doc_id, afp, u.b AS band, (afp >> (u.b * 16)) & 65535 AS chunk
      FROM bits, UNNEST(generate_series(0, 3)) u(b)
    ), losers AS (
      SELECT DISTINCT b.doc_id AS id
      FROM chunks a JOIN chunks b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.afp, b.afp)) <= 3
    )
    SELECT doc_id AS media_id, afp FROM bits
    WHERE doc_id NOT IN (SELECT id FROM losers)
    ORDER BY media_id
"""


@_q("dedup_audio_fingerprint", _AFP_SQL)
def dedup_audio_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-dup dedup over the multimodal binary column — the
    audio leg of the dedup × multimodal cross (dedup_media_phash is
    the image leg): every document becomes a REAL 16-bit PCM WAV
    (functions/multimodal.documents_as_wav_media — 65 samples from
    token lengths, so near-dup texts yield near-identical waveforms),
    the payload is decoded back through the real WAV stack
    (_audio_samples) and difference-fingerprinted in one Arrow
    mapInPandas kernel (extract_audio_fingerprint → afingerprint64 —
    gain-invariant consecutive-frame comparisons), then near-dups are
    dropped min-id-survivor style via the simhash machinery (4×16-bit
    banding + hamming ≤ 3, exact by pigeonhole).

    Oracle = the same fingerprint recomputed arithmetically from
    string_split token lengths (the WAV encode→decode legs are an
    exact round-trip over the synthesized samples; the PCM gain
    cancels in comparisons), identical banded chunk join.  A planted
    near-dup pytest pins the kernel on real multi-rate / multi-codec
    WAVs the synthesizer did NOT produce.

    Scale shape: identical to dedup_media_phash — one Arrow pass per
    payload, identical-hash collapse, 4-chunk bucket join, hamming
    verify, one left_anti; payload bytes never shuffle past the
    fingerprint kernel."""
    from ..functions.multimodal import (
        documents_as_wav_media,
        extract_audio_fingerprint,
    )
    from ..operators.dedup import reuse_gate, simhash_pairs

    docs = t(spark, sf, "documents").where("text IS NOT NULL")
    hashed = reuse_gate(
        extract_audio_fingerprint(documents_as_wav_media(docs)), "afp"
    )
    pairs = simhash_pairs(hashed, "media_id", max_hamming=3, hash_col="afp")
    losers = pairs.select(F.col("id_b").alias("media_id")).distinct()
    return (
        hashed.join(losers, "media_id", "left_anti")
        .select("media_id", "afp")
        .orderBy("media_id")
    )


# -------------------------------------------- band-index health stats

_BI_P = (1 << 61) - 1
_BI_POLY_P = 1_000_000_007
_BI_NPERM = 32
_BI_BANDS = 16
_BI_CAP = 200


def _bi_health_sql() -> str:
    import random

    rng = random.Random(0x5EED + _BI_NPERM)
    a = [rng.randrange(1, 1 << 30) for _ in range(_BI_NPERM)]
    b = [rng.randrange(0, _BI_P) for _ in range(_BI_NPERM)]
    perms = ", ".join(f"({i}, {a[i]}, {b[i]})" for i in range(_BI_NPERM))
    return f"""
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
    ), hs AS (
      SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        list_transform(string_split(shingle, ''),
          c -> CAST(ascii(c) AS BIGINT))),
        (acc, c) -> (acc * 131 + c) % {_BI_POLY_P}) AS h
      FROM sh
    ), mh AS (
      SELECT doc_id, p.i, min((p.a * h + p.b) % {_BI_P}) AS mv
      FROM hs CROSS JOIN (VALUES {perms}) p(i, a, b)
      GROUP BY doc_id, p.i
    ), sigs AS (
      SELECT doc_id, list(mv ORDER BY i) AS sig FROM mh GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, u.b AS band,
        CAST(sig[2 * u.b + 1] AS VARCHAR) || ',' ||
        CAST(sig[2 * u.b + 2] AS VARCHAR) AS bucket
      FROM sigs, UNNEST(generate_series(0, {_BI_BANDS} - 1)) u(b)
    ), sizes AS (
      SELECT band, bucket, count(*) AS sz
      FROM bands GROUP BY band, bucket
    )
    SELECT CAST(band AS BIGINT) AS band,
      CAST(sum(sz) AS BIGINT) AS n_rows,
      CAST(count(*) AS BIGINT) AS n_buckets,
      CAST(max(sz) AS BIGINT) AS max_bucket,
      CAST(sum(CASE WHEN sz > {_BI_CAP} THEN 1 ELSE 0 END) AS BIGINT)
        AS megabuckets,
      CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) * 1000000
        // count(*) AS BIGINT) AS singleton_ppm
    FROM sizes GROUP BY band ORDER BY band
"""


@_q("dedup_band_index_health", _bi_health_sql())
def dedup_band_index_health(spark: SparkSession, sf: str) -> DataFrame:
    """Band-index health monitor — the tuning table behind the
    megabucket rule and delta-dedup's ``max_bucket`` knob: per band,
    the bucket count, max bucket size, megabucket count (> 200
    members — boilerplate attractors with quadratic pair fan-out)
    and singleton share in exact ppm (operators/band_index.
    band_index_stats).  Run per crawl next to the recall/error/
    band-tuning monitors; a rising megabucket count is the early
    signal to lower ``max_bucket`` or raise bands.

    The monitored index is built with the PRODUCTION permutation
    family over the engine-portable polynomial shingle hash
    (minhash_band_index_portable — the dedup_minhash_error_monitor
    portability policy) so the DuckDB twin reproduces every bucket
    key bit-for-bit.  Two deltas vs the production index, stated
    precisely: the xxhash64 bucket COMPACTION only renames buckets
    (identical per-band size multisets given the same signatures —
    pinned by pytest), while the shingle-hash FAMILY shifts which
    near-threshold pairs collide in which band — populations are
    statistically, not bitwise, equivalent, which is exactly the
    fidelity a health monitor needs (and the same trade
    dedup_minhash_error_monitor documents).

    Scale shape: per-doc signature work is narrow HOF expressions on
    one scan, then one exchange on (band, bucket) into the size
    aggregate and a 16-row rollup."""
    from ..operators.band_index import (
        band_index_stats,
        minhash_band_index_portable,
    )

    docs = t(spark, sf, "documents").where("text IS NOT NULL")
    idx = minhash_band_index_portable(
        docs,
        "doc_id",
        "text",
        n=3,
        num_perm=_BI_NPERM,
        bands=_BI_BANDS,
    )
    return band_index_stats(idx, cap=_BI_CAP)
