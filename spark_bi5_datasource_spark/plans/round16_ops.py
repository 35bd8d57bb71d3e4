"""Round-16 catalog additions (builder round 11): the production
corpus-build posture the r10 verdict asked for (ask #5).

* ``corpus_build_production`` — ``corpus_build_snapshot`` with the
  exact shingle-Jaccard self-join replaced by the MINHASH BANDED
  stage (operators/dedup.minhash_dedup) — the posture the streaming
  twin (streaming/crawl.stream_corpus_build_writer) already ships via
  the stored band index.  Oracle: the same composed exact SQL as the
  snapshot (the dedup_minhash trick — the banded stage only drops
  VERIFIED pairs, so equality holds when LSH recall catches every
  loser; pinned at oracle scales by pytest and hash-gated every
  driver run).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query as _q
from .round15_ops import _CBS_SQL, corpus_inputs, corpus_tail_stages


@_q("corpus_build_production", _CBS_SQL)
def corpus_build_production(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-build pipeline in its PRODUCTION posture: stages
    1+2 (exact dedup → near-dedup) run as one ``minhash_dedup`` pass
    — the hash-exact pre-pass inside it IS stage 1 (min-id survivor
    per identical text), and the banded LSH + verify-last stage
    replaces ``corpus_build_snapshot``'s exact inverted-shingle-index
    self-join.  Stages 3-5 (quality filter → benchmark
    decontamination → per-source 2048-token sequence packing) are
    literally shared code (round15_ops.corpus_tail_stages), so the
    two entries differ ONLY in the near-dedup engine.

    Why this is the shape that ships at 100 TB: the snapshot's exact
    stage pairs every co-shingled doc pair (the inverted index is
    |pairs|-quadratic on boilerplate shingles), which is the
    verification-grade bar its oracle can mirror — but a production
    corpus build pays the banded cost instead: signatures once,
    16-band bucket-representative pairing, exact Jaccard only on
    candidates (verify-last).  The streaming twin
    (stream_corpus_build_writer) has shipped this stage from day one
    via the stored band index; this entry is its batch equal.

    Oracle = the snapshot's composed exact SQL, unchanged (the
    dedup_minhash discipline): the banded stage drops only VERIFIED
    jaccard ≥ 0.5 pairs under the same min-id rule, so its survivor
    set equals the exact pass whenever LSH recall catches every
    loser — deterministic (seeded permutations) and pinned at both
    oracle fixture scales by
    tests/test_operators.py::test_corpus_production_equals_snapshot;
    the driver re-checks the hash every window it rotates in.

    Scale shape: identical to the snapshot for stages 3-5 (map-side
    filter, broadcast decontam membership, per-source packing
    window); stage 1+2 is the dedup_minhash engine — one exchange on
    (band, bucket) with content-derived keys, candidates deduped
    before verification, no corpus self-pairing beyond bucket
    representatives."""
    from ..operators.dedup import minhash_dedup

    d0, bench_sh = corpus_inputs(spark, sf)
    # stages 1+2 fused: minhash_dedup's built-in exact_dedup pre-pass
    # is exactly stage 1; bands=16 at num_perm=32 (2 rows/band) is
    # the high-recall delta-dedup configuration, and recall at the
    # oracle scales is pinned by the equality test
    d2 = minhash_dedup(
        d0, "doc_id", "text", n=3, num_perm=32, bands=16, threshold=0.5
    )
    return corpus_tail_stages(d2, bench_sh)


# ---------------------------- co-bucketed doc⋈embedding write path

_COBUCKET_SQL = """
    SELECT d.source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(e.vec_id) AS BIGINT) AS n_vecs,
      CAST(sum(len(e.embedding)) AS BIGINT) AS dim_cells,
      CAST(sum(CASE WHEN e.label IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_labeled
    FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    WHERE d.source IS NOT NULL
    GROUP BY d.source ORDER BY d.source
"""


def _cobucketed_tables(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame]:
    """Materialize (once per fixture, fingerprint-keyed) the
    documents/embeddings pair through the PUBLIC co-bucketed write
    path — ``sources.layout.write_bucketed``, each table hash-
    bucketed and sorted on its id with the same bucket count — and
    return the two registered bucketed frames.  New sessions
    re-attach the existing directories via ``register_bucketed``
    (DDL only)."""
    import hashlib

    from ..sources.layout import (
        enable_sorted_bucketed_scans,
        register_bucketed,
        write_bucketed,
    )
    from .round13_ops import _warehouse
    from .tables import read_parquet

    parts: list[str] = []
    for name in ("documents", "embeddings"):
        src = os.path.join(os.path.normpath(sf), f"{name}.parquet")
        if os.path.exists(src):
            st = os.stat(src)
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:12]
    base = os.path.join(_warehouse(sf, "cobucketed_docs_emb"), fp)
    # layout-session flag via the shared setup path (idempotent; see
    # enable_sorted_bucketed_scans for why it is session-wide)
    enable_sorted_bucketed_scans(spark)
    out = []
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        tbl = f"bi5_cobucket_{fp}_{name}"
        path = os.path.join(base, name)
        if not spark.catalog.tableExists(tbl):
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                register_bucketed(spark, path, tbl, key, 32)
            else:
                write_bucketed(
                    read_parquet(spark, os.path.join(sf, f"{name}.parquet")),
                    path,
                    tbl,
                    key,
                    32,
                )
        out.append(spark.table(tbl))
    return out[0], out[1]


@_q("layout_cobucketed_docs_emb", _COBUCKET_SQL)
def layout_cobucketed_docs_emb(spark: SparkSession, sf: str) -> DataFrame:
    """The unstructured-pair layout keystone made a first-class op:
    documents and embeddings are WRITTEN through the public
    co-bucketed path (``sources.layout.write_bucketed`` — 32 hash
    buckets, sorted, documents on doc_id / embeddings on vec_id) and
    the audit join runs over the co-located layout: per source, doc
    count, matched-vector count, total embedding cells and labeled
    count — the dq_doc_embedding_coverage join family, executed the
    way a 100-TB corpus stores the pair permanently.

    The plan contract (pinned by tests/test_plan_shapes.py): the
    doc⋈emb id join is a SortMergeJoin over two ``Bucketed: true``
    scans with NO exchange and NO sort between them — the layout,
    not the optimizer, pays the co-location.  Any id-keyed consumer
    (coverage, referential integrity, ANN index probes, retrieval
    join-backs) that reads the two registered tables joins the same
    way; this entry exercises the WRITE path that produces them,
    fingerprint-cached per fixture like the stored band index.

    Scale shape: the write is one hash repartition per table (once
    per corpus snapshot, amortized across every subsequent join);
    the audit join is exchange-free by layout; the rollup is a
    ≤|sources| aggregate.  Oracle = the plain-layout SQL twin — the
    layout must change the PLAN, never the rows."""
    docs, emb = _cobucketed_tables(spark, sf)
    j = docs.where("source IS NOT NULL").join(
        emb, docs.doc_id == emb.vec_id, "left"
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("vec_id").cast("bigint").alias("n_vecs"),
            F.sum(F.size("embedding")).cast("bigint").alias("dim_cells"),
            F.sum(
                F.when(F.col("label").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_labeled"),
        )
        .orderBy("source")
    )
