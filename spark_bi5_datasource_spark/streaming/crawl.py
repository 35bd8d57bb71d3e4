"""Streaming recurring-crawl dedup: the Structured-Streaming leg of
the band-index loop (operators/band_index.py + dedup.
minhash_delta_dedup).

A crawl in production is not a batch — increments arrive continuously.
``stream_crawl_dedup_writer`` consumes a stream of candidate documents
and maintains BOTH per-crawl artifacts incrementally:

* the kept-corpus parquet (texts of every surviving doc so far), and
* the stored band index (one append of the survivors' band rows per
  batch — ``merge_band_index`` with ``assume_new`` semantics: no
  retire, fresh ids, so the merge is a pure append and parquet
  ``append`` mode IS the merge).

Each micro-batch is deduped against everything kept before it
(``minhash_delta_dedup`` probing the STORED index — candidates only
cross the batch×corpus boundary, the corpus never self-pairs), so the
loop is |Δ|·|C| per batch forever, and a replayed batch converges via
the ``_applied_batch`` marker (the upsert_sink exactly-once
discipline).

One loop serves both writers: ``stream_corpus_build_writer`` puts an
optional quality filter and benchmark decontamination in front of the
dedup, and ``stream_crawl_dedup_writer`` is that writer with both
filters off.

Correctness is pinned by tests/test_streaming.py: an availableNow
replay over N increment files (maxFilesPerTrigger=1) must leave
exactly the corpus the batch-mode fold of ``minhash_delta_dedup``
produces over the same files in the same order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.band_index import minhash_band_index
from ..operators.dedup import minhash_delta_dedup

__all__ = ["stream_crawl_dedup_writer", "stream_corpus_build_writer"]


def stream_crawl_dedup_writer(
    increments: DataFrame,
    corpus_dir: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming document frame into the crawl-dedup loop;
    returns the started ``StreamingQuery``.  This is
    ``stream_corpus_build_writer`` with both filter stages off.

    ``corpus_dir``/``index_dir`` may start empty (the first batch
    seeds both) or pre-seeded by a batch build
    (``write_band_index`` + a text parquet).  Batch-internal
    duplicates both survive — the delta contract: dedup is against
    the standing corpus, not within the increment (an in-batch exact
    pass can be composed upstream with ``exact_dedup``)."""
    return stream_corpus_build_writer(
        increments,
        corpus_dir,
        index_dir,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        checkpoint_dir=checkpoint_dir,
    )


def stream_corpus_build_writer(
    increments: DataFrame,
    corpus_dir: str,
    index_dir: str,
    bench_shingles: DataFrame | None = None,
    quality_threshold: float | None = None,
    contam_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
):
    """The STREAMING twin of ``plans.curation_ops.corpus_build_snapshot``:
    each micro-batch runs the full corpus-build stage chain —

    1. quality filter (``quality_score_cols`` ≥ ``quality_threshold``,
       skipped when None),
    2. benchmark decontamination (per-doc distinct-shingle overlap vs
       the broadcast ``bench_shingles`` frame — a one-column
       eval-set-sized ``shingle`` frame, e.g. from ``with_shingles``
       over the held-out slice — drop at ≥ ``contam_threshold``;
       skipped when None),
    3. delta dedup against everything kept so far (stored band index
       probe, |Δ|·|C| per batch, corpus never self-pairs),

    then appends survivors to the kept-corpus parquet and their band
    rows to the stored index.  Stage ORDER contract: quality and
    decontamination run BEFORE dedup — only fully-kept docs enter the
    corpus, so later batches dedup against the curated corpus, never
    against docs a filter already rejected (the batch snapshot op, by
    contrast, dedups its one fixed corpus first; both orders are
    deterministic and the stream≡batch-fold pytest pins this one).
    Effectively-once via the ``_applied_batch`` markers plus the
    index-before-docs append order: any crash point replays to the
    same corpus (orphan/duplicate index rows are absorbed by the
    verify join-back and candidate dedup; no crash point can leave a
    corpus doc without band rows).

    Scale shape per batch: two map-side filters (the quality score is
    a generated column; the decontam membership test is a broadcast
    join) in front of the |Δ|·|C| banded probe — filters first so the
    pairing stage sees only docs that can actually be kept."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..functions.text import quality_score_cols
        from ..operators.dedup import with_shingles

        spark = batch_df.sparkSession
        marker = os.path.join(corpus_dir, f"_applied_batch_{batch_id}")
        if os.path.exists(marker):
            return
        batch_df = batch_df.select(id_col, text_col)
        if quality_threshold is not None:
            batch_df = (
                batch_df.select(
                    id_col, text_col, quality_score_cols(text_col)
                )
                .where(F.col("quality") >= quality_threshold)
                .drop("quality")
            )
        if bench_shingles is not None:
            bench = F.broadcast(
                bench_shingles.select(
                    F.col(bench_shingles.columns[0]).alias("shingle")
                )
                .distinct()
                .withColumn("__hit", F.lit(1))
            )
            contam = (
                with_shingles(batch_df, text_col, n)
                .select(id_col, F.explode("shingles").alias("shingle"))
                .join(bench, "shingle", "left")
                .groupBy(id_col)
                .agg(
                    F.count("*").alias("__n"),
                    F.count("__hit").alias("__h"),
                )
                .where(F.col("__h") / F.col("__n") >= contam_threshold)
                .select(id_col)
            )
            batch_df = batch_df.join(contam, id_col, "left_anti")
        have_corpus = any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(corpus_dir)
            for f in fs
        )
        if have_corpus:
            corpus = spark.read.parquet(os.path.join(corpus_dir, "docs"))
            stored = spark.read.parquet(os.path.join(index_dir, "bands"))
            kept = minhash_delta_dedup(
                corpus,
                batch_df,
                id_col,
                text_col,
                n=n,
                num_perm=num_perm,
                bands=bands,
                threshold=threshold,
                corpus_index=stored,
            )
        else:
            kept = batch_df
        # localCheckpoint: cut the lineage so the two writes below
        # compute the dedup exactly once (and don't re-read the
        # corpus dirs they are about to append to)
        kept = kept.localCheckpoint(eager=True)
        # Index BEFORE docs: a crash between the appends leaves an
        # orphan index row (harmless — verification inner-joins back
        # to the docs parquet, and replay's duplicate band rows are
        # absorbed by candidate dropDuplicates), never a corpus doc
        # with no band rows (permanent recall loss).  Docs-first had
        # the fatal replay: the batch deduped to empty against its
        # own half-written docs (jaccard 1.0 with itself).
        minhash_band_index(
            kept, id_col, text_col, n, num_perm, bands
        ).write.mode("append").parquet(os.path.join(index_dir, "bands"))
        kept.write.mode("append").parquet(os.path.join(corpus_dir, "docs"))
        open(marker, "w").close()

    writer = increments.writeStream.foreachBatch(apply)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()
