"""Streaming append into a co-bucketed table: continuous ingestion
that PRESERVES the co-located-join layout (sources/layout.
write_bucketed's contract) instead of degrading it to plain files.

A 100-TB corpus stores its fact/doc/embedding tables hash-bucketed on
their join ids so recurring joins run exchange-free; a naive
streaming sink (plain parquet append) silently drops that property —
every post-ingest join pays the shuffle again.  This sink appends
each micro-batch THROUGH the bucketed write path: Spark's
``bucketBy(...).mode("append").saveAsTable`` hashes batch rows into
the table's existing bucket scheme, so the invariant "bucket b holds
exactly the keys with hash(key) % n == b" survives every batch and
the exchange-free plan shape is layout-guaranteed forever.

File-count reality: each batch adds up to ``buckets`` files (one per
bucket it touches).  That is the same small-files pressure every
streaming lake sink has; the cure is BUCKET-AWARE compaction —
``sources/layout.compact_buckets_selective``, which rewrites only the
buckets recent batches fragmented (O(recent ingest)) behind a
per-bucket manifest and row guard (``min_files=1`` is a full
one-file-per-bucket rebuild).  A generic directory compactor must
NOT be used here: merging files across buckets corrupts the
bucket→file mapping the exchange-free join contract depends on.

Effectively-once: the ``_applied_batch_<id>`` marker skips replayed
batches — an append is NOT idempotent, so unlike the upsert sink the
marker is load-bearing here; it is written only after the append
commits, and a crash between append and marker re-appends the batch
(at-least-once).  Exactly-once appends need a table format with
transactional commits (Delta/Iceberg) — documented, not faked.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["stream_bucketed_append_writer"]


def stream_bucketed_append_writer(
    increments: DataFrame,
    path: str,
    table: str,
    key: str,
    buckets: int = 32,
    marker_dir: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming frame into a bucketed table append loop;
    returns the started ``StreamingQuery``.

    First batch creates the table via the public write path
    (``sources.layout.write_bucketed``); later batches append with
    the identical bucket spec.  ``marker_dir`` (default: ``path`` +
    ``.markers``) holds the replay markers — outside the table
    directory so the table stays a pure parquet tree for non-Spark
    readers.

    Restart safety: the in-memory catalog forgets ``table`` across
    sessions while ``path`` still holds every previously appended
    row, so "table not in catalog" must NOT be read as "table does
    not exist" — a committed directory (``_SUCCESS`` present) is
    re-attached via ``register_bucketed`` (DDL only) and the batch
    APPENDS; only a genuinely absent directory takes the create
    path.  Without this, the first post-restart batch would
    overwrite-create and silently destroy all prior ingest."""
    from ..sources.layout import register_bucketed, write_bucketed

    markers = marker_dir or f"{path}.markers"
    os.makedirs(markers, exist_ok=True)
    # foreachBatch runs on a CLONED session whose catalog caches are
    # separate from the caller's: a refreshTable issued on the clone
    # does not invalidate the relation the ORIGINATING session cached
    # the first time it read the table (measured: the owner kept
    # counting the pre-append snapshot forever).  Capture the owner
    # here and refresh both after every append.
    owner = increments.sparkSession

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(markers, f"_applied_batch_{batch_id}")
        if os.path.exists(marker):
            return
        spark = batch_df.sparkSession
        if not spark.catalog.tableExists(table):
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                # restarted session over a live table: re-attach,
                # never overwrite-create (that would wipe prior
                # ingest the moment a checkpointed stream resumes)
                register_bucketed(spark, path, table, key, buckets)
            else:
                write_bucketed(batch_df, path, table, key, buckets)
                open(marker, "w").close()
                return
        (
            batch_df.repartition(buckets, F.col(key))
            .write.bucketBy(buckets, key)
            .sortBy(key)
            .mode("append")
            .saveAsTable(table)
        )
        # long-lived sessions cache the table's file listing;
        # without the refresh a reader that touched the table
        # before this batch silently keeps the pre-append view —
        # on the batch's cloned session AND the owning session
        # (separate relation caches)
        spark.catalog.refreshTable(table)
        if owner is not spark and owner.catalog.tableExists(table):
            owner.catalog.refreshTable(table)
        open(marker, "w").close()

    writer = increments.writeStream.foreachBatch(apply)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()
