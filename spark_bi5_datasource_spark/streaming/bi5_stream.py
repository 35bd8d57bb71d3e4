"""Streaming bi5 source: tail a growing Dukascopy directory tree.

The reference is batch-only (``ReadSupport`` only, DS24:26-27); this
is the natural Structured Streaming extension (SURVEY §2 Tier C "bi5
streaming scan").  Micro-batch model:

* offset = the set of files already processed, tracked as a sorted
  list in the offset JSON.  Set-difference is exact only while no
  processed hour file is rewritten: true of a Dukascopy download, but
  not of this repo's own writer, which replaces an existing hour file
  without error (open in ROADMAP.md).  A rewritten path is never re-read,
  so its new rows are missed;
* each micro-batch plans its new files with the batch source's
  planner (``plan_partitions``: grouped by top-level entry, cut under
  Spark's byte budget) and shares the batch reader's option
  validation, path pruning and decode (``Bi5Scan``);
* dirty files follow the same silent-skip contract (A10);
* the ``tickers``/``start``/``end`` prune options are honored when
  listing, so the watch window is bounded the same way as the batch
  reader's option pruning;
* ``min.age.seconds`` (default 0) excludes files modified more
  recently than the given age from an offset — protection against
  ingesting a file mid-write (a truncated decode would otherwise be
  final, since offsets never revisit a path).

Scale note: the offset carries file paths, so very deep histories
should bound the watch window with ``start``/``end``/``tickers``.
The per-batch work is proportional to *new* files only.
"""

from __future__ import annotations

import os
import time

from pyspark.sql.datasource import DataSourceStreamReader

from ..sources.bi5_codec import iter_bi5_files
from ..sources.bi5_datasource import Bi5Scan, plan_partitions

__all__ = ["Bi5StreamReader", "stream_bi5_writer"]


class Bi5StreamReader(Bi5Scan, DataSourceStreamReader):
    def __init__(self, options) -> None:
        super().__init__(options)
        self.min_age_s = float(options.get("min.age.seconds", "0"))

    def _keep(self, fpath: str) -> bool:
        if self.min_age_s > 0:
            try:
                if time.time() - os.path.getmtime(fpath) < self.min_age_s:
                    return False  # possibly still being written
            except OSError:
                return False
        return self._keep_file(fpath, self.opt_tickers, self.opt_start_us, self.opt_end_us)

    # offsets are {"files": [...]} — immutable-file set semantics
    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": sorted(f for f in iter_bi5_files(self.path) if self._keep(f))}

    def partitions(self, start: dict, end: dict):
        new_files = sorted(set(end["files"]) - set(start["files"]))
        return plan_partitions(self.path, new_files)

    def commit(self, end: dict) -> None:
        pass  # offsets are self-contained; nothing to clean up

    def stop(self) -> None:
        pass


def stream_bi5_writer(stream_df, path: str, digits: int, january: int = 0):
    """foreachBatch sink writing each micro-batch into a bi5 tree —
    the ingestion loop closed: a tick stream lands in the same
    hour-file layout the batch scanner (and the reference) reads.

    Each batch routes through ``write_bi5_tree`` (one task per
    (ticker, hour) file).  Delivery is at-least-once per Structured
    Streaming's foreachBatch contract.  Each hour file is opened with
    ``"wb"``, so a batch with rows for an hour already on disk, a
    replay or a later batch alike, replaces that file without error:
    a replay rewrites the same rows, but a later batch's rows for the
    same hour replace the earlier ones (open in ROADMAP.md).  The writer's
    commit-time check only compares the tasks of one job, after they
    have written.  Returns the DataStreamWriter (caller picks
    trigger/checkpoint and starts it).
    """
    from ..sources.bi5_writer import write_bi5_tree

    def apply(batch_df, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            write_bi5_tree(batch_df, path, digits, january)

    return stream_df.writeStream.foreachBatch(apply)
