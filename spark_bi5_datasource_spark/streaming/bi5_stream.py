"""Streaming bi5 source: tail a growing Dukascopy directory tree.

The reference is batch-only (``ReadSupport`` only, DS24:26-27); this
is the natural Structured Streaming extension (SURVEY §2 Tier C "bi5
streaming scan").  Micro-batch model:

* offset = the set of files already processed, tracked as a sorted
  list in the offset JSON (hour files are immutable once written —
  Dukascopy trees are append-only, so set-difference is exact);
* each micro-batch plans one partition per new file (same per-file
  parallelism as the batch source) and shares the batch reader's
  option validation, path pruning and decode (``Bi5Scan``);
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
from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceStreamReader, InputPartition

from ..sources.bi5_codec import iter_bi5_files
from ..sources.bi5_datasource import Bi5Scan

__all__ = ["Bi5StreamReader", "stream_bi5_writer"]


@dataclass
class Bi5StreamPartition(InputPartition):
    files: tuple[str, ...]


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
        if not new_files:
            return [Bi5StreamPartition(files=())]
        return [Bi5StreamPartition(files=(f,)) for f in new_files]

    def read(self, partition: Bi5StreamPartition):
        return self._read_files(partition.files)

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
    Streaming's foreachBatch contract; the bi5 writer's commit-time
    collision detection turns a replayed batch that would re-emit an
    existing hour file into a loud failure instead of silent
    duplication, so batches aligned to hour boundaries are
    effectively idempotent.  Returns the DataStreamWriter (caller
    picks trigger/checkpoint and starts it).
    """
    from ..sources.bi5_writer import write_bi5_tree

    def apply(batch_df, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            write_bi5_tree(batch_df, path, digits, january)

    return stream_df.writeStream.foreachBatch(apply)
