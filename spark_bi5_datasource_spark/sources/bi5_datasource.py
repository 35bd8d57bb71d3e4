"""PySpark-native bi5 DataSource (Spark 4 Python DataSource API).

Re-expresses the reference connector (spark-2.4/src/main/scala/be/
salvania/BI5DataSource.scala, "DS24") Spark-first:

* same observable contract — schema (DS24:57-66), option validation
  with the exact error strings (DS24:34-47, asserted by the reference
  tests T:164-214), month-0 path convention, silent dirty-file skip;
* scale upgrades over the reference:
  - default **one partition per .bi5 file** (reference: one per
    immediate subdirectory, DS24:70-79, which is skew-prone); the
    ``partitioning=subdir`` option restores reference semantics for
    exact test parity including ``df.rdd.getNumPartitions`` (T:218-228);
  - **filter pushdown** via ``pushFilters`` (new in Spark 4.1): the
    path encodes ``ticker`` and the ``ts`` hour, so ticker equality/IN
    and ts range predicates prune the driver-side file list before any
    task is launched.  The reference reads every file on every query
    (no pushdown interfaces, DS24:12-17).  Filters are also left for
    Spark to re-apply, so pruning is conservative and exact.
  - **vectorized decode**: each file decodes NumPy→Arrow in one shot
    and ``read()`` yields Arrow RecordBatches, instead of the
    reference's row-at-a-time JVM iterator (DS24:150-194).

Usage::

    from spark_bi5_datasource_spark import register
    register(spark)
    df = spark.read.format("bi5").option("digits", 5).load(path)
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .bi5_codec import decode_bi5_file, iter_bi5_files, parse_bi5_path

__all__ = ["Bi5DataSource", "BI5_SCHEMA"]

# Fixed 6-column schema, all non-nullable (DS24:57-66).
BI5_SCHEMA = StructType(
    [
        StructField("ticker", StringType(), nullable=False),
        StructField("ts", TimestampType(), nullable=False),
        StructField("ask", DoubleType(), nullable=False),
        StructField("bid", DoubleType(), nullable=False),
        StructField("ask_volume", DoubleType(), nullable=False),
        StructField("bid_volume", DoubleType(), nullable=False),
    ]
)

HOUR_US = 3_600_000_000


@dataclass
class Bi5Partition(InputPartition):
    """One scan task: a list of files (file mode → length 1; subdir
    compat mode → a subtree root to walk at read time)."""

    files: tuple[str, ...]
    walk: bool  # True → entries are roots to walk (subdir compat mode)


def local_path(path: str) -> str:
    """Normalize a ``file:`` URI to a plain filesystem path.

    ``spark.read.format("bi5").load(p)`` hands the reader the raw
    string, but the SQL catalog path (``CREATE TABLE ... USING bi5
    OPTIONS/LOCATION``) resolves it to a ``file:/...`` URI before the
    Python data source sees it — without this the DDL surface would
    fail the existence check on a path that exists.  Non-file schemes
    and plain paths pass through untouched."""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        parsed = urlparse(path)
        return unquote(parsed.path) or path
    return path


def _to_epoch_us(value) -> int:
    """Convert a pushed literal (datetime / int micros) to epoch micros."""
    if isinstance(value, datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=timezone.utc)
        return int(value.timestamp() * 1_000_000)
    return int(value)


class Bi5Scan:
    """Option validation, path-metadata pruning and decode shared by the
    batch reader and the streaming reader."""

    def __init__(self, options) -> None:
        # Mirrors createReader validation incl. exact messages (DS24:31-50).
        path = options.get("path")
        if path is None:
            raise ValueError("'path' must be specified for BI5 data.")
        path = local_path(path)
        if not os.path.exists(path):
            raise ValueError("Invalid path")
        digits_raw = options.get("digits")
        if digits_raw is None:
            raise ValueError("'digits' should be the digits for the currency")
        digits = int(digits_raw)
        if digits < 0:
            raise ValueError("digits cannot be smaller than 0")
        january = int(options.get("january", "0"))
        if january < 0 or january > 1:
            raise ValueError("january can only be 0 or 1")

        self.path = path
        self.digits = digits
        self.january = january
        # Extra driver-side prune knobs (comma-separated tickers, ISO
        # instants) usable even without a WHERE clause.
        self.opt_tickers = {
            t.strip() for t in options.get("tickers", "").split(",") if t.strip()
        } or None
        self.opt_start_us = _iso_to_us(options["start"]) if options.get("start") else None
        self.opt_end_us = _iso_to_us(options["end"]) if options.get("end") else None

    def _keep_file(self, fpath: str, tickers, ts_min, ts_max) -> bool:
        """Driver-side prune: drop files whose path metadata can't match
        ``tickers`` or the inclusive ``[ts_min, ts_max]`` range (``None``
        = unbounded).  Unparseable paths are kept so the executor-side
        silent-skip policy stays the single authority."""
        try:
            meta = parse_bi5_path(fpath, self.january)
        except ValueError:
            return True
        if tickers is not None and meta.ticker not in tickers:
            return False
        if ts_min is not None and meta.hour_epoch_us + HOUR_US <= ts_min:
            return False
        if ts_max is not None and meta.hour_epoch_us > ts_max:
            return False
        return True

    def _read_files(self, files: Iterable[str]):
        from .bi5_codec import ticks_record_batch

        for fpath in files:
            cols = decode_bi5_file(fpath, self.digits, self.january)
            if cols is None or len(cols["ts_us"]) == 0:
                continue  # silent skip (A10, DS24:149-186)
            yield ticks_record_batch(cols)


def _tightest(a, b, pick):
    return b if a is None else a if b is None else pick(a, b)


class Bi5Reader(Bi5Scan, DataSourceReader):
    def __init__(self, options) -> None:
        super().__init__(options)
        partitioning = options.get("partitioning", "file")
        if partitioning not in ("file", "subdir"):
            raise ValueError("partitioning must be 'file' or 'subdir'")
        self.partitioning = partitioning
        # Populated by pushFilters.
        self._pushed_tickers: set[str] | None = None
        self._pushed_ts_min_us: int | None = None  # inclusive
        self._pushed_ts_max_us: int | None = None  # inclusive

    # -- filter pushdown (Spark 4.1) ----------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Prune the file list from ticker/ts predicates.

        The path encodes ticker and the file's hour, so these predicates
        translate to file-list pruning (hour granularity for ts — kept
        conservative).  All filters are returned for Spark to re-apply,
        so correctness never depends on the pruning.
        """
        for f in filters:
            try:
                if isinstance(f, EqualTo) and f.attribute == ("ticker",):
                    self._intersect_tickers({f.value})
                elif isinstance(f, In) and f.attribute == ("ticker",):
                    # In's dataclass field is `value` (a tuple of literals)
                    self._intersect_tickers(set(f.value))
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and f.attribute == ("ts",):
                    lo = _to_epoch_us(f.value)
                    if self._pushed_ts_min_us is None or lo > self._pushed_ts_min_us:
                        self._pushed_ts_min_us = lo
                elif isinstance(f, (LessThan, LessThanOrEqual)) and f.attribute == ("ts",):
                    hi = _to_epoch_us(f.value)
                    if self._pushed_ts_max_us is None or hi < self._pushed_ts_max_us:
                        self._pushed_ts_max_us = hi
            except Exception:
                pass  # never let pruning break planning
        return iter(filters)  # Spark re-applies everything (exact semantics)

    def _intersect_tickers(self, tickers: set[str]) -> None:
        if self._pushed_tickers is None:
            self._pushed_tickers = set(tickers)
        else:
            self._pushed_tickers &= tickers

    # -- planning ------------------------------------------------------
    def partitions(self) -> Sequence[Bi5Partition]:
        if self.partitioning == "subdir":
            # Reference parity (DS24:68-79): one partition per immediate
            # directory entry; single file → one partition.
            if os.path.isdir(self.path):
                entries = sorted(os.listdir(self.path))
                parts = [
                    Bi5Partition(files=(os.path.join(self.path, e),), walk=True)
                    for e in entries
                ]
            else:
                parts = [Bi5Partition(files=(self.path,), walk=True)]
        else:
            # Scale path: one partition per file, pruned by pushed filters
            # met with the option hints.
            tickers = _tightest(self._pushed_tickers, self.opt_tickers, set.intersection)
            ts_min = _tightest(self._pushed_ts_min_us, self.opt_start_us, max)
            ts_max = _tightest(self._pushed_ts_max_us, self.opt_end_us, min)
            files = [
                f
                for f in iter_bi5_files(self.path)
                if self._keep_file(f, tickers, ts_min, ts_max)
            ]
            parts = [Bi5Partition(files=(f,), walk=False) for f in files]
        # Zero partitions is legal but loses schema-only queries' task
        # metrics parity; keep an empty partition so count()==0 still
        # runs a (no-op) task like the reference's empty-walk reader.
        return parts or [Bi5Partition(files=(), walk=False)]

    # -- execution -----------------------------------------------------
    def read(self, partition: Bi5Partition):
        files: Iterable[str] = partition.files
        if partition.walk:
            files = (f for root in files for f in iter_bi5_files(root))
        return self._read_files(files)


def _iso_to_us(value: str) -> int:
    dt = datetime.fromisoformat(value)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000)


class Bi5DataSource(DataSource):
    """``spark.read.format("bi5")`` — Dukascopy tick files.

    Options: ``digits`` (required, int ≥ 0), ``january`` (0/1, default
    0), ``partitioning`` (``file``/``subdir``), ``tickers``, ``start``,
    ``end`` (driver-side prune hints).
    """

    @classmethod
    def name(cls) -> str:
        return "bi5"  # DS24:29

    def schema(self) -> StructType:
        return BI5_SCHEMA

    def reader(self, schema: StructType) -> Bi5Reader:
        return Bi5Reader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        """``df.write.format("bi5")`` — regenerate tick archives
        (extension beyond the read-only reference; see bi5_writer)."""
        from .bi5_writer import Bi5Writer

        return Bi5Writer(self.options)

    def streamReader(self, schema: StructType):
        """``spark.readStream.format("bi5")`` — tail a growing tree
        (streaming extension; the reference is batch-only, DS24:26)."""
        from ..streaming.bi5_stream import Bi5StreamReader

        return Bi5StreamReader(self.options)
