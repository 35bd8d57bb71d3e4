"""bi5 write path — an extension beyond the reference (which is
explicitly read-only: "Only loading is implemented. No writing.",
README.md:17).  Useful for regenerating tick archives from parquet or
synthesizing fixtures at scale.

Layout contract mirrors the reader exactly: one LZMA-alone file per
(ticker, hour) at ``<ticker>/<YYYY>/<mm>/<dd>/<hh>h_ticks.bi5`` with
month written 0-based by default (``january`` option, same semantics
as the reader), records packed big-endian ``'>3I2f'`` with
``price * 10^digits`` as uint32.

The writer consumes Arrow RecordBatches (``DataSourceArrowWriter``)
and encodes with vectorized NumPy — no per-row Python objects.  Arrow
timestamps are absolute epoch microseconds (timezone is metadata
only), so the executor's system timezone cannot corrupt hour paths —
the failure mode of the row-based API, whose naive datetimes are
local wall time.

Because the bi5 naming scheme has no room for part-files, **all rows
of one (ticker, hour) must land in one task** — use
``write_bi5_tree`` (which repartitions by (ticker, hour) first), or
pre-partition yourself.  ``commit()`` compares the files the tasks of
one job report and fails the job when two tasks wrote the same hour,
but only after both have written it, so one task's rows are already
lost.  Each hour file is opened with ``"wb"``: a later job with rows
for an hour already on disk replaces that file without error
(open in ROADMAP.md).
"""

from __future__ import annotations

import lzma
import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSourceArrowWriter, WriterCommitMessage

from .bi5_codec import HOUR_US, RECORD_DTYPE
from .bi5_datasource import bi5_options

__all__ = ["Bi5Writer", "write_bi5_tree"]

# LZMA effort; decoders accept any preset.  On tick payloads preset 1
# measured 7x faster than the library default (6) and slightly smaller
# (repetitive fixed-width records).
LZMA_PRESET = 1


@dataclass
class Bi5CommitMessage(WriterCommitMessage):
    files: tuple[str, ...]  # relative file keys written by this task


class Bi5Writer(DataSourceArrowWriter):
    def __init__(self, options) -> None:
        self.path, self.digits, self.january = bi5_options(
            options, must_exist=False
        )

    @staticmethod
    def _epoch_us(ts_col) -> np.ndarray:
        """Arrow timestamp column → absolute UTC epoch microseconds.

        tz-aware values ARE epoch-based (tz is display metadata); a
        tz-naive column (TIMESTAMP_NTZ input) is interpreted as UTC
        wall time — documented, deterministic, host-independent."""
        import pyarrow as pa

        t = ts_col.type
        if not pa.types.is_timestamp(t):
            raise ValueError(f"'ts' must be a timestamp column, got {t}")
        return ts_col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64()).to_numpy(
            zero_copy_only=False
        )

    def write(self, iterator) -> Bi5CommitMessage:
        """Group this task's batches by (ticker, hour), encode with
        NumPy, write one LZMA file per group.  Columns: (ticker, ts,
        ask, bid, ask_volume, bid_volume) — the reader's schema."""
        import pandas as pd

        scale = 10 ** self.digits
        chunks: list[pd.DataFrame] = []
        for batch in iterator:
            names = batch.schema.names
            col = {n: batch.column(i) for i, n in enumerate(names)}
            # the bi5 format has no null representation, and a null
            # group key would be silently DROPPED by the groupby —
            # fail loudly instead of corrupting the archive's row count
            if col["ts"].null_count or col["ticker"].null_count:
                raise ValueError(
                    "bi5 write: 'ticker' and 'ts' must be non-null "
                    f"(got {col['ticker'].null_count} null tickers, "
                    f"{col['ts'].null_count} null timestamps in a batch)"
                )
            # Arrow nulls in the value columns would become NaN via
            # to_numpy and then wrap to garbage uint32 on astype — the
            # format has no null representation, so refuse loudly (the
            # row-based writer raised on these too)
            for vc in ("ask", "bid", "ask_volume", "bid_volume"):
                if col[vc].null_count:
                    raise ValueError(
                        f"bi5 write: '{vc}' must be non-null "
                        f"(got {col[vc].null_count} nulls in a batch)"
                    )
            ts_us = self._epoch_us(col["ts"])
            hour_us = (ts_us // HOUR_US) * HOUR_US
            chunks.append(
                pd.DataFrame(
                    {
                        "ticker": col["ticker"].to_numpy(zero_copy_only=False),
                        "hour_us": hour_us,
                        "ms": ((ts_us - hour_us) // 1000).astype(np.uint32),
                        "ask": col["ask"].to_numpy(zero_copy_only=False),
                        "bid": col["bid"].to_numpy(zero_copy_only=False),
                        "av": col["ask_volume"].to_numpy(zero_copy_only=False),
                        "bv": col["bid_volume"].to_numpy(zero_copy_only=False),
                    }
                )
            )
        written = []
        if not chunks:
            return Bi5CommitMessage(files=())
        rows = pd.concat(chunks, ignore_index=True)
        for (ticker, hour_us), g in rows.groupby(["ticker", "hour_us"], sort=False):
            g = g.sort_values("ms", kind="mergesort")
            arr = np.empty(len(g), dtype=RECORD_DTYPE)
            arr["ms"] = g["ms"].to_numpy()
            # np.round == Python round(): banker's rounding, matching
            # the reader's exact decode inverse on half-cent prices
            for fld, src in (("ask", "ask"), ("bid", "bid")):
                scaled = np.round(g[src].to_numpy(dtype=np.float64) * scale)
                # NaN/inf or out-of-range values wrap to arbitrary
                # uint32 on astype — corrupt archive, refuse instead
                bad = ~np.isfinite(scaled) | (scaled < 0) | (scaled >= 2**32)
                if bad.any():
                    raise ValueError(
                        f"bi5 write: '{src}' has {int(bad.sum())} value(s) that are "
                        f"non-finite or outside [0, 2^32) after scaling by 10^{self.digits} "
                        f"(e.g. {g[src].to_numpy()[bad][0]!r}) for ticker {ticker!r}"
                    )
                arr[fld] = scaled.astype(np.uint32)
            for fld, src in (("ask_volume", "av"), ("bid_volume", "bv")):
                vol = g[src].to_numpy(dtype=np.float32)
                if not np.isfinite(vol).all():
                    raise ValueError(
                        f"bi5 write: volume column has non-finite value(s) "
                        f"for ticker {ticker!r}"
                    )
                arr[fld] = vol
            # hour boundaries are whole seconds, so integer division is
            # exact; float division loses integer precision past 2^53
            hour = datetime.fromtimestamp(hour_us // 1_000_000, tz=timezone.utc)
            month_field = hour.month - 1 + self.january  # inverse of reader
            rel = os.path.join(
                str(ticker),
                f"{hour.year:04d}",
                f"{month_field:02d}",
                f"{hour.day:02d}",
                f"{hour.hour:02d}h_ticks.bi5",
            )
            full = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "wb") as f:
                f.write(
                    lzma.compress(
                        arr.tobytes(), format=lzma.FORMAT_ALONE, preset=LZMA_PRESET
                    )
                )
            written.append(rel)
        return Bi5CommitMessage(files=tuple(written))

    def commit(self, messages) -> None:
        seen: set[str] = set()
        dupes: set[str] = set()
        for m in messages:
            for rel in m.files:
                if rel in seen:
                    dupes.add(rel)
                seen.add(rel)
        if dupes:
            raise ValueError(
                "rows for one (ticker, hour) were split across tasks and "
                f"would overwrite each other: {sorted(dupes)[:5]} — "
                "repartition by (ticker, hour) first (see write_bi5_tree)"
            )

    def abort(self, messages) -> None:
        pass  # partial files may remain; bi5 trees are re-writable


def write_bi5_tree(
    df: DataFrame, path: str, digits: int, january: int = 0
) -> None:
    """Write a tick DataFrame (reader schema) as a bi5 tree.

    Repartitions by (ticker, hour) so each hour file is produced by
    exactly one task, then invokes the ``bi5`` writer.

    The keyed repartition is left AQE-coalescible ON PURPOSE (r14
    decomposition, recorded in HISTORY.md): AQE fuses the
    480k-row bench tree's 24 hour groups into 2 write tasks, which
    LOOKS like a §2.5 fan-out collapse — but pinning the partition
    count to the session's 32 was measured WORSE (steady-state write
    1.0 → 2.1-2.8 s), because a Python-datasource write task costs
    ~37 ms of worker/Arrow/commit overhead while one hour file's
    LZMA encode (preset 1) costs 22 ms.  Per-group CPU is
    proportional to bytes here, so AQE's byte-targeted coalesce
    stays balanced at every archive size; do not pin."""
    from pyspark.sql import functions as F

    (
        df.repartition(F.col("ticker"), F.date_trunc("hour", "ts"))
        .write.format("bi5")
        .option("digits", digits)
        .option("january", january)
        .mode("append")
        .save(path)
    )
