"""Pure-Python codec for Dukascopy ``.bi5`` tick files.

Spark-free core: every subtle semantic of the reference lives here so it
can be unit-tested without a SparkSession.

Behavioral contract (reference: spark-2.4/src/main/scala/be/salvania/
BI5DataSource.scala, abbreviated DS24):

* Path layout ``<ticker>/<YYYY>/<mm>/<dd>/<hh>h_ticks.bi5`` parsed with
  the regex at DS24:95-98; **month is 0-based by default** (Dukascopy
  convention, README.md:23) and the ``january`` option (0/1, DS24:44-47)
  decrements the parsed month when set to 1 (DS24:127-129).
* The hour epoch is built with a lenient UTC calendar (DS24:131-141):
  out-of-range days/months roll over instead of erroring.
* Records are fixed 20-byte big-endian ``'>3I2f'`` structs
  (DS24:167-171, scripts/bi5_to_csv.py:23): ms-offset, ask*10^digits,
  bid*10^digits as uint32, ask/bid volume as float32.
* Payloads are LZMA-alone compressed (DS24:143 uses LZMAInputStream).
* Error policy (DS24:149-186): any per-file failure — bad path shape,
  bad LZMA, truncated stream — silently yields the rows decoded so far
  for that file and moves on.  Never fails the task.
* A record whose ms offset is an hour or more (``ms >= 3_600_000``) is
  dropped as dirty, extending that policy (the reference keeps it).  A
  Dukascopy hour file and ``Bi5Writer`` only write offsets inside the
  hour, and the drop makes the scan's hour-granular ``ts`` prune exact:
  every row lies in its file's hour.
"""

from __future__ import annotations

import lzma
import os
import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Iterator

import numpy as np

__all__ = [
    "BI5_PATH_RE",
    "Bi5FileMeta",
    "RECORD_DTYPE",
    "RECORD_SIZE",
    "decode_bi5_bytes",
    "decode_bi5_file",
    "hour_epoch_micros",
    "iter_bi5_files",
    "parse_bi5_path",
]

# Same pattern text as DS24:95-98 (the unescaped '.' before "bi5" is kept
# deliberately for exact behavioral parity).
BI5_PATH_RE = re.compile(
    r"/([a-zA-Z0-9]+)/(\d{4})/(\d{1,2})/(\d{1,2})/(\d{1,2})h_ticks.bi5$"
)

RECORD_SIZE = 20
# Big-endian '>3I2f' (scripts/bi5_to_csv.py:23).
#
# Deliberate divergence from the Scala reader: DS24's
# DataInputStream.readInt() is SIGNED, so an ms/ask/bid field >= 2^31
# would decode negative there, while the reference's own Python script
# (and this codec) reads unsigned '>3I'.  The two reference
# implementations disagree; unsigned is the physically meaningful
# choice (ms-in-hour < 3.6e6, prices are magnitudes) and matches the
# script used to produce the reference's CSV goldens.
RECORD_DTYPE = np.dtype(
    [
        ("ms", ">u4"),
        ("ask", ">u4"),
        ("bid", ">u4"),
        ("ask_volume", ">f4"),
        ("bid_volume", ">f4"),
    ]
)

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
HOUR_US = 3_600_000_000


@dataclass(frozen=True)
class Bi5FileMeta:
    """Metadata parsed from a bi5 file path."""

    path: str
    ticker: str
    hour_epoch_us: int  # microseconds since epoch of the file's hour, UTC


def hour_epoch_micros(year: int, month0: int, day: int, hour: int) -> int:
    """UTC epoch (microseconds) for a path's hour, with java.util.Calendar
    leniency (DS24:131-141): ``month0`` is the 0-based calendar month and
    may fall outside 0..11; days/hours outside their ranges roll over.
    """
    year_carry, month_norm = divmod(month0, 12)
    base = datetime(year + year_carry, month_norm + 1, 1, tzinfo=timezone.utc)
    dt = base + timedelta(days=day - 1, hours=hour)
    return int((dt - _EPOCH) // timedelta(microseconds=1))


def parse_bi5_path(path: str, january: int = 0) -> Bi5FileMeta:
    """Parse ticker + hour epoch from a bi5 path (DS24:116-141).

    Raises ``ValueError`` on paths that don't match — callers that follow
    the reference's silent-skip policy catch it (DS24:151-159).
    """
    normalized = path.replace("\\", "/")
    m = BI5_PATH_RE.search(normalized)
    if m is None:
        raise ValueError(
            "Invalid path provided. Should be in the format "
            "<currency>/<YYYY>/<mm>/<dd>/<hh>h_ticks.bi5"
        )
    ticker, year, month, day, hour = m.groups()
    month0 = int(month) - (1 if january == 1 else 0)
    return Bi5FileMeta(
        path=path,
        ticker=ticker,
        hour_epoch_us=hour_epoch_micros(int(year), month0, int(day), int(hour)),
    )


def _decompress_lenient(raw: bytes) -> bytes:
    """Decompress an LZMA-alone payload, keeping whatever decoded before a
    mid-stream failure (matches the reference's streaming decode which
    emits rows until the first exception, DS24:176-185)."""
    dec = lzma.LZMADecompressor(format=lzma.FORMAT_AUTO)
    out = bytearray()
    try:
        out += dec.decompress(raw)
    except lzma.LZMAError:
        pass
    return bytes(out)


def decode_bi5_bytes(raw: bytes, digits: int, hour_epoch_us: int) -> dict[str, np.ndarray]:
    """Decode a compressed bi5 payload into column arrays.

    Returns dict of numpy arrays: ``ts_us`` (int64 epoch micros), ``ask``,
    ``bid``, ``ask_volume``, ``bid_volume`` (float64).  Vectorized
    replacement for the reference's row-at-a-time loop (DS24:166-175);
    trailing partial records are dropped like the EOFException path,
    and so are records with ``ms`` of an hour or more (module docstring).
    """
    payload = _decompress_lenient(raw)
    n = len(payload) // RECORD_SIZE
    recs = np.frombuffer(payload, dtype=RECORD_DTYPE, count=n)
    in_hour = recs["ms"] < HOUR_US // 1000
    if not in_hour.all():
        recs = recs[in_hour]
    divisor = float(10**digits)
    return {
        "ts_us": hour_epoch_us + recs["ms"].astype(np.int64) * 1000,
        "ask": recs["ask"].astype(np.float64) / divisor,
        "bid": recs["bid"].astype(np.float64) / divisor,
        "ask_volume": recs["ask_volume"].astype(np.float64),
        "bid_volume": recs["bid_volume"].astype(np.float64),
    }


def decode_bi5_file(path: str, digits: int, january: int = 0) -> dict[str, np.ndarray] | None:
    """Decode one bi5 file → columns + ticker, or ``None`` when the file
    must be silently skipped (A10 policy, DS24:149-186)."""
    try:
        meta = parse_bi5_path(path, january)
        with open(path, "rb") as f:
            raw = f.read()
        cols = decode_bi5_bytes(raw, digits, meta.hour_epoch_us)
    except Exception:
        return None
    cols["ticker"] = np.full(len(cols["ts_us"]), meta.ticker, dtype=object)
    return cols


def arrow_ticks_schema():
    """Arrow schema of the decoded tick batch — single source of truth
    for the batch and streaming readers."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("ticker", pa.string(), nullable=False),
            pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
            pa.field("ask", pa.float64(), nullable=False),
            pa.field("bid", pa.float64(), nullable=False),
            pa.field("ask_volume", pa.float64(), nullable=False),
            pa.field("bid_volume", pa.float64(), nullable=False),
        ]
    )


def ticks_record_batch(cols: dict[str, np.ndarray]):
    """Build the Arrow RecordBatch both readers yield."""
    import pyarrow as pa

    schema = arrow_ticks_schema()
    return pa.RecordBatch.from_arrays(
        [
            pa.array(cols["ticker"], type=pa.string()),
            pa.array(cols["ts_us"], type=pa.timestamp("us", tz="UTC")),
            pa.array(cols["ask"], type=pa.float64()),
            pa.array(cols["bid"], type=pa.float64()),
            pa.array(cols["ask_volume"], type=pa.float64()),
            pa.array(cols["bid_volume"], type=pa.float64()),
        ],
        schema=schema,
    )


def iter_bi5_files(root: str) -> Iterator[str]:
    """Recursively list ``.bi5`` files (case-insensitive suffix), following
    symlinks — DS24:103-109.  A plain-file root yields itself if it has
    the suffix.  Directories are walked in sorted order, so the listing
    is deterministic."""
    if os.path.isfile(root):
        if root.lower().endswith(".bi5"):
            yield root
        return
    for dirpath, dirnames, filenames in os.walk(root, followlinks=True):
        dirnames.sort()
        for name in sorted(filenames):
            if name.lower().endswith(".bi5"):
                yield os.path.join(dirpath, name)
