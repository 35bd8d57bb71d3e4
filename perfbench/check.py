"""Expected results recomputed with NumPy from the generator's arrays,
and the comparisons the workloads run on every op's output."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import numpy as np

_EPOCH = datetime(1970, 1, 1)


def to_us(value: datetime) -> int:
    """A collected (naive, UTC) timestamp as epoch microseconds."""
    return (value.replace(tzinfo=None) - _EPOCH) // timedelta(microseconds=1)


def concat_columns(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    if not parts:
        return {k: np.empty(0) for k in ("ts_us", "ask", "bid", "ask_volume", "bid_volume")}
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def bars(cols: dict[str, np.ndarray], bucket_us: int) -> dict[int, tuple]:
    """OHLC of ``bid`` per epoch-aligned bucket: start -> (open, high,
    low, close, n_ticks, volume).  ``ts_us`` must be sorted."""
    ts = cols["ts_us"]
    if len(ts) == 0:
        return {}
    bucket = ts - ts % bucket_us
    starts, first, counts = np.unique(bucket, return_index=True, return_counts=True)
    price, vol = cols["bid"], cols["bid_volume"]
    last = first + counts - 1
    high = np.maximum.reduceat(price, first)
    low = np.minimum.reduceat(price, first)
    volume = np.add.reduceat(vol, first)
    return {
        int(s): (price[f], hi, lo, price[la], int(n), v)
        for s, f, hi, lo, la, n, v in zip(starts, first, high, low, last, counts, volume)
    }


def close(a, b, rel: float = 1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)
    return a == b


def same_rows(expected: dict, got: dict) -> bool:
    """Keyed rows equal: same keys, integers exact, floats to 1e-9."""
    if expected.keys() != got.keys():
        return False
    for k, exp in expected.items():
        row = got[k]
        if len(row) != len(exp) or not all(close(x, y) for x, y in zip(exp, row)):
            return False
    return True


# -- catalog oracle comparison (row count, columns, order-insensitive
#    values rounded to 9 digits) --------------------------------------------


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def rowset(rows) -> list[tuple]:
    normed = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(normed, key=lambda r: tuple((v is None, str(v)) for v in r))


def oracle_mismatch(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """None when the results agree, else a one-line reason."""
    if list(spark_cols) != list(oracle_cols):
        return f"columns {list(spark_cols)} vs {list(oracle_cols)}"
    if len(spark_rows) != len(oracle_rows):
        return f"row count {len(spark_rows)} vs {len(oracle_rows)}"
    for a, b in zip(rowset(spark_rows), oracle_rows):
        if a != b:
            return f"first differing row {a} vs {b}"
    return None
