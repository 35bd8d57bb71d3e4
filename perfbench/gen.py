"""Deterministic input generators.

Every generator is a pure function of ``(seed, GEN_VERSION, spec)``:
the same seed gives byte-identical files, so the program under test
only ever receives files, and the checks recompute expected results
from the same arrays.  Generated trees are cached under
``.bench_data/cache/v<GEN_VERSION>/`` in the checkout, keyed by seed.

The bi5 encoder here is the benchmark's own (NumPy + LZMA-alone), not
the program's writer, so a change to the writer cannot change the
inputs every workload reads.
"""

from __future__ import annotations

import json
import lzma
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

GEN_VERSION = 3
DIGITS = 5
HOUR_US = 3_600_000_000
GEN_THREADS = 4

# Big-endian '>3I2f': ms-in-hour, ask*10^digits, bid*10^digits, volumes.
RECORD_DTYPE = np.dtype(
    [
        ("ms", ">u4"),
        ("ask", ">u4"),
        ("bid", ">u4"),
        ("ask_volume", ">f4"),
        ("bid_volume", ">f4"),
    ]
)

FX_TICKERS = (
    "EURUSD", "GBPUSD", "USDJPY", "AUDUSD", "USDCHF", "USDCAD", "NZDUSD", "EURGBP",
    "EURJPY", "GBPJPY", "EURCHF", "AUDJPY", "EURAUD", "CADJPY", "CHFJPY", "EURCAD",
)
# Rough price levels, in units of 10^-DIGITS.
_BASE_PRICE = (
    108_000, 127_000, 15_000_000, 66_000, 88_000, 136_000, 61_000, 85_000,
    16_300_000, 19_100_000, 95_000, 9_900_000, 164_000, 11_000_000, 17_100_000, 147_000,
)


@dataclass(frozen=True)
class TickSpec:
    """A generated bi5 archive: ``len(tickers) * hours`` hourly files."""

    name: str
    n_tickers: int
    start: datetime
    hours: int
    min_ticks: int
    max_ticks: int

    @property
    def tickers(self) -> tuple[str, ...]:
        return FX_TICKERS[: self.n_tickers]

    @property
    def start_us(self) -> int:
        return int(self.start.timestamp()) * 1_000_000

    def hour_us(self, hour_idx: int) -> int:
        return self.start_us + hour_idx * HOUR_US


# 16 tickers x 2 days of small hourly files (768 files).
TICK_LIVE = TickSpec("tick_live", 16, datetime(2024, 1, 1, tzinfo=timezone.utc), 2 * 24, 300, 2_500)


def hour_records(seed: int, spec: TickSpec, ticker_idx: int, hour_idx: int) -> np.ndarray:
    """Ticks of one (ticker, hour) file as a RECORD_DTYPE array.

    Hours past ``spec.hours`` are the appends of a live workload; they
    come from the same function, so expected results never depend on
    what was written before.  Millisecond offsets are unique within a
    file so open/close are well defined."""
    rng = np.random.default_rng([seed, GEN_VERSION, ticker_idx, hour_idx])
    n = int(rng.integers(spec.min_ticks, spec.max_ticks + 1))
    ms = np.unique(rng.integers(0, 3_600_000, n))
    n = len(ms)
    level = _BASE_PRICE[ticker_idx] * float(np.exp(rng.normal(0.0, 0.004)))
    steps = rng.integers(-3, 4, n).astype(np.int64) * max(1, _BASE_PRICE[ticker_idx] // 100_000)
    bid = np.clip(np.int64(level) + np.cumsum(steps), 1_000, None)
    spread = rng.integers(1, 25, n) * max(1, _BASE_PRICE[ticker_idx] // 100_000)
    rec = np.empty(n, dtype=RECORD_DTYPE)
    rec["ms"] = ms
    rec["bid"] = bid
    rec["ask"] = bid + spread
    rec["ask_volume"] = np.round(rng.uniform(0.1, 9.9, n), 2).astype(np.float32)
    rec["bid_volume"] = np.round(rng.uniform(0.1, 9.9, n), 2).astype(np.float32)
    return rec


def encode_bi5(rec: np.ndarray) -> bytes:
    return lzma.compress(rec.tobytes(), format=lzma.FORMAT_ALONE, preset=1)


def bi5_relpath(ticker: str, hour_us: int) -> str:
    """``<ticker>/<YYYY>/<mm>/<dd>/<hh>h_ticks.bi5`` with a 0-based month."""
    t = datetime.fromtimestamp(hour_us // 1_000_000, tz=timezone.utc)
    return os.path.join(
        ticker, f"{t.year:04d}", f"{t.month - 1:02d}", f"{t.day:02d}", f"{t.hour:02d}h_ticks.bi5"
    )


def decode_columns(rec: np.ndarray, hour_us: int) -> dict[str, np.ndarray]:
    """The values a reader must return for ``rec`` (reference arithmetic)."""
    div = float(10**DIGITS)
    return {
        "ts_us": hour_us + rec["ms"].astype(np.int64) * 1000,
        "ask": rec["ask"].astype(np.float64) / div,
        "bid": rec["bid"].astype(np.float64) / div,
        "ask_volume": rec["ask_volume"].astype(np.float64),
        "bid_volume": rec["bid_volume"].astype(np.float64),
    }


def cache_root(checkout: str) -> str:
    return os.path.join(checkout, ".bench_data", "cache", f"v{GEN_VERSION}")


def _build_once(target: str, build) -> tuple[str, float]:
    """Build ``target`` with ``build(tmp_dir)`` unless already cached.
    Returns (path, seconds spent generating; 0.0 on a cache hit)."""
    import time

    if os.path.exists(os.path.join(target, "DONE")):
        return target, 0.0
    t0 = time.perf_counter()
    tmp = target + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)
    return target, time.perf_counter() - t0


def _write_ticker(seed: int, spec: TickSpec, ticker_idx: int, out_dir: str) -> tuple[int, int]:
    """Write every hour file of one ticker; return (ticks, bytes)."""
    n_ticks = n_bytes = 0
    for h in range(spec.hours):
        rec = hour_records(seed, spec, ticker_idx, h)
        path = os.path.join(out_dir, bi5_relpath(spec.tickers[ticker_idx], spec.hour_us(h)))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = encode_bi5(rec)
        with open(path, "wb") as f:
            f.write(data)
        n_ticks += len(rec)
        n_bytes += len(data)
    return n_ticks, n_bytes


def write_tick_archive(seed: int, spec: TickSpec, out_dir: str) -> dict:
    """Write the archive's files under ``out_dir`` (one ticker per task,
    on up to GEN_THREADS threads; LZMA releases the interpreter lock);
    return its stats."""
    from concurrent.futures import ThreadPoolExecutor

    workers = max(1, min(GEN_THREADS, spec.n_tickers, len(os.sched_getaffinity(0))))
    with ThreadPoolExecutor(workers) as pool:
        futures = [
            pool.submit(_write_ticker, seed, spec, ti, out_dir) for ti in range(spec.n_tickers)
        ]
        results = [f.result() for f in futures]
    return {
        "files": spec.n_tickers * spec.hours,
        "ticks": sum(t for t, _ in results),
        "bytes": sum(b for _, b in results),
    }


def tick_archive(checkout: str, seed: int, spec: TickSpec) -> tuple[str, dict, float]:
    """Cached archive for (spec, seed): (archive dir, stats, gen seconds)."""
    target = os.path.join(cache_root(checkout), f"{spec.name}-s{seed}")

    def build(tmp: str) -> None:
        stats = write_tick_archive(seed, spec, os.path.join(tmp, "archive"))
        with open(os.path.join(tmp, "stats.json"), "w") as f:
            json.dump(stats, f)

    root, gen_s = _build_once(target, build)
    with open(os.path.join(root, "stats.json")) as f:
        stats = json.load(f)
    return os.path.join(root, "archive"), stats, gen_s


def reset_tree(src: str, dst: str) -> None:
    """Make ``dst`` an exact copy of the generated base tree ``src``.
    Files are hard links: the live workload only adds files, it never
    rewrites one, so the cached base stays intact."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=os.link)
