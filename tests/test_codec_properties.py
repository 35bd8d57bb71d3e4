"""Property-based codec tests (Hypothesis): encode→decode round-trips
for arbitrary record content, truncation behavior, and calendar
leniency equivalence against Python's datetime arithmetic."""

from __future__ import annotations

import lzma
import math
import struct
from datetime import datetime, timedelta, timezone

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_bi5_datasource_spark.sources.bi5_codec import (
    decode_bi5_bytes,
    hour_epoch_micros,
    parse_bi5_path,
)

finite_f32 = st.floats(
    min_value=0, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)

record = st.tuples(
    st.integers(0, 3_599_999),  # ms offset within the hour
    st.integers(0, 2**32 - 1),  # raw ask
    st.integers(0, 2**32 - 1),  # raw bid
    finite_f32,
    finite_f32,
)


@given(st.lists(record, max_size=50), st.integers(0, 9))
@settings(max_examples=200, deadline=None)
def test_roundtrip(records, digits):
    raw = lzma.compress(
        b"".join(struct.pack(">3I2f", *r) for r in records), format=lzma.FORMAT_ALONE
    )
    cols = decode_bi5_bytes(raw, digits, 0)
    assert len(cols["ts_us"]) == len(records)
    div = 10.0**digits
    for i, (ms, ask, bid, av, bv) in enumerate(records):
        assert cols["ts_us"][i] == ms * 1000
        assert cols["ask"][i] == ask / div
        assert cols["bid"][i] == bid / div
        assert cols["ask_volume"][i] == np.float32(av)
        assert cols["bid_volume"][i] == np.float32(bv)


@given(st.lists(record, min_size=1, max_size=20), st.integers(1, 19))
@settings(max_examples=100, deadline=None)
def test_truncation_drops_only_partial_tail(records, cut):
    payload = b"".join(struct.pack(">3I2f", *r) for r in records)
    truncated = payload[: len(payload) - cut]
    raw = lzma.compress(truncated, format=lzma.FORMAT_ALONE)
    cols = decode_bi5_bytes(raw, 0, 0)
    assert len(cols["ts_us"]) == len(truncated) // 20


@given(
    st.integers(1971, 2100),
    st.integers(-1, 12),  # month0 beyond both valid ends
    st.integers(0, 40),  # day 0 and overflow days
    st.integers(0, 30),  # hour overflow
)
@settings(max_examples=300, deadline=None)
def test_lenient_calendar_matches_datetime_arithmetic(year, month0, day, hour):
    got = hour_epoch_micros(year, month0, day, hour)
    yc, mn = divmod(month0, 12)
    expected = datetime(year + yc, mn + 1, 1, tzinfo=timezone.utc) + timedelta(
        days=day - 1, hours=hour
    )
    assert got == int(expected.timestamp() * 1_000_000)
    # round-trip sanity: value decomposes back consistently
    assert math.isfinite(got)


@given(
    st.from_regex(r"[a-zA-Z0-9]{1,10}", fullmatch=True),
    st.integers(1970, 2200),
    st.integers(0, 99),
    st.integers(1, 99),
    st.integers(0, 99),
    st.sampled_from([0, 1]),
)
@settings(max_examples=200, deadline=None)
def test_path_parse_total_for_wellformed_paths(ticker, y, m, d, h, january):
    path = f"/data/{ticker}/{y:04d}/{m}/{d}/{h}h_ticks.bi5"
    meta = parse_bi5_path(path, january)
    assert meta.ticker == ticker
    assert meta.hour_epoch_us == hour_epoch_micros(y, m - january, d, h)


# ---------------------------------------------------------- writer properties


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3_599_999),          # ms offset within the hour
            st.integers(1, 10**7),              # scaled ask (fits f64*scale round-trip)
            st.integers(1, 10**7),              # scaled bid
            finite_f32,
            finite_f32,
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    ),
    st.integers(0, 5),                          # digits
    st.integers(0, 23),                         # hour of day
)
@settings(max_examples=30, deadline=None)
def test_arrow_writer_inverts_codec(tmp_path_factory, recs, digits, hour):
    """Bi5Writer.write() on an Arrow batch must produce a file the
    codec decodes back to the same records (ms, scaled prices,
    volumes) at the UTC hour path — no Spark session needed."""
    import pyarrow as pa

    from spark_bi5_datasource_spark.sources.bi5_codec import decode_bi5_file
    from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

    out = tmp_path_factory.mktemp("wtree")
    scale = 10 ** digits
    base_us = int(
        datetime(2021, 3, 7, hour, tzinfo=timezone.utc).timestamp() * 1_000_000
    )
    ts = pa.array(
        [base_us + r[0] * 1000 for r in recs], pa.timestamp("us", tz="UTC")
    )
    batch = pa.record_batch(
        {
            "ticker": ["EURUSD"] * len(recs),
            "ts": ts,
            "ask": [r[1] / scale for r in recs],
            "bid": [r[2] / scale for r in recs],
            "ask_volume": [float(r[3]) for r in recs],
            "bid_volume": [float(r[4]) for r in recs],
        }
    )
    w = Bi5Writer({"path": str(out), "digits": str(digits)})
    msg = w.write(iter([batch]))
    assert len(msg.files) == 1
    # month-0 path for 2021-03-07
    assert msg.files[0].endswith(f"{hour:02d}h_ticks.bi5")
    cols = decode_bi5_file(str(out / msg.files[0]), digits)
    got = sorted(
        zip(
            ((cols["ts_us"] - base_us) // 1000).astype(int).tolist(),
            np.round(cols["ask"] * scale).astype(int).tolist(),
            np.round(cols["bid"] * scale).astype(int).tolist(),
        )
    )
    want = sorted((r[0], r[1], r[2]) for r in recs)
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3_599_999),
            st.integers(1, 10**7),
            st.integers(1, 10**7),
            finite_f32,
            finite_f32,
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    ),
    st.integers(0, 5),
)
@settings(max_examples=30, deadline=None)
def test_writer_bytes_decode_via_independent_reference_port(
    tmp_path_factory, recs, digits
):
    """Pin the WRITE path against the reference's own documented
    format, not just the repo's codec: decode the written file with a
    fresh ``lzma.open`` + ``struct.iter_unpack('>3I2f')`` loop — an
    independent port of the reference's ``scripts/bi5_to_csv.py``
    chunked-unpack logic — and require the exact (ms-in-hour, raw ask,
    raw bid, f32 volumes) tuples back.  Nothing from
    ``sources/bi5_codec.py`` is used on the read side."""
    import pyarrow as pa

    from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

    out = tmp_path_factory.mktemp("wref")
    scale = 10 ** digits
    base_us = int(
        datetime(2019, 11, 22, 7, tzinfo=timezone.utc).timestamp() * 1_000_000
    )
    batch = pa.record_batch(
        {
            "ticker": ["USDJPY"] * len(recs),
            "ts": pa.array(
                [base_us + r[0] * 1000 for r in recs], pa.timestamp("us", tz="UTC")
            ),
            "ask": [r[1] / scale for r in recs],
            "bid": [r[2] / scale for r in recs],
            "ask_volume": [float(r[3]) for r in recs],
            "bid_volume": [float(r[4]) for r in recs],
        }
    )
    msg = Bi5Writer({"path": str(out), "digits": str(digits)}).write(iter([batch]))
    assert msg.files == ("USDJPY/2019/10/22/07h_ticks.bi5",)  # month-0 layout
    with lzma.open(out / msg.files[0]) as fh:
        payload = fh.read()
    assert len(payload) % 20 == 0
    got = sorted(struct.iter_unpack(">3I2f", payload))
    want = sorted(
        (ms, ask, bid, float(np.float32(av)), float(np.float32(bv)))
        for ms, ask, bid, av, bv in recs
    )
    assert got == want


# ---------------------------------------------------------------- WAV kernels


@given(
    st.lists(st.integers(-32768, 32767), min_size=0, max_size=400),
    st.sampled_from([1, 2, 4]),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=40, deadline=None)
def test_wav_decode_roundtrip_property(samples, ch, rate):
    """Any 16-bit PCM sample block decodes to its frame count, channel
    count, rate and sample values (scaled by 1/32768)."""
    import struct

    import numpy as np

    from spark_bi5_datasource_spark.functions.multimodal import _audio_samples

    n = len(samples) - len(samples) % ch
    body = np.array(samples[:n], "<i2").tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16)
        + b"data" + struct.pack("<I", len(body)) + body
    )
    got, got_rate = _audio_samples(wav)
    assert got_rate == rate and got.shape == (n // ch, ch)
    assert np.array_equal(got.reshape(-1) * 32768.0, np.array(samples[:n], float))


@given(
    st.integers(-32768, 32767),
    st.integers(0, 88),
    st.lists(st.integers(0, 255), min_size=4, max_size=64),
    st.sampled_from([1, 2]),
)
@settings(max_examples=60, deadline=None)
def test_ima_adpcm_matches_audioop_property(pred0, idx0, nibbles, ch):
    """The IMA ADPCM block decoder reproduces the stdlib ``audioop``
    DVI/IMA recurrence (an independent C implementation of the same
    public spec) nibble-for-nibble: sample 0 is the block header's
    predictor, samples 1.. equal ``adpcm2lin`` seeded with the same
    (predictor, index) state.  WAV packs low-nibble-first and
    interleaves 4-byte words channel-major; audioop packs
    high-nibble-first with no framing — the test re-packs
    accordingly."""
    import struct
    import warnings

    import numpy as np

    audioop = pytest.importorskip("audioop")  # removed in Python 3.13
    from spark_bi5_datasource_spark.functions.multimodal import _audio_samples

    # pad the per-channel nibble stream to whole 4-byte words
    nib = nibbles[: len(nibbles) - len(nibbles) % 8] or nibbles + [0] * (
        8 - len(nibbles)
    )
    words = len(nib) // 8  # 8 nibbles = one 4-byte word per channel
    chan_bytes = bytes(
        (nib[2 * i] & 0xF) | ((nib[2 * i + 1] & 0xF) << 4)
        for i in range(len(nib) // 2)
    )
    # interleave the SAME per-channel stream word-by-word for each channel
    body = b"".join(
        chan_bytes[4 * w : 4 * w + 4] * ch for w in range(words)
    )
    header = struct.pack("<hBB", pred0, idx0, 0) * ch
    balign = len(header) + len(body)
    wav = (
        b"RIFF" + struct.pack("<I", 40 + balign) + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHHH", 18, 17, ch, 8000, 0, balign, 4, 0)
        + b"data" + struct.pack("<I", balign) + header + body
    )
    frames = 1 + len(nib)
    got, rate = _audio_samples(wav)
    assert rate == 8000 and got.shape == (frames, ch)
    # audioop oracle: high-nibble-first packing of the same nibbles
    op_bytes = bytes(
        ((nib[2 * i] & 0xF) << 4) | (nib[2 * i + 1] & 0xF)
        for i in range(len(nib) // 2)
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        ref, _ = audioop.adpcm2lin(op_bytes, 2, (pred0, idx0))
    want = np.concatenate(
        [[pred0], np.frombuffer(ref, "<i2").astype(np.int64)]
    )
    for c in range(ch):
        assert np.array_equal(
            np.round(got[:, c] * 32768.0).astype(np.int64), want
        )


@given(
    st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=200,
        unique=True,
    )
)
@settings(max_examples=40, deadline=None)
def test_zvalue_bijective_and_bounded_property(pairs):
    """The Morton interleave is a bijection on (16-bit, 16-bit) pairs
    into [0, 2^32): distinct inputs → distinct z-values, and the
    pure-Python reference agrees with the plan-builder's bit moves."""
    from spark_bi5_datasource_spark.operators.zorder import _interleave_plan

    plan = _interleave_plan(2, 16)

    def z(x, y):
        out = 0
        for v, moves in zip((x, y), plan):
            for src, dst in moves:
                out |= ((v >> src) & 1) << dst
        return out

    zs = [z(x, y) for x, y in pairs]
    assert len(set(zs)) == len(pairs)
    assert all(0 <= v < 1 << 32 for v in zs)


# ------------------------------------------------- image codec properties


@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.sampled_from([1, 2, 3, 4]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(h, w, ch, seed):
    """PNG encode→decode is the identity for every 8-bit raster shape
    and channel count (gray / gray+A / RGB / RGBA)."""
    from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels
    from tests.media_encoders import _png_encode

    px = np.random.default_rng(seed).integers(0, 256, (h, w, ch), dtype=np.uint8)
    got = _decode_pixels(_png_encode(px))
    assert got.shape == px.shape and np.array_equal(got, px)


@given(
    st.integers(1, 20),
    st.integers(1, 20),
    st.integers(2, 40),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_property(h, w, n_colors, seed):
    """GIF encode→decode is the identity for every palettizable raster
    — including single-pixel images and 2-color palettes (the LZW
    minimum-code-size floor)."""
    from spark_bi5_datasource_spark.functions.gif_codec import gif_decode
    from tests.media_encoders import gif_encode

    rng = np.random.default_rng(seed)
    pal = np.unique(rng.integers(0, 256, (n_colors, 3), dtype=np.uint8), axis=0)
    px = pal[rng.integers(0, pal.shape[0], (h, w))]
    assert np.array_equal(gif_decode(gif_encode(px)), px)


@given(
    st.integers(8, 64),
    st.integers(8, 64),
    st.integers(0, 2**32 - 1),
    st.sampled_from([75, 90, 95]),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_smooth_roundtrip_bounded_error_property(h, w, seed, quality):
    """JPEG is lossy, but for any smooth (low-frequency) input the
    round-trip error stays within a few quant steps at every size —
    including dimensions that are not block multiples (edge-padded
    partial MCUs)."""
    from spark_bi5_datasource_spark.functions.jpeg_codec import jpeg_decode
    from tests.media_encoders import jpeg_encode

    rng = np.random.default_rng(seed)
    # smooth field: random plane + gentle sinusoid per channel
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    chans = []
    for _ in range(3):
        a, b, c = rng.uniform(-1, 1, 3)
        f = 128 + 60 * (a * xx / w + b * yy / h) + 40 * c * np.sin(xx / 9)
        chans.append(f)
    px = np.clip(np.stack(chans, axis=-1), 0, 255).astype(np.uint8)
    dec = jpeg_decode(jpeg_encode(px, quality=quality))
    err = np.abs(dec.astype(int) - px.astype(int))
    assert dec.shape == px.shape
    assert err.max() <= (6 if quality >= 90 else 14) and err.mean() < 3
