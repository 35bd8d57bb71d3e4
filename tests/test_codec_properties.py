"""Property-based codec tests (Hypothesis): encode→decode round-trips
for arbitrary record content, truncation behavior, calendar leniency
equivalence against Python's datetime arithmetic, PCM WAV decoding, and
the scan's file prune against an unpruned read filtered in Python."""

from __future__ import annotations

import lzma
import math
import operator
import struct
from datetime import datetime, timedelta, timezone

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
)

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


# ------------------------------------------------------ scan prune property

_TICKERS = ("EURUSD", "USDJPY", "XAUUSD")
# offsets at and around the edges of a file's hour; the last two lie
# outside it, where the codec drops the record
_EDGE_MS = (0, 1, 1_799_999, 3_599_999, 3_600_000, 7_200_000)
# hour slot 0 is 2020-01-01 22:00 UTC
_T0 = datetime(2020, 1, 1, 22, tzinfo=timezone.utc)

_tick_file = st.tuples(
    st.sampled_from(_TICKERS),
    st.integers(0, 3),  # hour slot; slots 2-3 fall on 2020-01-02
    st.booleans(),  # slots 2-3 under the rolled-over path (01/24h ≡ 02/00h)
    st.lists(
        st.tuples(
            st.one_of(st.sampled_from(_EDGE_MS), st.integers(0, 7_300_000)),
            st.integers(1, 999),
        ),
        max_size=5,
    ),
)
_ts_bound = st.builds(
    lambda slot, us: _T0 + timedelta(hours=slot, microseconds=us),
    st.integers(-1, 5),
    st.one_of(st.just(0), st.sampled_from((-1_000, -1, 1, 1_000, 1_800_000_000))),
)
_names = st.sampled_from(_TICKERS + ("GBPUSD",))
_ticker_filters = st.lists(
    st.one_of(
        st.builds(lambda v: EqualTo(("ticker",), v), _names),
        st.builds(lambda vs: In(("ticker",), tuple(vs)), st.lists(_names, min_size=1, max_size=3)),
    ),
    max_size=2,
)
_ts_filters = st.lists(
    st.builds(
        lambda cls, v: cls(("ts",), v),
        st.sampled_from([GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual]),
        _ts_bound,
    ),
    max_size=3,
)
_filters = st.builds(operator.add, _ticker_filters, _ts_filters)
_options = st.fixed_dictionaries(
    {"january": st.sampled_from(["0", "1"])},
    optional={
        "tickers": st.lists(st.sampled_from(_TICKERS), min_size=1, max_size=2).map(",".join),
        "start": _ts_bound.map(datetime.isoformat),
        "end": _ts_bound.map(datetime.isoformat),
    },
)


@given(st.lists(_tick_file, min_size=1, max_size=8), _filters, _options)
@example(  # a record two hours into its 22:00 file, read from 23:00 on
    [("EURUSD", 0, False, [(7_200_000, 7)])],
    [GreaterThanOrEqual(("ts",), _T0 + timedelta(hours=1))],
    {"january": "0"},
)
@settings(max_examples=50, deadline=None)
def test_pruned_read_equals_unpruned_read_filtered(tmp_path_factory, files, filters, options):
    """A read with pushed ticker/ts filters and the tickers/start/end
    options keeps exactly the rows that an unpruned read keeps under
    the same predicates, applied in Python, and adds no row the
    unpruned read lacks.  The trees carry stray names, an empty, a
    corrupt and an unparseable file, one hour under two paths through
    the lenient calendar, and records at and past the edges of an
    hour; the reads use both ``january`` values."""
    from collections import Counter

    from spark_bi5_datasource_spark.sources.bi5_datasource import Bi5Reader
    from tests.conftest import make_bi5_bytes, write_bi5

    root = tmp_path_factory.mktemp("prune")
    strays = {
        "notes.txt": b"not a tick file",
        "EURUSD/2020/00/01/22h_ticks.bi5.tmp": make_bi5_bytes([(5, 1, 1, 1.0, 1.0)]),
        "EURUSD/2020/00/01/stray.bi5": make_bi5_bytes([(5, 1, 1, 1.0, 1.0)]),
        "GBPUSD/2020/00/01/22h_ticks.bi5": b"",
        "GBPUSD/2020/00/01/23h_ticks.bi5": make_bi5_bytes(
            [(0, 1, 1, 1.0, 1.0), (3_599_999, 2, 2, 1.0, 1.0), (3_600_000, 3, 3, 1.0, 1.0)]
        )[:-7],
    }
    for rel, data in strays.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_bytes(data)
    month = f"{int(options['january']):02d}"  # January under either convention
    for ticker, slot, rolled, recs in files:
        day, hour = (1, 22 + slot) if slot < 2 or rolled else (2, slot - 2)
        write_bi5(
            str(root / f"{ticker}/2020/{month}/{day:02d}/{hour:02d}h_ticks.bi5"),
            [(ms, v, v, 1.0, 1.0) for ms, v in recs],
        )

    def rows(reader):
        return [
            row
            for part in reader.partitions()
            for batch in reader.read(part)
            for row in zip(*(c.to_pylist() for c in batch.columns))
        ]

    base = {"path": str(root), "digits": "3", "january": options["january"]}
    pruned = Bi5Reader({**base, **options})
    list(pruned.pushFilters(filters))
    predicates = list(filters)
    if "tickers" in options:
        predicates.append(In(("ticker",), tuple(options["tickers"].split(","))))
    if "start" in options:
        predicates.append(GreaterThanOrEqual(("ts",), datetime.fromisoformat(options["start"])))
    if "end" in options:
        predicates.append(LessThanOrEqual(("ts",), datetime.fromisoformat(options["end"])))
    ops = {
        GreaterThan: operator.gt,
        GreaterThanOrEqual: operator.ge,
        LessThan: operator.lt,
        LessThanOrEqual: operator.le,
    }

    def holds(row):
        ticker, ts = row[0], row[1]
        for f in predicates:
            if isinstance(f, EqualTo):
                ok = ticker == f.value
            elif isinstance(f, In):
                ok = ticker in f.value
            else:
                ok = ops[type(f)](ts, f.value)
            if not ok:
                return False
        return True

    got = rows(pruned)
    full = rows(Bi5Reader(base))
    assert not Counter(got) - Counter(full)  # the prune adds no row
    assert sorted(filter(holds, got)) == sorted(filter(holds, full))
