"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched
``mapInPandas`` (north-star operator, SURVEY §2 Tier C).

The perceptual-hash kernels decode for real the formats the catalog's
adapters (``documents_as_{ppm,wav,avi}_media``) write, plus the two
that share their code: images netpbm P6 / P5 and uncompressed 24-bit
BMP, audio 8/16-bit PCM WAV, video AVI with uncompressed 24-bit DIB
frames (each frame is decoded as a BMP).  Every other format (PNG,
JPEG, GIF, TIFF, compressed WAV codecs, MJPEG, H.264, ...) raises
``NotImplementedError``, which the ``extract_*`` kernels turn into a
null hash.  ``extract_media_features`` exercises the
Arrow plumbing with a deterministic fake kernel that derives the
dimensions from the payload size, independent of payload format.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "MEDIA_SCHEMA",
    "FEATURE_SCHEMA",
    "extract_media_features",
    "documents_as_media",
    "documents_as_ppm_media",
    "dhash64",
    "extract_phash",
    "documents_as_wav_media",
    "afingerprint64",
    "extract_audio_fingerprint",
    "documents_as_avi_media",
    "vhash64",
    "extract_video_fingerprint",
]

# Canonical media-table schema: payload is opaque binary; metadata is
# typed columns (not a stringly blob) so filters/pruning stay native.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("checksum", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def _ppm_header(data: bytes) -> tuple[bytes, int, int, int]:
    """Parse a P5/P6 netpbm header with a maxval of 1..255: (magic,
    width, height, pixel_data_offset).  Handles arbitrary whitespace
    and ``#`` comments per the spec; exactly one whitespace byte
    follows maxval before the raster."""
    magic = data[:2]
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        if pos >= len(data):
            raise ValueError("truncated netpbm header")
        c = data[pos : pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":
            nl = data.find(b"\n", pos)
            pos = len(data) if nl < 0 else nl + 1
        elif c.isdigit():
            end = pos
            while end < len(data) and data[end : end + 1].isdigit():
                end += 1
            fields.append(int(data[pos:end]))
            pos = end
        else:
            raise ValueError(f"bad netpbm header byte {c!r}")
    w, h, maxval = fields
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported netpbm maxval {maxval} (need 1..255)")
    return magic, w, h, pos + 1  # single whitespace after maxval


def _bmp_header(data: bytes) -> tuple[int, int, int, int, bool]:
    """Parse a BMP header: (width, height, data_offset, row_stride,
    bottom_up).  Only uncompressed (BI_RGB) 24-bit DIBs are supported
    — those need no codec."""
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    offset, = struct.unpack_from("<I", data, 10)
    w, h = struct.unpack_from("<ii", data, 18)
    bpp, = struct.unpack_from("<H", data, 28)
    compression, = struct.unpack_from("<I", data, 30)
    if compression != 0 or bpp != 24:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is supported without a codec "
            f"library (got bpp={bpp}, compression={compression})"
        )
    stride = (w * 3 + 3) // 4 * 4  # rows pad to 4-byte boundaries
    return w, abs(h), offset, stride, h > 0


def _nn_index(dst: int, src: int) -> np.ndarray:
    """Nearest-neighbor source indices (pixel-center convention)."""
    return np.minimum(
        ((np.arange(dst) + 0.5) * src / dst).astype(np.int64), src - 1
    )


def _decode_pixels(data: bytes) -> np.ndarray:
    """Payload → (H, W, C) uint8 array."""
    head = data[:2]
    if head in (b"P5", b"P6"):
        magic, w, h, off = _ppm_header(data)
        ch = 3 if magic == b"P6" else 1
        need = w * h * ch
        if len(data) < off + need:
            raise ValueError("truncated netpbm raster")
        px = np.frombuffer(data, np.uint8, need, off).reshape(h, w, ch)
        return px
    if head == b"BM":
        w, h, off, stride, bottom_up = _bmp_header(data)
        if len(data) < off + stride * h:
            raise ValueError("truncated BMP raster")
        rows = np.frombuffer(data, np.uint8, stride * h, off).reshape(h, stride)
        px = rows[:, : w * 3].reshape(h, w, 3)
        if bottom_up:
            px = px[::-1]
        return px
    raise NotImplementedError(f"payload magic {head!r} needs an imaging library")


def _riff_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_len) over a RIFF chunk run;
    descends are the caller's choice (LIST bodies start with a
    4-byte subtype)."""
    pos = start
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        yield cid, body, min(size, end - body)
        pos = body + size + (size & 1)


def _wav_header(data: bytes) -> tuple[int, int, int, int, int]:
    """Parse a RIFF/WAVE header by walking its chunk list: returns
    (n_channels, sample_rate, bits_per_sample, data_offset, data_len).
    Only uncompressed 8/16-bit PCM (format tag 1) is supported; any
    other tag (A-law, μ-law, ADPCM, MP3-in-WAV, extensible) raises
    ``NotImplementedError``."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt, data_span = None, None
    for cid, body, blen in _riff_chunks(data, 12, len(data)):
        if cid == b"fmt " and blen >= 16:
            tag, ch, rate = struct.unpack_from("<HHI", data, body)
            (bits,) = struct.unpack_from("<H", data, body + 14)
            if tag != 1:
                raise NotImplementedError(
                    f"only PCM WAV is supported without a codec library "
                    f"(got format tag={tag})"
                )
            fmt = (ch, rate, bits)
        elif cid == b"data":
            data_span = (body, blen)
    if fmt is None or data_span is None:
        raise ValueError("WAV payload missing fmt/data chunk")
    ch, rate, bits = fmt
    if ch < 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"unsupported PCM WAV layout (bits={bits}, ch={ch})"
        )
    return ch, rate, bits, data_span[0], data_span[1]


def _audio_samples(data: bytes) -> tuple[np.ndarray, int]:
    """Payload → (frames, channels) float64 in [-1, 1] + sample rate."""
    ch, rate, bits, off, dlen = _wav_header(data)
    step = ch * bits // 8
    n = dlen // step
    if bits == 16:
        raw = np.frombuffer(data, "<i2", n * ch, off).astype(np.float64)
        x = raw / 32768.0
    else:  # 8-bit PCM WAV is unsigned, midpoint 128
        raw = np.frombuffer(data, np.uint8, n * ch, off).astype(np.float64)
        x = (raw - 128.0) / 128.0
    return x.reshape(n, ch), rate


def _avi_frames(data: bytes) -> tuple[int, int, list[bytes]]:
    """Parse an AVI (RIFF) container with an uncompressed 24-bit DIB
    video stream: returns (width, height, frames), each frame a raw
    bottom-up BGR raster.  Compressed streams (MJPEG, H.264, ...)
    raise ``NotImplementedError`` — those need a real codec."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    dims: tuple[int, int] | None = None
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        nonlocal dims
        for cid, body, blen in _riff_chunks(data, start, end):
            if cid == b"LIST":
                walk(body + 4, body + blen)  # skip the subtype fourcc
            elif cid == b"strf" and dims is None and blen >= 40:
                w, h = struct.unpack_from("<ii", data, body + 4)
                bpp, = struct.unpack_from("<H", data, body + 14)
                compression, = struct.unpack_from("<I", data, body + 16)
                if compression != 0 or bpp != 24:
                    raise NotImplementedError(
                        f"only uncompressed 24-bit DIB video is supported "
                        f"without a codec library "
                        f"(bpp={bpp}, compression={compression})"
                    )
                dims = (w, abs(h))
            elif cid[2:] == b"dc":
                raise NotImplementedError(
                    "compressed video frames need a codec library"
                )
            elif cid[2:] == b"db":  # uncompressed DIB frame
                frames.append(data[body : body + blen])

    walk(12, len(data))
    if dims is None:
        raise ValueError("AVI payload missing strf header")
    return dims[0], dims[1], frames


def sample_frames(payload: bytes, every_n: int) -> list[bytes]:
    """Sample every ``every_n``-th frame from a video payload,
    returned as standalone images (consumable by ``_decode_pixels``).

    REAL for AVI containers with uncompressed 24-bit DIB streams: the
    frame raster IS a BMP body (bottom-up, 4-byte row stride), so each
    sampled frame just gains a 54-byte BMP header.  Compressed streams
    (MJPEG, H.264, ...) raise ``NotImplementedError`` in
    ``_avi_frames``."""
    data = bytes(payload)
    w, h, frames = _avi_frames(data)
    stride = (w * 3 + 3) // 4 * 4
    out = []
    for raw in frames[:: max(1, every_n)]:
        if len(raw) < stride * h:
            continue  # dirty/truncated frame: skip, like the bi5 scan
        body = raw[: stride * h]
        header = struct.pack(
            "<2sIHHI" + "IiiHHIIiiII",
            b"BM", 54 + len(body), 0, 0, 54,
            40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0,
        )
        out.append(header + body)
    return out


def _fake_dims(payload: bytes) -> tuple[int, int]:
    # Deterministic fake: dimensions derived from payload bytes, so
    # tests validate the full Arrow round-trip without a codec.
    n = len(payload)
    return (n % 640) + 1, (n % 480) + 1


def extract_media_features(media: DataFrame) -> DataFrame:
    """binary payload → typed features via Arrow-batched mapInPandas,
    with the fake dimension kernel (``_fake_dims``) that the
    multimodal_features entry's oracle SQL reproduces.

    Batch-at-a-time (not row-at-a-time UDF): each pandas batch is
    vectorized Python, amortizing the Python boundary exactly like
    the bi5 source's Arrow batches.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            payloads = pdf["payload"]
            dims = [_fake_dims(p) for p in payloads.fillna(b"")]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda p: len(p) if p is not None else 0),
                    "checksum": payloads.map(
                        lambda p: zlib.crc32(p) if p is not None else 0
                    ),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter used by tests/queries: treat document text bytes as a
    binary payload so the media pipeline is exercised end-to-end on
    the driver-provided tables."""
    from pyspark.sql import functions as F

    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )


# ------------------------------------------------- perceptual hashing

_DHASH_W, _DHASH_H = 9, 8  # the classic 9×8 dHash grid → 64 bits


def dhash64(px: np.ndarray) -> int:
    """64-bit difference hash of a decoded pixel array: grayscale,
    nearest-neighbor downsample to the 9×8 dHash grid, then one bit
    per horizontal neighbor pair (bit r*8+c set iff
    gray[r,c] > gray[r,c+1]).  Returned as SIGNED int64 (bit 63 =
    the sign bit) so the value round-trips a Spark LongType column
    and xor/bit_count hamming arithmetic exactly.

    Deterministic: integer pixels, pixel-center NN sampling
    (``_nn_index``), float grayscale mean only as an exact mean of
    ≤4 uint8 values — no library-dependent resamplers."""
    if px.ndim == 3:
        gray = px.astype(np.float64).mean(axis=2)
    else:
        gray = px.astype(np.float64)
    h, w = gray.shape
    if (w, h) != (_DHASH_W, _DHASH_H):
        gray = gray[np.ix_(_nn_index(_DHASH_H, h), _nn_index(_DHASH_W, w))]
    bits = gray[:, :-1] > gray[:, 1:]
    val = 0
    for idx in np.flatnonzero(bits.ravel()):
        val |= 1 << int(idx)
    return val - (1 << 64) if val >= (1 << 63) else val


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("phash", LongType(), True),
    ]
)


def extract_phash(media: DataFrame) -> DataFrame:
    """binary payload → 64-bit perceptual dHash via Arrow-batched
    mapInPandas, through the REAL pure-Python decoders
    (``_decode_pixels``: netpbm P6/P5, 24-bit BMP).  Dirty or
    unsupported payloads (PNG, JPEG, GIF, ...) yield a null hash (the
    bi5 scan's silent-skip discipline) so one bad image never kills
    the task."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hs: list[int | None] = []
            for p in pdf["payload"]:
                try:
                    px = _decode_pixels(bytes(p or b""))
                    hs.append(dhash64(px))
                except (ValueError, NotImplementedError):
                    hs.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": pd.array(hs, dtype="Int64"),
                }
            )

    return media.mapInPandas(batches, schema=PHASH_SCHEMA)


def documents_as_ppm_media(documents: DataFrame) -> DataFrame:
    """Adapter used by tests/queries: synthesize a REAL 9×8 P6 (PPM)
    image per document, gray pixel (r, c) =
    ``(len(token[(r*9 + c) % n_tokens]) * 7) % 128`` over the doc's
    space-split tokens — deterministic, decoder-decodable, and
    SQL-reproducible (the dedup_media_phash oracle recomputes every
    pixel from ``string_split``), while preserving the property that
    similar TEXTS yield similar IMAGES (near-dup docs share token
    structure ⇒ small hamming distance) so perceptual dedup has real
    work to do on the fixture tables."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), True),
        ]
    )
    header = b"P6\n%d %d\n255\n" % (_DHASH_W, _DHASH_H)
    npx = _DHASH_W * _DHASH_H

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                tk = (text or "").split(" ")
                n = len(tk)
                raster = bytearray(npx * 3)
                for i in range(npx):
                    g = (len(tk[i % n]) * 7) % 128
                    raster[3 * i : 3 * i + 3] = (g, g, g)
                payloads.append(header + bytes(raster))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "payload": payloads,
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=out_schema
    )


# ------------------------------------------- audio fingerprinting

_AFP_N = 65  # 65 frames → 64 consecutive-frame comparisons → 64 bits


def afingerprint64(samples: np.ndarray) -> int:
    """64-bit audio difference fingerprint: channel-mean mono,
    nearest-neighbor downsample to 65 frames, one bit per consecutive
    frame pair (bit i set iff mono[i] > mono[i+1]) — the audio
    analogue of ``dhash64``, robust to amplitude scaling (any
    monotone gain preserves every comparison) and, via the NN
    resample, to fixed-rate stretching.  Returned as SIGNED int64
    (bit 63 = the sign bit), LongType/xor/bit_count-compatible."""
    mono = samples.astype(np.float64).mean(axis=1)
    if mono.shape[0] == 0:
        return 0
    if mono.shape[0] != _AFP_N:
        mono = mono[_nn_index(_AFP_N, mono.shape[0])]
    bits = mono[:-1] > mono[1:]
    val = 0
    for idx in np.flatnonzero(bits):
        val |= 1 << int(idx)
    return val - (1 << 64) if val >= (1 << 63) else val


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("afp", LongType(), True),
    ]
)


def extract_audio_fingerprint(media: DataFrame) -> DataFrame:
    """WAV payload → 64-bit audio fingerprint via Arrow-batched
    mapInPandas through the REAL decoder (``_audio_samples``:
    8/16-bit PCM).  Dirty or unsupported payloads (compressed WAV
    codecs, ...) yield a null fingerprint (the bi5 silent-skip
    discipline)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hs: list[int | None] = []
            for p in pdf["payload"]:
                try:
                    x, _rate = _audio_samples(bytes(p or b""))
                    hs.append(afingerprint64(x))
                except (ValueError, NotImplementedError):
                    hs.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "afp": pd.array(hs, dtype="Int64"),
                }
            )

    return media.mapInPandas(batches, schema=AUDIO_FP_SCHEMA)


def documents_as_wav_media(documents: DataFrame) -> DataFrame:
    """Adapter used by tests/queries: synthesize a REAL 16-bit PCM
    mono WAV per document with 65 samples,
    ``s(i) = ((len(token[(i % n_tokens)+1]) * 13) % 256 - 128) · 256``
    — deterministic, decoder-decodable, SQL-reproducible (the
    dedup_audio_fingerprint oracle recomputes every sample from
    ``string_split``; the ·256 gain cancels in the comparison-only
    fingerprint), and similarity-preserving: near-dup texts share
    token structure ⇒ near-identical waveforms ⇒ small hamming."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), True),
        ]
    )
    rate = 8000
    header = (
        b"RIFF"
        + struct.pack("<I", 36 + _AFP_N * 2)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", _AFP_N * 2)
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                tk = (text or "").split(" ")
                n = len(tk)
                vals = [
                    ((len(tk[i % n]) * 13) % 256 - 128) * 256
                    for i in range(_AFP_N)
                ]
                payloads.append(
                    header + struct.pack(f"<{_AFP_N}h", *vals)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "payload": payloads,
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=out_schema
    )


# ------------------------------------------- video fingerprinting

_VFP_FRAMES = 6   # synthesized frames per video
_VFP_EVERY = 2    # fingerprint samples frames 0, 2, 4


def vhash64(frame_hashes: list[int]) -> int | None:
    """64-bit temporal video hash: per-bit MAJORITY vote over the
    sampled frames' dHashes (bit j of the video hash is set iff
    strictly more than half the frames set bit j of their frame
    dHash) — the frame-median fingerprint production video-dedup
    stacks use, robust to a minority of edited/corrupted frames where
    a plain XOR or concat is not.  Returned as SIGNED int64 (bit 63 =
    the sign bit), LongType/xor/bit_count-compatible."""
    if not frame_hashes:
        return None
    n = len(frame_hashes)
    val = 0
    for j in range(64):
        cnt = sum((h >> j) & 1 for h in frame_hashes)
        if 2 * cnt > n:
            val |= 1 << j
    return val - (1 << 64) if val >= (1 << 63) else val


VIDEO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("vhash", LongType(), True),
    ]
)


def extract_video_fingerprint(
    media: DataFrame, every_n: int = _VFP_EVERY
) -> DataFrame:
    """video payload → 64-bit temporal fingerprint via Arrow-batched
    mapInPandas through the REAL container stack: frames are sampled
    with ``sample_frames`` (AVI walk; DIB frames gain a BMP header),
    each sampled frame is dHashed (``dhash64``), and the per-frame
    hashes combine by per-bit majority (``vhash64``).  Dirty or
    unsupported payloads (MJPEG, H.264, ...) yield a null hash (the
    bi5 silent-skip discipline); payload bytes never travel past this
    kernel."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hs: list[int | None] = []
            for p in pdf["payload"]:
                try:
                    frames = sample_frames(bytes(p or b""), every_n)
                    fh = []
                    for fr in frames:
                        px = _decode_pixels(fr)
                        fh.append(dhash64(px))
                    hs.append(vhash64(fh))
                except (ValueError, NotImplementedError):
                    hs.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "vhash": pd.array(hs, dtype="Int64"),
                }
            )

    return media.mapInPandas(batches, schema=VIDEO_FP_SCHEMA)


def documents_as_avi_media(documents: DataFrame) -> DataFrame:
    """Adapter used by tests/queries: synthesize a REAL AVI container
    per document — ``_VFP_FRAMES`` uncompressed 24-bit bottom-up DIB
    frames on the 9×8 dHash grid, gray pixel (f, r, c) =
    ``(len(token[(f*72 + r*9 + c) % n_tokens]) * 11) % 128`` over the
    doc's space-split tokens.  Deterministic, decodable by the real
    AVI walk (``_avi_frames`` → BMP → ``_decode_pixels``), and
    SQL-reproducible (the dedup_video_fingerprint oracle recomputes
    every sampled pixel from ``string_split``), while preserving the
    property that similar TEXTS yield similar VIDEOS (near-dup docs
    share token structure ⇒ near-identical frames ⇒ small hamming)
    so temporal dedup has real work to do on the fixture tables."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), True),
        ]
    )
    w, h = _DHASH_W, _DHASH_H
    stride = (w * 3 + 3) // 4 * 4  # 4-byte DIB row alignment
    npx = w * h

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    # BITMAPINFOHEADER: uncompressed (biCompression=0) 24-bit
    strf_body = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    # minimal-but-real stream headers: 56-byte strh ('vids'), strf
    strh_body = b"vids" + b"DIB " + b"\x00" * 48
    strl = chunk(
        b"LIST", b"strl" + chunk(b"strh", strh_body) + chunk(b"strf", strf_body)
    )
    avih_body = struct.pack("<14I", 40000, 0, 0, 0, _VFP_FRAMES, 0, 1, 0,
                            w, h, 0, 0, 0, 0)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih_body) + strl)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                tk = (text or "").split(" ")
                n = len(tk)
                movi = b"movi"
                for f in range(_VFP_FRAMES):
                    raster = bytearray(stride * h)
                    for r in range(h):  # logical top-down row r
                        off = (h - 1 - r) * stride  # stored bottom-up
                        for c in range(w):
                            g = (len(tk[(f * npx + r * w + c) % n]) * 11) % 128
                            raster[off + 3 * c : off + 3 * c + 3] = (g, g, g)
                    movi += chunk(b"00db", bytes(raster))
                body = b"AVI " + hdrl + chunk(b"LIST", movi)
                payloads.append(b"RIFF" + struct.pack("<I", len(body)) + body)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "video",
                    "payload": payloads,
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=out_schema
    )
