"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched
``mapInPandas`` (north-star operator, SURVEY §2 Tier C).

The perceptual-hash kernels decode for real every format a pure-Python
stack can honestly implement — images PPM (P6) / PGM (P5) / 24-bit
BMP, 8-bit PNG (DEFLATE is stdlib ``zlib``; the five scanline filters
unfilter in NumPy), baseline JPEG (SOF0 — full entropy decode + IDCT
in ``jpeg_codec.py``, validated against real-world encoder output),
and GIF (pure-Python LZW in ``gif_codec.py``, likewise pinned by real
files), audio WAV (8/16-bit PCM, G.711 A-law/μ-law, IMA ADPCM), video
AVI with uncompressed DIB or MJPEG frames.  Formats that remain out
of pure-Python reach (progressive JPEG, MP3, H.264) raise
``NotImplementedError``.  ``extract_media_features`` exercises the
Arrow plumbing with a deterministic fake kernel that derives the
dimensions from the payload size, independent of payload format.
"""

from __future__ import annotations

import struct
import zlib
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


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (8-bit): gray, RGB, palette idx, gray+A, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_parse(data: bytes) -> tuple[int, int, int, int, int, bytes, bytes]:
    """Chunk walk → (w, h, depth, color_type, interlace, plte, idat).
    Chunk CRCs are not verified (lenient, like the bi5 reader's
    dirty-input policy); IDAT chunks concatenate per the spec."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, n = 8, len(data)
    w = h = depth = ct = interlace = -1
    plte = b""
    idat: list[bytes] = []
    while pos + 8 <= n:
        (length,), ctype = struct.unpack_from(">I", data, pos), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            w, h, depth, ct, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + payload + crc
    if w < 0:
        raise ValueError("PNG without IHDR")
    return w, h, depth, ct, interlace, plte, b"".join(idat)


def _png_unfilter(raw: np.ndarray, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters.  ``raw`` is (h, 1+stride)
    uint8 (leading filter byte per row).  None/Up/Sub rows stay fully
    vectorized (Sub is a cumsum over bpp-strided lanes); Average/Paeth
    carry a data-dependent horizontal recurrence, so those rows fall
    back to a per-byte loop — O(stride) Python only on rows that used
    them."""
    h, stride = raw.shape[0], raw.shape[1] - 1
    filters = raw[:, 0]
    rows = raw[:, 1:].astype(np.int64)
    out = np.empty((h, stride), np.int64)
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        r, f = rows[y], int(filters[y])
        if f == 0:
            cur = r
        elif f == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp]
            cur = r.copy()
            for c in range(bpp):
                cur[c::bpp] = np.cumsum(cur[c::bpp]) & 0xFF
        elif f == 2:  # Up
            cur = (r + prev) & 0xFF
        elif f == 3:  # Average
            cur = np.empty(stride, np.int64)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (r[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = np.empty(stride, np.int64)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c_ = prev[x - bpp] if x >= bpp else 0
                p = a + b - c_
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c_)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c_)
                cur[x] = (r[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out.astype(np.uint8)


def _png_decode(data: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG → (H, W, C) uint8.  Palette images
    resolve through PLTE to RGB (palette alpha/tRNS is dropped — these
    are feature kernels, not a compositor).  16-bit and Adam7
    variants raise ``NotImplementedError`` (rare in training corpora;
    the dirty-input-null policy upstream absorbs them)."""
    w, h, depth, ct, interlace, plte, idat = _png_parse(data)
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG is not supported")
    if depth != 8 or ct not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"only 8-bit PNG is supported (depth={depth}, color_type={ct})"
        )
    ch = _PNG_CHANNELS[ct]
    stride = w * ch
    raw = zlib.decompress(idat)
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG raster size mismatch")
    px = _png_unfilter(
        np.frombuffer(raw, np.uint8).reshape(h, stride + 1), ch
    ).reshape(h, w, ch)
    if ct == 3:
        if not plte:
            raise ValueError("palette PNG without PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        px = pal[px[:, :, 0]]
    return px


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
    if data[:8] == _PNG_SIG:
        return _png_decode(data)
    if head == b"\xff\xd8":
        from .jpeg_codec import jpeg_decode

        return jpeg_decode(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from .gif_codec import gif_decode

        return gif_decode(data)
    raise NotImplementedError(f"payload magic {head!r} needs an imaging library")


_WAV_TAGS = {1: "pcm", 6: "alaw", 7: "ulaw", 17: "ima_adpcm"}


def _wav_header(data: bytes) -> tuple[int, int, int, int, int, str, int]:
    """Parse a RIFF/WAVE header by walking its chunk list: returns
    (n_channels, sample_rate, bits_per_sample, data_offset, data_len,
    codec, block_align).  Supported codecs need no library:
    uncompressed PCM (format tag 1), the formula-defined G.711
    companders A-law (tag 6) and μ-law (tag 7), and IMA/DVI ADPCM
    (tag 17 — public step-table spec); anything else (MS-ADPCM,
    MP3-in-WAV, extensible) raises ``NotImplementedError``."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data_span = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if cid == b"fmt " and size >= 16:
            tag, ch, rate = struct.unpack_from("<HHI", data, body)
            (balign, bits) = struct.unpack_from("<HH", data, body + 12)
            if tag not in _WAV_TAGS:
                raise NotImplementedError(
                    f"only PCM / A-law / μ-law / IMA-ADPCM WAV is supported "
                    f"without a codec library (got format tag={tag})"
                )
            fmt = (ch, rate, bits, _WAV_TAGS[tag], balign)
        elif cid == b"data":
            data_span = (body, min(size, len(data) - body))
        pos = body + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data_span is None:
        raise ValueError("WAV payload missing fmt/data chunk")
    ch, rate, bits, codec, balign = fmt
    if (
        ch < 1
        or (codec == "pcm" and bits not in (8, 16))
        or (codec in ("alaw", "ulaw") and bits != 8)
        or (codec == "ima_adpcm" and bits != 4)
    ):
        raise NotImplementedError(
            f"unsupported WAV layout (codec={codec}, bits={bits}, ch={ch})"
        )
    return ch, rate, bits, data_span[0], data_span[1], codec, balign


def _ulaw_decode(b: np.ndarray) -> np.ndarray:
    """G.711 μ-law byte → int16-range linear (vectorized formula)."""
    u = ~b.astype(np.int64) & 0xFF
    exp = (u >> 4) & 7
    mant = u & 0xF
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(u & 0x80, -mag, mag)


def _alaw_decode(b: np.ndarray) -> np.ndarray:
    """G.711 A-law byte → int16-range linear (vectorized formula)."""
    a = b.astype(np.int64) ^ 0x55
    exp = (a >> 4) & 7
    mant = a & 0xF
    mag = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(a & 0x80, mag, -mag)


# IMA/DVI ADPCM: the 89-entry quantizer step table and the 8-entry
# index-adjust table from the public IMA spec (the same constants every
# tag-17 decoder ships; see e.g. the stdlib ``audioop`` module, whose
# adpcm2lin implements the identical recurrence without WAV framing)
_IMA_STEP = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], np.int32)


def _ima_adpcm_decode(
    data: bytes, off: int, dlen: int, ch: int, balign: int
) -> np.ndarray:
    """WAV format-tag-17 IMA ADPCM → int16 (frames, channels).

    Block layout (public spec): per channel a 4-byte header
    (int16-LE predictor = the block's first output sample, uint8 step
    index, reserved), then 4-byte words interleaved channel-major,
    each byte low-nibble-first.  The predictor recurrence is
    inherently sequential per channel, so the loop runs over the
    within-block sample position while every step is vectorized
    across (blocks × channels) — blocks are independent by design
    (that is what makes the format seekable, and what makes this
    decode parallel)."""
    if balign < 8 * ch or (balign - 4 * ch) % (4 * ch):
        raise ValueError(f"bad IMA ADPCM block align {balign} for ch={ch}")
    nfull, rem = divmod(dlen, balign)
    parts = []
    for nb, bsize in ((nfull, balign), (1 if rem >= 4 * ch else 0, rem)):
        if nb == 0:
            continue
        start = off if bsize == balign else off + nfull * balign
        usable = 4 * ch + (bsize - 4 * ch) // (4 * ch) * (4 * ch)
        buf = np.frombuffer(data, np.uint8, nb * bsize, start).reshape(
            nb, bsize
        )[:, :usable]
        heads = buf[:, : 4 * ch].reshape(nb, ch, 4).astype(np.int32)
        pred = ((heads[:, :, 0] | (heads[:, :, 1] << 8)) ^ 0x8000) - 0x8000
        idx = np.clip(heads[:, :, 2], 0, 88)
        stream = (
            buf[:, 4 * ch :]
            .reshape(nb, -1, ch, 4)
            .transpose(0, 2, 1, 3)
            .reshape(nb, ch, -1)
            .astype(np.int32)
        )
        nib = np.empty((nb, ch, stream.shape[2] * 2), np.int32)
        nib[:, :, 0::2] = stream & 0xF
        nib[:, :, 1::2] = stream >> 4
        out = np.empty((nb, ch, nib.shape[2] + 1), np.int16)
        out[:, :, 0] = pred
        for i in range(nib.shape[2]):
            n = nib[:, :, i]
            step = _IMA_STEP[idx]
            diff = (
                (step >> 3)
                + np.where(n & 1, step >> 2, 0)
                + np.where(n & 2, step >> 1, 0)
                + np.where(n & 4, step, 0)
            )
            pred = np.clip(
                np.where(n & 8, pred - diff, pred + diff), -32768, 32767
            )
            idx = np.clip(idx + _IMA_INDEX[n & 7], 0, 88)
            out[:, :, i + 1] = pred
        parts.append(out.transpose(0, 2, 1).reshape(-1, ch))
    if not parts:
        return np.zeros((0, ch), np.int16)
    return np.concatenate(parts) if len(parts) > 1 else parts[0]


def _audio_samples(data: bytes) -> tuple[np.ndarray, int]:
    """Payload → (frames, channels) float64 in [-1, 1] + sample rate."""
    ch, rate, bits, off, dlen, codec, balign = _wav_header(data)
    if codec == "ima_adpcm":
        x = _ima_adpcm_decode(data, off, dlen, ch, balign).astype(np.float64)
        return x / 32768.0, rate
    step = ch * bits // 8
    n = dlen // step
    if codec == "ulaw":
        raw = np.frombuffer(data, np.uint8, n * ch, off)
        x = _ulaw_decode(raw).astype(np.float64) / 32768.0
    elif codec == "alaw":
        raw = np.frombuffer(data, np.uint8, n * ch, off)
        x = _alaw_decode(raw).astype(np.float64) / 32768.0
    elif bits == 16:
        raw = np.frombuffer(data, "<i2", n * ch, off).astype(np.float64)
        x = raw / 32768.0
    else:  # 8-bit PCM WAV is unsigned, midpoint 128
        raw = np.frombuffer(data, np.uint8, n * ch, off).astype(np.float64)
        x = (raw - 128.0) / 128.0
    return x.reshape(n, ch), rate


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


_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def _avi_frames(data: bytes) -> tuple[int, int, list[bytes], str]:
    """Parse an AVI (RIFF) container: returns (width, height, frames,
    kind) where kind is ``"dib"`` (raw bottom-up BGR rasters) or
    ``"mjpg"`` (each frame is a standalone baseline JPEG, decodable by
    ``jpeg_codec``).  Other compressed streams (H.264 etc.) raise
    ``NotImplementedError`` — those need a real codec."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    dims: tuple[int, int] | None = None
    kind = "dib"
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        nonlocal dims, kind
        for cid, body, blen in _riff_chunks(data, start, end):
            if cid == b"LIST":
                walk(body + 4, body + blen)  # skip the subtype fourcc
            elif cid == b"strf" and dims is None and blen >= 40:
                w, h = struct.unpack_from("<ii", data, body + 4)
                bpp, = struct.unpack_from("<H", data, body + 14)
                compression, = struct.unpack_from("<I", data, body + 16)
                if compression == _MJPG_FOURCC:
                    kind = "mjpg"
                elif compression != 0 or bpp != 24:
                    raise NotImplementedError(
                        f"only uncompressed 24-bit DIB or MJPG video is "
                        f"supported without a codec library "
                        f"(bpp={bpp}, compression={compression})"
                    )
                dims = (w, abs(h))
            elif cid[2:] == b"dc":
                if kind != "mjpg":
                    raise NotImplementedError(
                        "compressed video frames need a codec library"
                    )
                frames.append(data[body : body + blen])
            elif cid[2:] == b"db":  # uncompressed DIB frame
                frames.append(data[body : body + blen])

    walk(12, len(data))
    if dims is None:
        raise ValueError("AVI payload missing strf header")
    return dims[0], dims[1], frames, kind


def sample_frames(payload: bytes, every_n: int) -> list[bytes]:
    """Sample every ``every_n``-th frame from a video payload,
    returned as standalone images (consumable by ``_decode_pixels``).

    REAL for AVI containers with uncompressed 24-bit DIB streams (the
    frame raster IS a BMP body — bottom-up, 4-byte row stride — so
    each sampled frame just gains a 54-byte BMP header) and for MJPEG
    streams whose frames carry their own DQT/DHT tables (each frame
    is a standalone baseline JPEG, decoded by ``jpeg_codec``;
    table-less MJPEG frames — the implicit-tables convention — fail
    per-frame into the dirty-input skip).  Other codecs (H.264/...)
    raise ``NotImplementedError``."""
    data = bytes(payload)
    w, h, frames, kind = _avi_frames(data)
    if kind == "mjpg":
        return list(frames[:: max(1, every_n)])
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
    (``_decode_pixels``: PPM/PGM/BMP/PNG/baseline-JPEG/GIF).  Dirty
    or unsupported payloads yield a null hash (the bi5 scan's
    silent-skip discipline) so one bad image never kills the task."""

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
    mapInPandas through the REAL decoder stack (``_audio_samples``:
    8/16-bit PCM, G.711 A-law/μ-law, IMA ADPCM).  Dirty or
    unsupported payloads yield a null fingerprint (the bi5
    silent-skip discipline)."""

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
    mapInPandas through the REAL container/codec stack: frames are
    sampled with ``sample_frames`` (AVI walk; DIB frames gain a BMP
    header, MJPEG frames decode through the JPEG codec), each sampled
    frame is dHashed (``dhash64``), and the per-frame hashes combine
    by per-bit majority (``vhash64``).  Dirty or unsupported payloads
    yield a null hash (the bi5 silent-skip discipline); payload bytes
    never travel past this kernel."""

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
