"""Image encoders the tests build fixtures with.

The package only decodes images (``functions/multimodal.py``,
``functions/jpeg_codec.py``, ``functions/gif_codec.py``); these write
the PNG, baseline JPEG and GIF payloads the decoder tests round-trip,
and ``jpeg_dims`` reads a JPEG's frame header for the tests to check
decoded shapes against.

PNG: filter 0 on every scanline, DEFLATE by stdlib ``zlib``.

JPEG: spec-valid baseline with simple canonical Huffman tables (all 12
DC categories at 4 bits; all 162 AC symbols at 9 bits — Kraft-valid,
all-ones codeword never assigned) and a quality-scaled ramp
quantization matrix.  JPEG requires the tables to be *declared*, not to
be the Annex-K suggestions, so the output decodes in any conforming
reader; round-trip error is bounded by the quant step.

GIF: a single-frame GIF89a for images whose channels palettize
losslessly (≤ 256 unique colors), so a round trip is bit-exact on the
pixel array.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from spark_bi5_datasource_spark.functions.gif_codec import _normalize_dirty
from spark_bi5_datasource_spark.functions.jpeg_codec import (
    _T,
    _ZIGZAG,
    _build_huffman,
    _parse_segments,
)
from spark_bi5_datasource_spark.functions.multimodal import _PNG_SIG


# --------------------------------------------------------------- PNG

_PNG_CT_FOR_CHANNELS = {1: 0, 2: 4, 3: 2, 4: 6}


def _png_encode(px: np.ndarray) -> bytes:
    """(H, W, C) uint8 → PNG, filter 0 on every scanline."""
    h, w, ch = px.shape
    ct = _PNG_CT_FOR_CHANNELS[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    rows = np.zeros((h, 1 + w * ch), np.uint8)  # leading filter byte 0
    rows[:, 1:] = px.reshape(h, w * ch)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(rows.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body))
    )


# -------------------------------------------------------------- JPEG


@_normalize_dirty
def jpeg_dims(data: bytes) -> tuple[int, int]:
    """(width, height) straight from the frame header — no entropy
    decode.  Any SOFn variant yields dims even when full decode would
    refuse it."""
    for marker, a, _b in _parse_segments(bytes(data)):
        if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            _prec, h, w = struct.unpack_from(">BHH", data, a)
            return w, h
    raise ValueError("JPEG without a frame header")



# Simple spec-valid canonical tables: 12 DC categories at 4 bits each
# (codes 0..11 of 16 — the all-ones codeword 0xF is never assigned),
# 162 AC symbols at 9 bits each (codes 0..161 of 512).
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 0, 0, 0, 0, 0, 0, 0]


def _encode_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    table = _build_huffman(bits, vals)
    return {sym: (length, code) for (length, code), sym in table.items()}


_DC_CODES = _encode_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _encode_codes(_AC_BITS, _AC_VALS)


def _quant_table(quality: int) -> np.ndarray:
    """Quality-scaled ramp: low frequencies quantize finer.  Any
    table is spec-valid — it ships in DQT."""
    i, j = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    base = 1 + (i + j) * 2
    scale = 50.0 / quality if quality < 50 else 2.0 - quality / 50.0
    q = np.clip(np.round(base * scale), 1, 255).astype(np.int64)
    return q


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("ux,nxy,vy->nuv", _T, blocks, _T, optimize=True)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, length: int, code: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write(pad, (1 << pad) - 1)  # pad with 1-bits


def _size_cat(v: int) -> int:
    return int(abs(v)).bit_length()


def _write_block(w: _BitWriter, zz: np.ndarray, pred: int) -> int:
    dc = int(zz[0])
    diff = dc - pred
    s = _size_cat(diff)
    w.write(*_DC_CODES[s])
    if s:
        w.write(s, diff if diff >= 0 else diff + (1 << s) - 1)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            w.write(*_AC_CODES[0x00])  # EOB
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            w.write(*_AC_CODES[0xF0])  # ZRL
            run -= 16
        s = _size_cat(v)
        w.write(*_AC_CODES[(run << 4) | s])
        w.write(s, v if v >= 0 else v + (1 << s) - 1)
        run = 0
    return dc


def jpeg_encode(
    px: np.ndarray, quality: int = 90, subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 1|3) uint8 → baseline JPEG.  3-channel input is taken as
    RGB and encoded YCbCr, 4:4:4 by default or 4:2:0 with
    ``subsample=True``; ``restart_interval`` (in MCUs) emits DRI +
    RSTn markers, mainly so the decoder's restart path has a real
    producer to test against."""
    h, w, ch = px.shape
    if ch == 3:
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
        sampling = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
    else:
        planes = [px[:, :, 0].astype(np.float64)]
        sampling = [(1, 1)]
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    q = _quant_table(quality)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    comp_blocks = []
    for plane, (sh, sv) in zip(planes, sampling):
        if (sh, sv) != (hmax, vmax):  # chroma subsample by box mean
            fy, fx = vmax // sv, hmax // sh
            ph = -(-plane.shape[0] // fy) * fy
            pw = -(-plane.shape[1] // fx) * fx
            pad = np.pad(plane, ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                         mode="edge")
            plane = pad.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        bh, bw = mcus_y * sv, mcus_x * sh
        pad = np.pad(
            plane,
            ((0, bh * 8 - plane.shape[0]), (0, bw * 8 - plane.shape[1])),
            mode="edge",
        )
        blocks = (
            pad.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        coefs = _fdct_blocks(blocks - 128.0)
        zz = np.round(coefs.reshape(-1, 64) / q.reshape(-1)[None, :])
        zz = zz[:, _ZIGZAG].astype(np.int64)  # natural → zigzag
        comp_blocks.append((zz, bw, sh, sv))

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes(q.reshape(-1)[_ZIGZAG].tolist()))
    sof = struct.pack(">BHHB", 8, h, w, len(planes))
    for i, (sh, sv) in enumerate(sampling):
        sof += struct.pack(">BBB", i + 1, (sh << 4) | sv, 0)
    seg(0xC0, sof)
    seg(0xC4, bytes([0x00] + _DC_BITS + _DC_VALS))
    seg(0xC4, bytes([0x10] + _AC_BITS + _AC_VALS))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(planes)])
    for i in range(len(planes)):
        sos += struct.pack(">BB", i + 1, 0x00)
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    writer = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.flush()
                out.extend(writer.out)
                writer = _BitWriter()
                out.extend(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) & 7
                preds = [0] * len(planes)
            for ci, (zz, bw, sh, sv) in enumerate(comp_blocks):
                for v in range(sv):
                    for hh in range(sh):
                        bi = (my * sv + v) * bw + (mx * sh + hh)
                        preds[ci] = _write_block(writer, zz[bi], preds[ci])
            mcu_count += 1
    writer.flush()
    out.extend(writer.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# --------------------------------------------------------------- GIF


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    buf = b""
    for i in indices.tobytes():
        nxt = buf + bytes([i])
        if nxt in table:
            buf = nxt
            continue
        emit(table[buf])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            # one entry LATER than the decoder's own bump: the
            # decoder's dictionary lags the encoder by exactly one
            # entry at each read, so its (1 << width) threshold is
            # reached while the encoder's counter shows one more
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear)
            table = {bytes([j]): j for j in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        buf = bytes([i])
    if buf:
        emit(table[buf])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_encode(px: np.ndarray) -> bytes:
    """(H, W, 3) uint8 with ≤ 256 unique colors → single-frame GIF89a."""
    h, w, _ = px.shape
    flat = px.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if colors.shape[0] > 256:
        raise NotImplementedError(
            "gif_encode requires a palettizable image (≤ 256 unique "
            "colors); arbitrary photos need a quantizer from a real "
            "imaging stack"
        )
    size = max(2, colors.shape[0])
    bits = max(1, int(np.ceil(np.log2(size))))
    table = np.zeros((1 << bits, 3), np.uint8)
    table[: colors.shape[0]] = colors

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 7), 0, 0)
    out += table.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code = max(2, bits)
    out.append(min_code)
    blob = _lzw_encode(idx.astype(np.uint8), min_code)
    for i in range(0, len(blob), 255):
        chunk = blob[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    out += b"\x3b"
    return bytes(out)
