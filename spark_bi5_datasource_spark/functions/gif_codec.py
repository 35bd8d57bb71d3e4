"""Pure-Python GIF codec (LZW) — no imaging library required.

GIF's only compression is LZW over palette indices, which is a
sequential dictionary walk — fully implementable in the standard
library.  The decoder handles GIF87a/GIF89a: global and local color
tables, interlaced row order, extension blocks (graphic-control
transparency is dropped — these are feature kernels, not a
compositor), and decodes the FIRST image descriptor placed on the
logical screen; animation compositing (disposal methods, partial
frames) is out of scope and later frames are ignored.  The tests'
fixtures come from the encoder in ``tests/media_encoders.py``.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["gif_decode", "gif_dims"]


def _normalize_dirty(fn):
    """Corrupt-stream escapes (missing-table KeyError, truncated-read
    IndexError, short struct unpacks) normalize to ValueError so the
    media kernels' uniform dirty-input policy — catch (ValueError,
    NotImplementedError), emit null / skip the frame — holds for every
    decode entry point (the documented contract; previously a corrupt
    frame could fail a whole task via KeyError).  jpeg_codec imports
    this copy."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (KeyError, IndexError, struct.error) as exc:
            raise ValueError(
                f"corrupt payload in {fn.__name__}: {exc!r}"
            ) from exc

    return wrapped


def _color_table(data: bytes, pos: int, flags: int) -> tuple[np.ndarray | None, int]:
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        tbl = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        return tbl, pos + 3 * n
    return None, pos


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while pos < len(data):
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos : pos + n]
        pos += n
    return bytes(out), pos  # truncated payload: dirty-input leniency


def _lzw_decode(blob: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF-flavor LZW: variable code width, clear/EOI codes, dict caps
    at 12 bits."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(n_pixels, np.uint8)
    n_out = 0

    # bit reader, LSB-first (GIF packs codes little-endian)
    acc = 0
    nbits = 0
    pos = 0

    def init_dict():
        return {i: bytes([i]) for i in range(clear)}

    table = init_dict()
    next_code = eoi + 1
    width = min_code_size + 1
    prev: bytes | None = None

    while n_out < n_pixels:
        while nbits < width:
            if pos >= len(blob):
                return out[:n_out]  # truncated stream: dirty-input policy
            acc |= blob[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width

        if code == clear:
            table = init_dict()
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW stream")
        take = min(len(entry), n_pixels - n_out)
        out[n_out : n_out + take] = np.frombuffer(entry[:take], np.uint8)
        n_out += take
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out[:n_out]


_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


@_normalize_dirty
def gif_dims(data: bytes) -> tuple[int, int]:
    data = bytes(data)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h = struct.unpack_from("<HH", data, 6)
    return w, h


@_normalize_dirty
def gif_decode(data: bytes) -> np.ndarray:
    """First frame → (H, W, 3) RGB uint8 on the logical screen
    (background-filled outside the frame rectangle)."""
    data = bytes(data)
    w, h = gif_dims(data)
    flags, bg, _aspect = struct.unpack_from("<BBB", data, 10)
    pos = 13
    gct, pos = _color_table(data, pos, flags)

    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            _blob, pos = _sub_blocks(data, pos)
        elif b == 0x2C:  # image descriptor
            left, top, iw, ih, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
            pos += 10
            lct, pos = _color_table(data, pos, iflags)
            palette = lct if lct is not None else gct
            if palette is None:
                raise ValueError("GIF frame without a color table")
            min_code = data[pos]
            pos += 1
            blob, pos = _sub_blocks(data, pos)
            idx = _lzw_decode(blob, min_code, iw * ih)
            if len(idx) < iw * ih:  # truncated: pad with background
                idx = np.concatenate(
                    [idx, np.full(iw * ih - len(idx), 0, np.uint8)]
                )
            grid = np.empty((ih, iw), np.uint8)
            if iflags & 0x40:  # interlaced
                rows = idx.reshape(ih, iw)
                r = 0
                for start, step in _INTERLACE_PASSES:
                    for y in range(start, ih, step):
                        grid[y] = rows[r]
                        r += 1
            else:
                grid = idx.reshape(ih, iw)
            screen = np.full((h, w), bg if gct is not None else 0, np.uint8)
            screen[top : top + ih, left : left + iw] = grid[
                : max(0, h - top), : max(0, w - left)
            ]
            pal = palette
            if pal.shape[0] < 256:  # defend out-of-range indices
                pal = np.vstack([pal, np.zeros((256 - pal.shape[0], 3), np.uint8)])
            return pal[screen]
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError("GIF without an image descriptor")
