"""Pure-NumPy baseline JPEG codec — no imaging library required.

Baseline sequential DCT JPEG (SOF0) is decodable from first
principles: every table the bitstream uses is EMBEDDED in the file
(DQT quantization matrices, DHT canonical Huffman tables), entropy
coding is canonical Huffman over (run,size) symbols, and the 8×8
inverse DCT is one einsum.  So the decoder below handles real-world
baseline JPEGs — grayscale or YCbCr with any sampling factors
(4:4:4 / 4:2:2 / 4:2:0), restart markers, byte stuffing — while the
variants that genuinely need a heavier implementation (progressive
SOF2, arithmetic coding, 12-bit precision, hierarchical) raise
``NotImplementedError`` and fall to the caller's dirty-input policy.
The tests' fixtures come from the encoder in ``tests/media_encoders.py``
and from foreign encoders' files.

Decode hot loops: the per-coefficient Huffman walk is Python (bit
serial by nature); dequantize/IDCT/upsample/color-convert are
vectorized over all blocks at once.  Intended batch context is the
``mapInPandas`` kernels in functions/multimodal.py, where payloads
are test/fixture sized; a production deployment would swap in a
codec library behind the same function signatures.
"""

from __future__ import annotations

import struct

import numpy as np

from .gif_codec import _normalize_dirty

__all__ = ["jpeg_decode"]

# ------------------------------------------------------------ shared

_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal DCT-II basis: block_dct = T @ block @ T.T
_T = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = np.sqrt(0.5) if _u == 0 else 1.0
        _T[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _idct_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) coefficient blocks → spatial, in one einsum."""
    return np.einsum("ux,nuv,vy->nxy", _T, blocks, _T, optimize=True)


def _build_huffman(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman: {(length, code) -> symbol}."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _extend(value: int, size: int) -> int:
    """JPEG EXTEND: map a size-bit magnitude to its signed value."""
    return value if value >= (1 << (size - 1)) else value - (1 << size) + 1


# ------------------------------------------------------------- decode


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    stops (reporting the marker) at any real marker byte."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            # past a marker: the spec pads with 1-bits
            self.bitbuf = (self.bitbuf << 8) | 0xFF
            self.nbits += 8
            return
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:          # stuffed
                self.pos += 2
            else:                    # real marker: stop consuming
                self.marker = nxt
                self.bitbuf = (self.bitbuf << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    def align_and_skip_marker(self) -> int:
        """Byte-align at a restart marker; return the marker code."""
        self.nbits = 0
        if self.marker is None:
            # marker not yet consumed by _fill: find it in the stream
            while self.data[self.pos] != 0xFF or self.data[self.pos + 1] in (0x00,):
                self.pos += 1
            self.marker = self.data[self.pos + 1]
            self.pos += 2
        else:
            self.pos += 2
        m, self.marker = self.marker, None
        return m


def _parse_segments(data: bytes):
    """Yield (marker, payload_start, payload_end) until SOS/EOI."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            return
        (length,) = struct.unpack_from(">H", data, pos + 2)
        yield marker, pos + 4, pos + 2 + length
        if marker == 0xDA:  # SOS: entropy data follows, caller takes over
            return
        pos += 2 + length


@_normalize_dirty
def jpeg_decode(data: bytes) -> np.ndarray:
    """Baseline JPEG → (H, W, 3) RGB uint8, or (H, W, 1) grayscale."""
    data = bytes(data)
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None
    scan = None
    sos_end = -1

    for marker, a, b in _parse_segments(data):
        if marker == 0xDB:  # DQT
            p = a
            while p < b:
                pq, tq = data[p] >> 4, data[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables")
                qt[tq] = np.frombuffer(data, np.uint8, 64, p + 1).astype(np.int64)
                p += 65
        elif marker == 0xC4:  # DHT
            p = a
            while p < b:
                tc, th = data[p] >> 4, data[p] & 0xF
                bits = list(data[p + 1 : p + 17])
                n = sum(bits)
                vals = list(data[p + 17 : p + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman(bits, vals)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", data, a)
        elif marker == 0xC0 or marker == 0xC1:  # baseline / ext sequential
            prec, h, w, ncomp = struct.unpack_from(">BHHB", data, a)
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG precision")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", data, a + 6 + 3 * i)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline sequential JPEG (SOF0/SOF1) is supported"
            )
        elif marker == 0xDA:  # SOS
            ns = data[a]
            scan = []
            for i in range(ns):
                cs, tds = struct.unpack_from(">BB", data, a + 1 + 2 * i)
                scan.append({"id": cs, "td": tds >> 4, "ta": tds & 0xF})
            sos_end = b
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    for s in scan:
        by_id[s["id"]]["td"] = s["td"]
        by_id[s["id"]]["ta"] = s["ta"]

    # per-component zigzag coefficient store, filled MCU by MCU
    for c in comps:
        c["bw"] = mcus_x * c["h"]   # blocks across
        c["bh"] = mcus_y * c["v"]
        c["coefs"] = np.zeros((c["bh"] * c["bw"], 64), np.int64)
        c["pred"] = 0

    reader = _BitReader(data, sos_end)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = reader.align_and_skip_marker()
                if not (0xD0 <= m <= 0xD7):
                    raise ValueError("expected JPEG restart marker")
                for c in comps:
                    c["pred"] = 0
            for c in comps:
                dc_t, ac_t = huff_dc[c["td"]], huff_ac[c["ta"]]
                for v in range(c["v"]):
                    for hh in range(c["h"]):
                        zz = np.zeros(64, np.int64)
                        s = reader.decode_symbol(dc_t)
                        diff = _extend(reader.read_bits(s), s) if s else 0
                        c["pred"] += diff
                        zz[0] = c["pred"]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(ac_t)
                            r, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break        # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            zz[k] = _extend(reader.read_bits(size), size)
                            k += 1
                        bi = (my * c["v"] + v) * c["bw"] + (mx * c["h"] + hh)
                        c["coefs"][bi] = zz
            mcu_count += 1

    planes = []
    for c in comps:
        deq = c["coefs"] * qt[c["tq"]][None, :]
        blocks = np.zeros((deq.shape[0], 64))
        blocks[:, _ZIGZAG] = deq        # inverse zigzag
        spatial = _idct_blocks(blocks.reshape(-1, 8, 8)) + 128.0
        plane = (
            spatial.reshape(c["bh"], c["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["bh"] * 8, c["bw"] * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // c["v"], 0), hmax // c["h"], 1)
        planes.append(plane[: frame["h"], : frame["w"]])

    if len(planes) == 1:
        out = planes[0][:, :, None]
    else:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        out = np.stack(
            [y + 1.402 * cr,
             y - 0.344136 * cb - 0.714136 * cr,
             y + 1.772 * cb],
            axis=-1,
        )
    return np.clip(np.round(out), 0, 255).astype(np.uint8)
