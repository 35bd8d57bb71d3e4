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

The encoder emits spec-valid baseline JPEG with simple canonical
Huffman tables (all 12 DC categories at 4 bits; all 162 AC symbols
at 9 bits — Kraft-valid, all-ones codeword never assigned) and a
quality-scaled ramp quantization matrix.  JPEG requires the tables
to be *declared*, not to be the Annex-K suggestions, so the output
decodes in any conforming reader; compression is modest but the
purpose is a real, testable wire format, and round-trip error is
bounded by the quant step (pinned in tests).

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

__all__ = ["jpeg_decode", "jpeg_encode", "jpeg_dims"]

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


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("ux,nxy,vy->nuv", _T, blocks, _T, optimize=True)


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


# ------------------------------------------------------------- encode

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
