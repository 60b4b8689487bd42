"""REAL baseline JPEG codec (grayscale), stdlib + numpy only.

The last honest codec stub in the multimodal surface was DCT formats
(`decode_image_real` raised for JPEG). This module closes it with a
genuine ITU-T T.81 baseline sequential codec for single-component
(grayscale) images: forward/inverse 8x8 DCT (exact orthonormal matrix
form), quantization, zigzag, category/run-length symbol coding, the
spec Annex K Huffman tables, byte stuffing (0xFF -> 0xFF 0x00), and a
real marker-segment parser on the decode side (SOI/DQT/SOF0/DHT/SOS/
EOI; the decoder rebuilds its Huffman tables from the DHT segments in
the file, not from constants).

JPEG is lossy, so unlike the PNG/netpbm lanes no exact pixel-sum
oracle exists. The contract is an ERROR BOUND instead (the
agg_approx_bounds pattern): with this encoder's quantization table
(DC step 1, AC step 2), quantization error is <= 1 per AC coefficient,
so any pixel's reconstruction error is provably <= (1/4)*sum over 63
AC terms of |e| * |basis| < 16 plus rounding — the lane emits exact
geometry both engines can compute from the payload length AND a
max-abs-error-within-bound flag that a broken DCT, zigzag, Huffman or
stuffing step flips to false (hash-fail against the oracle's TRUE).

Reference parity note: the reference has no media handling at all;
this is charter capability (multimodal columns) — see SURVEY §2.2.
"""

from __future__ import annotations

import struct

import numpy as np

# ---- spec constants (ITU-T T.81 Annex K, public) ----

_ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)

_DC_BITS = [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]

# quantization table in NATURAL order: DC exact, AC step 2 (keeps every
# quantized coefficient inside Huffman category 10 and the pixel
# reconstruction error provably small — module docstring)
_QTABLE = np.full(64, 2, dtype=np.int64)
_QTABLE[0] = 1

# max |decoded - original| the contract allows: AC quantization error
# <= 1 per coefficient x 63 coefficients x basis magnitude (1/4)·c_u·c_v
# <= ~16, plus IDCT float rounding
MAX_ABS_ERR = 16

# orthonormal 8x8 DCT matrix: M[u,i] = (c_u/2)·cos((2i+1)uπ/16), so
# S = M x M^T is exactly the T.81 FDCT and x = M^T S M the IDCT
_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _i in range(8):
        _M[_u, _i] = (_c / 2.0) * np.cos((2 * _i + 1) * _u * np.pi / 16.0)


def _huffman_codes(bits, vals):
    """Canonical Huffman assignment per T.81 C.2: returns
    {value: (code, length)}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:           # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-padding per spec
        return bytes(self.buf)


class _BitReader:
    """Entropy-stream reader: unstuffs once up front, then serves bit
    windows from an integer accumulator refilled 8 bytes at a time —
    the per-bit-loop version measured ~3x slower end-to-end."""

    def __init__(self, data: bytes):
        # validate stuffing in one scan: every 0xFF inside entropy data
        # must be followed by 0x00 (RST markers unsupported here)
        pos = data.find(b"\xFF")
        while pos != -1:
            if pos + 1 >= len(data):
                raise ValueError("JPEG entropy stream ends on 0xFF")
            nxt = data[pos + 1]
            if nxt != 0x00:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} "
                                 "inside entropy data (RST unsupported)")
            pos = data.find(b"\xFF", pos + 2)
        self.buf = data.replace(b"\xFF\x00", b"\xFF")
        self.total_bits = 8 * len(self.buf)
        self.pos = 0
        self.acc = 0
        self.n = 0
        self.consumed = 0

    def _ensure(self, k: int):
        while self.n < k:
            chunk = self.buf[self.pos:self.pos + 8]
            if chunk:
                self.acc = (self.acc << (8 * len(chunk))) \
                    | int.from_bytes(chunk, "big")
                self.n += 8 * len(chunk)
                self.pos += len(chunk)
            else:
                # virtual 1-padding past the real stream (spec pads the
                # final byte with 1s); consuming past total_bits is the
                # truncation signal, checked in _consume
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8

    def _consume(self, k: int):
        self.consumed += k
        if self.consumed > self.total_bits:
            raise ValueError("JPEG entropy stream truncated")
        self.n -= k
        self.acc &= (1 << self.n) - 1

    def peek16(self) -> int:
        self._ensure(16)
        return (self.acc >> (self.n - 16)) & 0xFFFF

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        self._ensure(k)
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self._consume(k)
        return v


def _extend(v: int, cat: int) -> int:
    """T.81 F.12 sign extension of a `cat`-bit magnitude."""
    if cat == 0:
        return 0
    if v < (1 << (cat - 1)):
        return v - (1 << cat) + 1
    return v


def encode_jpeg_gray(payload: bytes, width: int = 32) -> bytes:
    """Wrap raw bytes as a genuine baseline JPEG: bytes become the
    8-bit grayscale raster row-major, zero-padded to width x height
    (height = ceil(n/width), min 1; width must be a multiple of 8),
    FDCT'd per 8x8 block, quantized (DC step 1 / AC step 2), zigzagged
    and Huffman-coded with the Annex K tables."""
    if width % 8 != 0:
        raise ValueError("width must be a multiple of 8")
    n = len(payload)
    height = max(1, -(-n // width))
    data = payload + b"\x00" * (width * height - n)
    img = np.frombuffer(data, dtype=np.uint8).reshape(height, width)
    # pad rows to a multiple of 8 with zeros (decoder crops to SOF dims)
    pad_h = (-height) % 8
    if pad_h:
        img = np.vstack([img, np.zeros((pad_h, width), dtype=np.uint8)])

    dc_codes = _huffman_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huffman_codes(_AC_BITS, _AC_VALS)
    # FDCT + quantize + zigzag for ALL blocks in one einsum (the
    # per-block @ loop measured ~2x slower end-to-end)
    bh, bw = img.shape[0] // 8, width // 8
    blocks = (img.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8).astype(np.float64) - 128.0)
    s_all = np.einsum("ui,bij,vj->buv", _M, blocks, _M)
    zz_all = np.round(s_all.reshape(-1, 64)
                      / _QTABLE).astype(np.int64)[:, _ZIGZAG]
    w = _BitWriter()
    prev_dc = 0
    for bi in range(zz_all.shape[0]):
        zz = zz_all[bi].tolist()
        # DC: category + magnitude bits of the diff
        diff = zz[0] - prev_dc
        prev_dc = zz[0]
        cat = _category(diff)
        code, ln = dc_codes[cat]
        w.write(code, ln)
        if cat:
            mag = diff if diff >= 0 else diff + (1 << cat) - 1
            w.write(mag, cat)
        # AC: (run, size) symbols with ZRL and EOB
        run = 0
        for k in range(1, 64):
            v = zz[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]          # ZRL
                w.write(code, ln)
                run -= 16
            cat = _category(v)
            code, ln = ac_codes[(run << 4) | cat]
            w.write(code, ln)
            mag = v if v >= 0 else v + (1 << cat) - 1
            w.write(mag, cat)
            run = 0
        if run:
            code, ln = ac_codes[0x00]              # EOB
            w.write(code, ln)
    entropy = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt_zz = _QTABLE[_ZIGZAG]                       # DQT stores zigzag order
    dqt = bytes([0x00]) + bytes(int(x) for x in qt_zz)
    # SOF carries the TRUE (pre-padding) height; the decoder crops
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    dht = (bytes([0x00]) + bytes(_DC_BITS[1:]) + bytes(_DC_VALS)
           + bytes([0x10]) + bytes(_AC_BITS[1:]) + bytes(_AC_VALS))
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (b"\xFF\xD8" + seg(0xFFDB, dqt) + seg(0xFFC0, sof)
            + seg(0xFFC4, dht) + seg(0xFFDA, sos) + entropy + b"\xFF\xD9")


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range color transform, float in/out (h, w, 3)."""
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


# color adds the YCbCr round trip's conditioning on top of the
# quantization bound (empirical worst over random sweeps ~6)
MAX_ABS_ERR_COLOR = 24


def encode_jpeg_rgb(payload: bytes, width: int = 32) -> bytes:
    """Wrap raw bytes as a genuine 4:4:4 COLOR baseline JPEG: bytes
    become the RGB raster row-major (zero-padded to width x height x 3,
    height = ceil(n/(3*width)), min 1), converted to full-range YCbCr,
    each component FDCT'd/quantized per its own table (luma id 0,
    chroma id 1 — a real multi-DQT file), and entropy-coded as
    interleaved per-MCU Y/Cb/Cr blocks with independent DC predictors.
    All components share the Annex K luma Huffman pair (legal per
    T.81: SOS just points every component at tables 0)."""
    if width % 8 != 0:
        raise ValueError("width must be a multiple of 8")
    n = len(payload)
    stride = width * 3
    height = max(1, -(-n // stride))
    data = payload + b"\x00" * (stride * height - n)
    rgb = np.frombuffer(data, dtype=np.uint8).reshape(height, width, 3)
    pad_h = (-height) % 8
    if pad_h:
        rgb = np.vstack([rgb, np.zeros((pad_h, width, 3), dtype=np.uint8)])
    ycc = _rgb_to_ycbcr(rgb.astype(np.float64)) - 128.0

    bh, bw = ycc.shape[0] // 8, width // 8
    n_blocks = bh * bw
    qt_chroma = _QTABLE          # same steps; separate table id in DQT
    zz_comp = []
    for ci in range(3):
        blocks = (ycc[..., ci].reshape(bh, 8, bw, 8)
                  .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
        s_all = np.einsum("ui,bij,vj->buv", _M, blocks, _M)
        qt = _QTABLE if ci == 0 else qt_chroma
        zz_comp.append(np.round(s_all.reshape(-1, 64)
                                / qt).astype(np.int64)[:, _ZIGZAG])

    dc_codes = _huffman_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huffman_codes(_AC_BITS, _AC_VALS)
    w = _BitWriter()
    prev_dc = [0, 0, 0]
    for bi in range(n_blocks):
        for ci in range(3):
            zz = zz_comp[ci][bi].tolist()
            diff = zz[0] - prev_dc[ci]
            prev_dc[ci] = zz[0]
            cat = _category(diff)
            code, ln = dc_codes[cat]
            w.write(code, ln)
            if cat:
                mag = diff if diff >= 0 else diff + (1 << cat) - 1
                w.write(mag, cat)
            run = 0
            for k in range(1, 64):
                v = zz[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]
                    w.write(code, ln)
                    run -= 16
                cat = _category(v)
                code, ln = ac_codes[(run << 4) | cat]
                w.write(code, ln)
                mag = v if v >= 0 else v + (1 << cat) - 1
                w.write(mag, cat)
                run = 0
            if run:
                code, ln = ac_codes[0x00]
                w.write(code, ln)
    entropy = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt_zz = _QTABLE[_ZIGZAG]
    dqt = (bytes([0x00]) + bytes(int(x) for x in qt_zz)
           + bytes([0x01]) + bytes(int(x) for x in qt_chroma[_ZIGZAG]))
    sof = (struct.pack(">BHHB", 8, height, width, 3)
           + bytes([1, 0x11, 0]) + bytes([2, 0x11, 1])
           + bytes([3, 0x11, 1]))
    dht = (bytes([0x00]) + bytes(_DC_BITS[1:]) + bytes(_DC_VALS)
           + bytes([0x10]) + bytes(_AC_BITS[1:]) + bytes(_AC_VALS))
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    return (b"\xFF\xD8" + seg(0xFFDB, dqt) + seg(0xFFC0, sof)
            + seg(0xFFC4, dht) + seg(0xFFDA, sos) + entropy + b"\xFF\xD9")


def decode_jpeg(data: bytes) -> dict:
    """REAL baseline JPEG decode: marker-segment walk, DQT/DHT table
    rebuild FROM THE FILE, Huffman + byte-unstuffing entropy decode,
    dequantize, dezigzag, IDCT, level shift, clamp, crop to SOF dims.
    Grayscale (1 component) and 4:4:4 YCbCr color (3 components, all
    sampling factors 1x1, interleaved MCUs) baseline; anything else —
    progressive, subsampled chroma, 16-bit tables — raises."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    height = width = None
    comps: list[tuple[int, int]] = []   # (component id, quant table id)
    scan_tables: dict[int, tuple[int, int]] = {}  # comp id -> (Td, Ta)
    scan_order: list[int] = []
    entropy_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = (data[pos] << 8) | data[pos + 1]
        pos += 2
        if marker == 0xFFD9:
            break
        if pos + 2 > len(data):
            raise ValueError("truncated segment header")
        ln = struct.unpack(">H", data[pos:pos + 2])[0]
        if pos + ln > len(data):
            raise ValueError(
                f"truncated 0x{marker:04X} segment: declares {ln} bytes, "
                f"{len(data) - pos} remain")
        body = data[pos + 2:pos + ln]
        if marker == 0xFFDB:
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if off + 65 > len(body):
                    raise ValueError("truncated quantization table")
                zz = np.frombuffer(body[off + 1:off + 65],
                                   dtype=np.uint8).astype(np.int64)
                nat = np.zeros(64, dtype=np.int64)
                nat[_ZIGZAG] = zz                  # de-zigzag the table
                qtables[tq] = nat
                off += 65
        elif marker == 0xFFC0:
            prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp not in (1, 3):
                raise ValueError("only 8-bit 1- or 3-component baseline "
                                 f"supported (prec={prec} ncomp={ncomp})")
            for c in range(ncomp):
                cid, sampling, tq = body[6 + 3 * c:9 + 3 * c]
                if sampling != 0x11:
                    raise ValueError(
                        f"subsampled chroma unsupported (component {cid} "
                        f"sampling 0x{sampling:02X}; 4:4:4 only)")
                comps.append((cid, tq))
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xFFC4:
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = [0] + list(body[off + 1:off + 17])
                nvals = sum(bits)
                vals = list(body[off + 17:off + 17 + nvals])
                codes = _huffman_codes(bits, vals)
                # flat 16-bit-peek LUT: every index whose high bits are
                # a code maps to (value, code length) — one lookup per
                # symbol instead of a bit-by-bit tree walk
                lut_val = np.zeros(1 << 16, dtype=np.int16)
                lut_len = np.zeros(1 << 16, dtype=np.uint8)
                for val, (code, c_len) in codes.items():
                    start = code << (16 - c_len)
                    span = 1 << (16 - c_len)
                    lut_val[start:start + span] = val
                    lut_len[start:start + span] = c_len
                huff[(tc, th)] = (lut_val, lut_len)
                off += 17 + nvals
        elif marker == 0xFFDA:
            ns = body[0]
            for c in range(ns):
                cid, tdta = body[1 + 2 * c], body[2 + 2 * c]
                scan_tables[cid] = (tdta >> 4, tdta & 0x0F)
                scan_order.append(cid)
            entropy_start = pos + ln
            break
        pos += ln
    if height is None or entropy_start is None:
        raise ValueError("missing SOF0 or SOS segment")
    if [cid for cid, _ in comps] != scan_order:
        raise ValueError("SOS component order must match SOF (interleaved "
                         "single-scan baseline only)")
    comp_qt = []
    comp_luts = []
    for cid, tq in comps:
        if tq not in qtables:
            raise ValueError(f"quant table {tq} never defined")
        td, ta = scan_tables[cid]
        dc_lut, ac_lut = huff.get((0, td)), huff.get((1, ta))
        if dc_lut is None or ac_lut is None:
            raise ValueError("missing DC/AC Huffman tables")
        comp_qt.append(qtables[tq])
        comp_luts.append((dc_lut, ac_lut))

    end = data.rfind(b"\xFF\xD9")
    if end < 0:
        raise ValueError("missing EOI")
    r = _BitReader(data[entropy_start:end])

    def read_symbol(lut_val, lut_len) -> int:
        idx = r.peek16()
        ln = int(lut_len[idx])
        if ln == 0:
            raise ValueError("invalid Huffman code in entropy stream")
        r._consume(ln)
        return int(lut_val[idx])

    blocks_h = -(-height // 8)
    blocks_w = -(-width // 8)
    n_blocks = blocks_h * blocks_w
    ncomp = len(comps)
    zz_all = np.zeros((ncomp, n_blocks, 64), dtype=np.int64)
    prev_dc = [0] * ncomp
    # 4:4:4 interleave: each MCU is one 8x8 block PER COMPONENT, in
    # scan order, with independent DC predictors
    for bi in range(n_blocks):
        for ci in range(ncomp):
            (dc_val, dc_len), (ac_val, ac_len) = \
                comp_luts[ci][0], comp_luts[ci][1]
            zz = zz_all[ci, bi]
            cat = read_symbol(dc_val, dc_len)
            prev_dc[ci] += _extend(r.bits(cat), cat)
            zz[0] = prev_dc[ci]
            k = 1
            while k < 64:
                sym = read_symbol(ac_val, ac_len)
                if sym == 0x00:                    # EOB
                    break
                run, cat = sym >> 4, sym & 0x0F
                if cat == 0:
                    if run != 15:
                        raise ValueError("invalid AC symbol")
                    k += 16                        # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("AC run overruns block")
                zz[k] = _extend(r.bits(cat), cat)
                k += 1
    # dequantize + IDCT for ALL blocks of all components in one einsum
    planes = []
    for ci in range(ncomp):
        nat = np.zeros((n_blocks, 64), dtype=np.int64)
        nat[:, _ZIGZAG] = zz_all[ci]
        s_all = (nat * comp_qt[ci]).reshape(n_blocks, 8, 8) \
            .astype(np.float64)
        blocks = np.einsum("ui,buv,vj->bij", _M, s_all, _M) + 128.0
        planes.append(blocks.reshape(blocks_h, blocks_w, 8, 8)
                      .transpose(0, 2, 1, 3)
                      .reshape(blocks_h * 8, blocks_w * 8))
    if ncomp == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return {"width": int(width), "height": int(height), "channels": 1,
                "pixels": out[:height, :width]}
    rgb = _ycbcr_to_rgb(np.stack(planes, axis=-1))
    out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return {"width": int(width), "height": int(height), "channels": 3,
            "pixels": out[:height, :width, :]}
