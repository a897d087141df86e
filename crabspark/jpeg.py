"""Baseline JPEG (ITU-T T.81 / JFIF) codec, from scratch — stdlib + numpy.

The last image format whose PIXELS were faked in crabspark.multimodal
(dimensions were already real via the SOF marker walk). This implements
the baseline sequential process from the public spec: encoder (RGB ->
YCbCr -> 8x8 DCT -> Annex-K quantization at a quality factor -> zigzag ->
Annex-K Huffman entropy coding, 4:4:4) and decoder (marker walk for
DQT/DHT/SOF0/SOS/DRI, bit-unstuffed Huffman decode with restart-marker
DC resets, dequantize + dezigzag, vectorized IDCT over all blocks at
once, chroma upsampling for 4:2:0/4:2:2/4:4:4, YCbCr -> RGB).

Scope and honesty notes:
- decode: baseline (SOF0) 8-bit only; progressive (SOF2), arithmetic
  coding, and 12-bit return None (the never-raise contract every codec
  in this repo follows). Huffman bit-reading is a per-symbol Python
  loop — inherently sequential like GIF's LZW, documented fixture-scale;
  everything after entropy decode (dequant, IDCT, upsample, color) is
  vectorized numpy over all blocks at once.
- encode: 4:4:4 by default, 4:2:0 with ``subsample=True`` (box-filtered
  chroma); the decoder handles either, from this encoder or others'.
- The quantization/Huffman tables are the example tables from the spec's
  Annex K — the same public defaults libjpeg ships.

Reference parity: the reference crawler stores fetched images as opaque
BLOBs (src/sqlite.rs:33-39) and never decodes them; this codec exists
for the multimodal operator family (decode -> features/resize) beyond
reference scope.
"""

from __future__ import annotations

import struct

import numpy as np

# --- Annex K tables (public spec defaults) ---------------------------------

_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# zigzag order: _ZIGZAG[i] = block index (row-major) of the i-th coefficient
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K Huffman tables: (BITS counts per code length 1..16, HUFFVAL)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# DCT-II basis matrix: C[u, x] = a(u) cos((2x+1) u pi / 16). Forward block
# DCT = C @ B @ C.T, inverse = C.T @ X @ C — both vectorize across all
# blocks with one einsum.
_CC = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _CC[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality->scaling rule (50 = tables as-is)."""
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = (qt * s + 50) // 100
    return np.clip(out, 1, 255).astype(np.int32)


# --- Huffman ----------------------------------------------------------------

def _build_encode_table(bits, vals) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the spec's canonical code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode_table(bits, vals) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.put(0x7F, 8 - self.n)  # pad with 1s per spec


class _BitReader:
    """Reads the entropy-coded segment with 0xFF00 unstuffing; signals a
    restart marker by raising _Restart (caller realigns)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill_one(self) -> None:
        """Pull exactly ONE byte — on demand, never eagerly: prefetching
        would trip the restart/EOI marker while the current interval's
        final bits are still buffered."""
        d = self.data
        if self.pos >= len(d):
            raise EOFError
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn
                raise _Restart
            else:  # EOI or next segment: no more entropy data
                raise EOFError
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        while self.n < k:
            self._fill_one()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        self.acc &= (1 << self.n) - 1
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")

    def skip_restart(self) -> None:
        """Consume the RSTn marker and reset bit state."""
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                self.acc = 0
                self.n = 0
                return
            self.pos += 1
        raise EOFError


class _Restart(Exception):
    pass


def _cat(v: int) -> int:
    """Coefficient magnitude category (bit length of |v|)."""
    return int(abs(v)).bit_length()


# --- encoder ----------------------------------------------------------------

def encode_jpeg(
    pixels: np.ndarray, quality: int = 85, subsample: bool = False
) -> bytes:
    """Baseline JFIF from an HxWx3 uint8 RGB array (Annex-K tables scaled
    by ``quality``). ``subsample=True`` writes 4:2:0 (2x2 luma sampling,
    box-filtered chroma — the web's dominant layout, and the decoder's
    MCU-interleave/upsample path); default is 4:4:4. Deterministic.
    Raises ValueError for a side outside 1..65535 (SOF0 stores u16)."""
    h, w, _ = pixels.shape
    if not (1 <= h <= 0xFFFF and 1 <= w <= 0xFFFF):
        raise ValueError(f"encode_jpeg: {h}x{w} outside 1..65535 per side")
    qy = _quality_scale(_QT_LUMA, quality)
    qc = _quality_scale(_QT_CHROMA, quality)
    hl, vl = (2, 2) if subsample else (1, 1)

    rgb = pixels.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    ycc = np.stack(
        [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ],
        axis=-1,
    )

    mcux = -(-w // (8 * hl))
    mcuy = -(-h // (8 * vl))
    pad = np.pad(
        ycc,
        ((0, mcuy * vl * 8 - h), (0, mcux * hl * 8 - w), (0, 0)),
        mode="edge",
    )

    def to_blocks(plane: np.ndarray) -> np.ndarray:
        gy, gx = plane.shape[0] // 8, plane.shape[1] // 8
        return (
            plane.reshape(gy, 8, gx, 8).transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        ), gy, gx

    def quantize(plane: np.ndarray, qt: np.ndarray):
        blocks, gy, gx = to_blocks(plane - 128.0)
        dct = np.einsum("ux,nxy,vy->nuv", _CC, blocks, _CC)
        q = np.round(dct / qt.reshape(8, 8)).astype(np.int64)
        return q.reshape(-1, 64)[:, _ZIGZAG].reshape(gy, gx, 64)

    y_g = quantize(pad[..., 0], qy)  # (mcuy*vl, mcux*hl, 64)
    if subsample:
        cpl = pad.reshape(mcuy * vl * 4, 2, mcux * hl * 4, 2, 3).mean(
            axis=(1, 3)
        )
        cb_g = quantize(cpl[..., 1], qc)  # (mcuy, mcux, 64)
        cr_g = quantize(cpl[..., 2], qc)
    else:
        cb_g = quantize(pad[..., 1], qc)
        cr_g = quantize(pad[..., 2], qc)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    for tid, qt in ((0, qy), (1, qc)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) \
            + bytes(int(qt[z]) for z in _ZIGZAG)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, hv, qtid in ((1, (hl << 4) | vl, 0), (2, 0x11, 1), (3, 0x11, 1)):
        out += struct.pack("BBB", cid, hv, qtid)
    for cls, tid, (bits, vals) in (
        (0, 0, _DC_LUMA), (1, 0, _AC_LUMA),
        (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals),
                                         (cls << 4) | tid)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tids in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack("BB", cid, tids)
    out += b"\x00\x3f\x00"

    enc_dc = [_build_encode_table(*_DC_LUMA), _build_encode_table(*_DC_CHROMA)]
    enc_ac = [_build_encode_table(*_AC_LUMA), _build_encode_table(*_AC_CHROMA)]
    wbits = _BitWriter()
    prev_dc = [0, 0, 0]

    def emit(zz: np.ndarray, ci: int) -> None:
        t = 0 if ci == 0 else 1
        diff = int(zz[0]) - prev_dc[ci]
        prev_dc[ci] = int(zz[0])
        cat = _cat(diff)
        code, ln = enc_dc[t][cat]
        wbits.put(code, ln)
        if cat:
            v = diff if diff >= 0 else diff + (1 << cat) - 1
            wbits.put(v, cat)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last_nz = (nz[-1] + 1) if len(nz) else 0
        for i in range(1, last_nz + 1):
            v = int(zz[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = enc_ac[t][0xF0]  # ZRL
                wbits.put(code, ln)
                run -= 16
            cat = _cat(v)
            code, ln = enc_ac[t][(run << 4) | cat]
            wbits.put(code, ln)
            vv = v if v >= 0 else v + (1 << cat) - 1
            wbits.put(vv, cat)
            run = 0
        if last_nz < 63:
            code, ln = enc_ac[t][0x00]  # EOB
            wbits.put(code, ln)

    for my in range(mcuy):
        for mx in range(mcux):
            for vy in range(vl):
                for vx in range(hl):
                    emit(y_g[my * vl + vy, mx * hl + vx], 0)
            emit(cb_g[my, mx], 1)
            emit(cr_g[my, mx], 2)
    wbits.flush()
    out += wbits.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder ----------------------------------------------------------------

def decode_jpeg(b: bytes) -> np.ndarray | None:
    """HxWx3 uint8 RGB for baseline (SOF0) 8-bit JPEGs, grayscale
    broadcast to 3 channels; None for progressive/arithmetic/12-bit or
    malformed input (never raises)."""
    b = bytes(b or b"")
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    try:
        return _decode(b)
    except Exception:
        return None


def _decode(b: bytes) -> np.ndarray | None:
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None  # (h, w, comps) comps: list of (cid, hs, vs, qtid)
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            pos += 2
            continue
        ln = int.from_bytes(b[pos + 2:pos + 4], "big")
        seg = b[pos + 4:pos + 2 + ln]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq == 0:
                    vals = np.frombuffer(seg, np.uint8, 64, p).astype(np.int32)
                    p += 64
                else:  # 16-bit table
                    vals = np.frombuffer(seg, ">u2", 64, p).astype(np.int32)
                    p += 128
                qt = np.zeros(64, np.int32)
                qt[_ZIGZAG] = vals
                qts[tq] = qt
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1:p + 17])
                n = sum(bits)
                vals = list(seg[p + 17:p + 17 + n])
                tab = _build_decode_table(bits, vals)
                (dc_tabs if tc == 0 else ac_tabs)[th] = tab
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec = seg[0]
            if prec != 8:
                return None
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            comps = []
            for i in range(nc):
                cid = seg[6 + 3 * i]
                hv = seg[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, seg[8 + 3 * i]))
            frame = (h, w, comps)
        elif 0xC2 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # progressive / arithmetic / hierarchical
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                return None
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs = seg[1 + 2 * i]
                tt = seg[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 0xF))
            # only the first scan is decoded: a scan that leaves out frame
            # components (non-interleaved or multi-scan baseline) would
            # come back with wrong pixels
            if {s[0] for s in scan} != {c[0] for c in frame[2]}:
                return None
            data_pos = pos + 2 + ln
            return _decode_scan(
                b, data_pos, frame, scan, qts, dc_tabs, ac_tabs,
                restart_interval,
            )
        pos += 2 + ln
    return None


def _decode_scan(b, pos, frame, scan, qts, dc_tabs, ac_tabs, dri):
    h, w, comps = frame
    if h == 0 or w == 0 or not comps:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    order = []
    for cs, td, ta in scan:
        cid, hs, vs, qtid = by_id[cs]
        order.append((cid, hs, vs, qtid, td, ta))

    # per-component coefficient storage (mcu grid of hs x vs blocks)
    coefs = {
        cid: np.zeros((mcuy * vs, mcux * hs, 64), np.int32)
        for cid, hs, vs, _q, _td, _ta in order
    }
    rd = _BitReader(b, pos)
    prev_dc = {cid: 0 for cid, *_ in order}
    n_mcu = mcux * mcuy
    mcu = 0
    while mcu < n_mcu:
        try:
            my, mx = divmod(mcu, mcux)
            for cid, hs, vs, _qtid, td, ta in order:
                dct = dc_tabs[td]
                act = ac_tabs[ta]
                for vy in range(vs):
                    for vx in range(hs):
                        zz = np.zeros(64, np.int32)
                        cat = rd.huff(dct)
                        if cat:
                            v = rd.bits(cat)
                            if v < (1 << (cat - 1)):
                                v -= (1 << cat) - 1
                        else:
                            v = 0
                        prev_dc[cid] += v
                        zz[0] = prev_dc[cid]
                        i = 1
                        while i < 64:
                            sym = rd.huff(act)
                            if sym == 0x00:
                                break
                            if sym == 0xF0:
                                i += 16
                                continue
                            run, cat = sym >> 4, sym & 0xF
                            i += run
                            if i > 63 or cat == 0:
                                raise ValueError("bad AC symbol")
                            v = rd.bits(cat)
                            if v < (1 << (cat - 1)):
                                v -= (1 << cat) - 1
                            zz[i] = v
                            i += 1
                        coefs[cid][my * vs + vy, mx * hs + vx] = zz
            mcu += 1
            if dri and mcu % dri == 0 and mcu < n_mcu:
                rd.skip_restart()
                for cid in prev_dc:
                    prev_dc[cid] = 0
        except _Restart:
            # restart marker hit mid-MCU stream (defensive): realign
            rd.skip_restart()
            for cid in prev_dc:
                prev_dc[cid] = 0
        except EOFError:
            break  # truncated: decode what we have

    # dequant + IDCT, vectorized per component
    planes = {}
    for cid, hs, vs, qtid, _td, _ta in order:
        qt = qts.get(qtid)
        if qt is None:
            return None
        grid = coefs[cid]
        gy, gx, _ = grid.shape
        blocks = np.zeros((gy * gx, 64), np.float64)
        blocks[:, _ZIGZAG] = grid.reshape(-1, 64) * qt[_ZIGZAG]
        sq = blocks.reshape(-1, 8, 8)
        idct = np.einsum("ux,nuv,vy->nxy", _CC, sq, _CC)
        plane = (
            idct.reshape(gy, gx, 8, 8).transpose(0, 2, 1, 3)
            .reshape(gy * 8, gx * 8)
        )
        # upsample to full MCU-grid resolution
        if hs != hmax or vs != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1
            )
        planes[cid] = plane[: mcuy * vmax * 8, : mcux * hmax * 8]

    ids = [c[0] for c in order]
    if len(ids) == 1:
        y = planes[ids[0]] + 128.0
        rgb = np.repeat(
            np.clip(y, 0, 255)[:h, :w, None], 3, axis=2
        )
        return rgb.astype(np.uint8)
    y = planes[ids[0]] + 128.0
    cb = planes[ids[1]]
    cr = planes[ids[2]]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    rgb = np.stack([r, g, bl], axis=-1)
    return np.clip(rgb, 0, 255)[:h, :w].astype(np.uint8)
