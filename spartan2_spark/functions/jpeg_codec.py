"""Minimal pure-numpy baseline-JPEG codec — the second real-decode
path for the multimodal operators (r4 verdict item 6), built the same
way as :mod:`png_codec`: stdlib + numpy only, deterministic, no native
codec libraries.

Decoder: any BASELINE sequential JFIF/Adobe-style stream (SOI, APPn/
COM skipped, multi-table DQT (8/16-bit), SOF0/SOF1, multi-table DHT,
DRI restart intervals, SOS with byte-stuffing and RSTn handling),
grayscale or YCbCr with any integer sampling factors (4:4:4, 4:2:2,
4:2:0 covered by the generic plane/upsample path). Huffman is decoded
canonically per spec §C; coefficients dezigzagged, dequantized, and
inverse-transformed with an orthonormal float64 DCT-III matrix;
YCbCr -> RGB by the JFIF BT.601 equations with clamping. Progressive
(SOF2) and arithmetic-coded streams raise a clear ``ValueError`` —
they are out of the baseline contract, not silently wrong.

Encoder: the fixture half (like ``encode_png_gray``) — grayscale or
4:4:4 RGB, libjpeg quality scaling of the Annex K quantization
tables, the Annex K.3 standard Huffman tables, optional restart
intervals. Used by the tests to build deterministic fixtures the
decoder must invert to within quantization error; the decoder is also
exercised against real libjpeg-encoded files when present on the host
(different table layouts, subsampled chroma).

Per-pixel Python appears only in the Huffman bit loop of an Arrow
batch's images; thumbnail-class media costs microseconds per image. A
real cluster deployment swaps a SIMD codec through the same
``decoder=`` seam (``operators/multimodal.py``).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "encode_jpeg",
    "decode_jpeg",
    "jpeg_image_decoder",
    "jpeg_feature_decoder",
]

# Annex K.1/K.2 base quantization tables (natural row-major order)
_Q_LUM = np.array(
    [16, 11, 10, 16, 24, 40, 51, 61,
     12, 12, 14, 19, 26, 58, 60, 55,
     14, 13, 16, 24, 40, 57, 69, 56,
     14, 17, 22, 29, 51, 87, 80, 62,
     18, 22, 37, 56, 68, 109, 103, 77,
     24, 35, 55, 64, 81, 104, 113, 92,
     49, 64, 78, 87, 103, 121, 120, 101,
     72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
_Q_CHR = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99,
     99, 99, 99, 99, 99, 99, 99, 99,
     99, 99, 99, 99, 99, 99, 99, 99,
     99, 99, 99, 99, 99, 99, 99, 99,
     99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# zigzag scan order: _ZIG[i] = natural index of the i-th zigzag coeff
_ZIG = np.array(
    [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
     12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
     35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
     58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# Annex K.3 standard Huffman tables: (BITS[1..16], HUFFVAL)
_H_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
             list(range(12)))
_H_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
_H_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_H_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix A: coeffs = A @ block @ A.T."""
    k = np.arange(8)
    a = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16.0) * 0.5
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a


_A = _dct_matrix()


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_Q_LUM, _Q_CHR):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


# ------------------------------------------------------------------ encode

def _canonical_codes(bits, vals):
    """(value -> (code, length)) per spec §C.2 canonical assignment."""
    codes, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-pad per spec


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(bw, block, qt, dc_codes, ac_codes, pred):
    coef = _A @ (block.astype(np.float64) - 128.0) @ _A.T
    q = np.round(coef / qt.reshape(8, 8)).astype(np.int64)
    zz = q.ravel()[_ZIG]
    diff = int(zz[0]) - pred
    t = _category(diff)
    code, ln = dc_codes[t]
    bw.put(code, ln)
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        v = int(zz[i])
        if v == 0:
            if i > last_nz:
                code, ln = ac_codes[0x00]  # EOB
                bw.put(code, ln)
                break
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        t = _category(v)
        code, ln = ac_codes[(run << 4) | t]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << t) - 1, t)
        run = 0
    return int(zz[0])


def _dht_segment(tclass, tid, bits, vals) -> bytes:
    payload = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def encode_jpeg(
    arr: np.ndarray, quality: int = 85, restart_interval: int = 0
) -> bytes:
    """Baseline JPEG bytes from an (h, w) grayscale or (h, w, 3) RGB
    uint8 array — 4:4:4 (no chroma subsampling), Annex K tables."""
    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError("expected (h, w) gray or (h, w, 3) RGB uint8")
    h, w = a.shape[:2]
    qlum, qchr = _quality_tables(quality)
    if gray:
        planes = [a.astype(np.float64)]
    else:
        r, g, b = (a[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
        planes = [y, cb, cr]
    out = bytearray(b"\xff\xd8")  # SOI
    for tid, qt in ([(0, qlum)] if gray else [(0, qlum), (1, qchr)]):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid])
        out += bytes(int(x) for x in qt[_ZIG])
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, *_H_DC_LUM)
    out += _dht_segment(1, 0, *_H_AC_LUM)
    if not gray:
        out += _dht_segment(0, 1, *_H_DC_CHR)
        out += _dht_segment(1, 1, *_H_AC_CHR)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_lum = _canonical_codes(*_H_DC_LUM)
    ac_lum = _canonical_codes(*_H_AC_LUM)
    dc_chr = _canonical_codes(*_H_DC_CHR)
    ac_chr = _canonical_codes(*_H_AC_CHR)
    hpad, wpad = -h % 8, -w % 8
    padded = [np.pad(p, ((0, hpad), (0, wpad)), mode="edge") for p in planes]
    bw = _BitWriter()
    preds = [0] * ncomp
    mcu = 0
    rst = 0
    for by in range(0, h + hpad, 8):
        for bx in range(0, w + wpad, 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * ncomp
            for c in range(ncomp):
                qt = qlum if c == 0 else qchr
                dc = dc_lum if c == 0 else dc_chr
                ac = ac_lum if c == 0 else ac_chr
                preds[c] = _encode_block(
                    bw, padded[c][by:by + 8, bx:bx + 8], qt, dc, ac, preds[c]
                )
            mcu += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------------------------ decode

class _BitReader:
    """Entropy-coded-segment bit reader with 0xFF00 unstuffing; stops
    cleanly at any non-RST marker (leaves it for the segment parser)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise EOFError("marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        self.nbits = 0
        self.acc = 0

    def skip_restart(self) -> None:
        # reader sits just before FF Dn
        assert self.buf[self.pos] == 0xFF
        self.pos += 2
        self.align()


class _RestartMarker(Exception):
    def __init__(self, marker):
        self.marker = marker


def _build_huff(bits, vals):
    """(length, code) -> value dict, canonical per §C.2."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table) -> int:
    code, length = 0, 0
    while True:
        code = (code << 1) | br.bit()
        length += 1
        if (length, code) in table:
            return table[(length, code)]
        if length > 16:
            raise ValueError("invalid Huffman code in scan")


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> uint8 array, (h, w) for grayscale streams
    or (h, w, 3) RGB otherwise."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    while pos < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
            pos += 1  # fill bytes may precede any marker (B.1.1.2)
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        seglen = struct.unpack(">H", buf[pos:pos + 2])[0]
        seg = buf[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (possibly multiple tables)
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if prec:
                    vals = np.frombuffer(
                        seg[i:i + 128], dtype=">u2"
                    ).astype(np.int64)
                    i += 128
                else:
                    vals = np.frombuffer(
                        seg[i:i + 64], dtype=np.uint8
                    ).astype(np.int64)
                    i += 64
                nat = np.empty(64, dtype=np.int64)
                nat[_ZIG] = vals
                qts[tid] = nat
        elif marker == 0xC4:  # DHT (possibly multiple tables)
            i = 0
            while i < len(seg):
                tclass, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1:i + 17])
                n = sum(bits)
                vals = list(seg[i + 17:i + 17 + n])
                huff[(tclass, tid)] = _build_huff(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline sequential
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported SOF marker 0xFF{marker:02X}: only baseline "
                "sequential (SOF0/SOF1) is in the codec contract"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS -> entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append({**comp, "dc": tables >> 4, "ac": tables & 0x0F})
            pixels, pos = _decode_scan(
                buf, pos, frame, scan, qts, huff, restart_interval
            )
            return pixels
    raise ValueError("no SOS scan found")


def _decode_scan(buf, pos, frame, scan, qts, huff, restart_interval):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    for c in scan:
        if hmax % c["h"] or vmax % c["v"]:
            raise ValueError(
                f"unsupported sampling {c['h']}x{c['v']} under max "
                f"{hmax}x{vmax}: upsampling needs integer factors"
            )
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64)
        for c in scan
    ]
    br = _BitReader(buf, pos)
    preds = [0] * len(scan)
    mcu = 0
    total = mcux * mcuy
    while mcu < total:
        try:
            my, mx = divmod(mcu, mcux)
            for ci, c in enumerate(scan):
                dct = huff[(0, c["dc"])]
                act = huff[(1, c["ac"])]
                qt = qts[c["tq"]].reshape(8, 8)
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        t = _huff_decode(br, dct)
                        if t:
                            preds[ci] += _extend(br.bits(t), t)
                        zz[0] = preds[ci]
                        i = 1
                        while i < 64:
                            rs = _huff_decode(br, act)
                            r, t = rs >> 4, rs & 0x0F
                            if t == 0:
                                if r == 15:
                                    i += 16  # ZRL
                                    continue
                                break  # EOB
                            i += r
                            if i > 63:
                                raise ValueError("AC index out of range")
                            zz[i] = _extend(br.bits(t), t)
                            i += 1
                        blk = np.empty(64, dtype=np.float64)
                        blk[_ZIG] = zz * qt.ravel()[_ZIG]
                        px = _A.T @ blk.reshape(8, 8) @ _A + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = px
            mcu += 1
            if (
                restart_interval
                and mcu % restart_interval == 0
                and mcu < total
            ):
                br.align()
                # skip any fill FFs then the RST marker
                while br.buf[br.pos] == 0xFF and 0xD0 <= br.buf[br.pos + 1] <= 0xD7:
                    br.pos += 2
                    break
                preds = [0] * len(scan)
        except _RestartMarker:
            br.skip_restart()
            preds = [0] * len(scan)
            # resume at the next MCU boundary (mcu already correct: the
            # marker fires while starting the next interval's first MCU)
            continue
    out_planes = []
    for ci, c in enumerate(scan):
        ph = -(-h * c["v"] // vmax)
        pw = -(-w * c["h"] // hmax)
        p = planes[ci][:ph, :pw]
        if c["v"] != vmax or c["h"] != hmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], 0), hmax // c["h"], 1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        px = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return px, br.pos
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8), br.pos


# ------------------------------------------------- multimodal seam adapters

def jpeg_image_decoder(buf: bytes, src_hw: tuple[int, int]) -> np.ndarray:
    """``resize_media`` decoder seam: JPEG bytes -> (h, w) float grid in
    [0, 1] (RGB collapses to the mean channel)."""
    img = decode_jpeg(buf)
    if img.ndim == 3:
        img = img.mean(axis=2)
    if img.shape != tuple(src_hw):
        raise ValueError(f"decoded {img.shape}, expected {tuple(src_hw)}")
    return img / 255.0


def jpeg_feature_decoder(buf: bytes, n_features: int) -> np.ndarray:
    """``extract_features`` decoder seam: JPEG bytes -> n strided means
    of the decoded pixel stream."""
    px = decode_jpeg(buf).ravel().astype(np.float64)
    pad = (-len(px)) % n_features
    px = np.pad(px, (0, pad)).reshape(n_features, -1)
    return px.mean(axis=1) / 255.0
