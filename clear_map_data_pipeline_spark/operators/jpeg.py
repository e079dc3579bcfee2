"""Baseline JPEG codec — no codec libraries, stdlib + numpy only.

Closes the ``decode_real`` seam for the dominant training-image format
(``operators/multimodal.py`` dispatches here on the FFD8FF magic): a
sequential-baseline decoder (ITU T.81: marker parse, Huffman entropy
decode with byte-unstuffing and restart markers, dequantize + dezigzag,
orthonormal 8x8 IDCT, chroma upsampling, YCbCr->RGB) plus the
round-trip companion encoder (FDCT + Annex-K tables scaled by quality,
4:4:4 / 4:2:0 / grayscale) in the same spirit as
``multimodal.encode_png``/``decode_png``.

Scope: baseline and extended-sequential Huffman JPEGs (SOF0/SOF1)
with 8-bit samples, restart markers included.  Every other T.81
process — progressive (SOF2), lossless (SOF3), arithmetic (SOF9/10)
and hierarchical (DHP, SOF5-7/11/13-15) — raises
``NotImplementedError``, so those payloads take the documented stub
fallback in ``image_features`` and ``video_frame_features``.

Reference parity note: the reference pipeline (il_analysis_git.py) has
no media operators — this module is beyond-reference extension surface
for multimodal training-data columns.
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_MAGIC = b"\xff\xd8\xff"

# zigzag position -> natural (row-major) index, T.81 figure A.6
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.1/K.2 example quantization tables (natural order)
QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis M[u, x] = a(u) cos((2x+1)uπ/16);
    forward DCT is M f Mᵀ, inverse is Mᵀ F M — exactly T.81's A.3.3
    normalization (a(0) = 1/(2√2) pairs to the 1/4·C(u)C(v) factor)."""
    m = np.zeros((8, 8))
    for u in range(8):
        a = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            m[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


_DCT = _dct_matrix()


def _build_huffman(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman table: {(length, code): value}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment: unstuffs
    FF00, surfaces RSTn as realign events, stops at any other marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        d = self.data
        while self.nbits < 25:
            if self.pos >= len(d):
                return self.nbits > 0
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: consumed by align_to_restart
                    return self.nbits > 0
                else:
                    self.marker = nxt
                    return self.nbits > 0
            else:
                self.pos += 1
            self.bits = (self.bits << 8) | b
            self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise ValueError("truncated JPEG entropy stream")
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huffman(self, table: dict) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid Huffman code in JPEG stream")

    def align_to_restart(self) -> None:
        """Drop partial bits, consume the RSTn marker."""
        self.bits = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("missing JPEG restart marker")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline/extended-sequential Huffman JPEG.

    Returns (width, height, channels, pixels) with pixels row-major
    (grayscale: 1 byte/px; color: interleaved RGB) — the same shape
    contract as ``multimodal.decode_png``.  Every other T.81 process
    (progressive, lossless, arithmetic, hierarchical) raises
    ``NotImplementedError``, which the Spark operators turn into the
    stub fallback."""
    if data[:3] != JPEG_MAGIC:
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker code — skip them so a conforming padded file parses
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        m = data[pos + 1]
        if m == 0xD8 or m == 0x01 or 0xD0 <= m <= 0xD7:
            # SOI / TEM / RSTn carry no length field
            pos += 2
            continue
        if m == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG header")
        seglen = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        seg = data[pos + 4 : pos + 2 + seglen]
        if m in (0xC0, 0xC1):  # SOF0/1
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit JPEG samples supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                hf, vf = hv >> 4, hv & 0xF
                if not (1 <= hf <= 4 and 1 <= vf <= 4):
                    # T.81 B.2.2 legal range; 0 would divide-by-zero in
                    # the MCU geometry
                    raise ValueError("invalid JPEG sampling factor")
                comps.append((cid, hf, vf, tq))
            if w == 0 or h == 0:
                raise ValueError("invalid JPEG frame dimensions")
            frame = (w, h, comps)
        elif m in (
            0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE,
            0xCF, 0xDE,
        ):  # SOF2/3/5-7/9-11/13-15, DHP
            raise NotImplementedError(
                "non-baseline JPEG mode not supported — stub fallback"
            )
        elif m == 0xC4:  # DHT, possibly several tables
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                huff[(tc, th)] = _build_huffman(bits, vals)
                p += 17 + n
        elif m == 0xDB:  # DQT, possibly several tables
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq == 0:
                    vals = list(seg[p + 1 : p + 65])
                    p += 65
                else:
                    vals = [
                        struct.unpack(
                            ">H", seg[p + 1 + 2 * i : p + 3 + 2 * i]
                        )[0]
                        for i in range(64)
                    ]
                    p += 129
                nat = np.zeros(64)
                for zz, v in enumerate(vals):
                    nat[ZIGZAG[zz]] = v
                qt[tq] = nat.reshape(8, 8)
        elif m == 0xDD:  # DRI
            restart = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = {}
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                scan[cs] = (tdta >> 4, tdta & 0xF)
            return _decode_scan(
                data, pos + 2 + seglen, frame, scan, qt, huff, restart
            )
        pos += 2 + seglen
    raise ValueError("no JPEG scan found")


def _decode_scan(data, pos, frame, scan, qt, huff, restart):
    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = {
        cid: np.zeros((mcuy * cv * 8, mcux * ch * 8))
        for cid, ch, cv, _tq in comps
    }
    rd = _BitReader(data, pos)
    pred = {cid: 0 for cid, *_ in comps}
    n_mcu = mcux * mcuy
    for idx in range(n_mcu):
        if restart and idx and idx % restart == 0:
            rd.align_to_restart()
            pred = {cid: 0 for cid, *_ in comps}
        my, mx = divmod(idx, mcux)
        for cid, ch, cv, tq in comps:
            dc_tab = huff[(0, scan[cid][0])]
            ac_tab = huff[(1, scan[cid][1])]
            q = qt[tq]
            for by in range(cv):
                for bx in range(ch):
                    coeff = np.zeros(64)
                    t = rd.decode_huffman(dc_tab)
                    diff = _extend(rd.read_bits(t), t)
                    pred[cid] += diff
                    coeff[0] = pred[cid]
                    k = 1
                    while k < 64:
                        rs = rd.decode_huffman(ac_tab)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC index overflow")
                        coeff[ZIGZAG[k]] = _extend(rd.read_bits(s), s)
                        k += 1
                    block = (
                        _DCT.T @ (coeff.reshape(8, 8) * q) @ _DCT
                    ) + 128.0
                    y0 = (my * cv + by) * 8
                    x0 = (mx * ch + bx) * 8
                    planes[cid][y0 : y0 + 8, x0 : x0 + 8] = block
    return _planes_to_pixels(w, h, comps, planes, hmax, vmax)


def _planes_to_pixels(w, h, comps, planes, hmax, vmax):
    """Upsample each component plane to full resolution, crop to the
    frame dimensions, and color-convert."""
    full = []
    for cid, ch, cv, _tq in comps:
        p = planes[cid]
        if ch != hmax or cv != vmax:
            if hmax % ch or vmax % cv:
                raise ValueError("non-integral JPEG sampling ratio")
            p = p.repeat(vmax // cv, axis=0).repeat(hmax // ch, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return w, h, 1, out.tobytes()
    if len(full) != 3:
        raise ValueError(f"unsupported JPEG component count {len(full)}")
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return w, h, 3, out.tobytes()


class _BitWriter:
    """MSB-first bit writer with FF byte-stuffing and 1-fill flush."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.bits = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.bits = (self.bits << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.bits >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg-style quality scaling of the Annex-K tables."""
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QUANT_LUMA, QUANT_CHROMA):
        t = [(max(1, min(255, (v * scale + 50) // 100))) for v in base]
        out.append(np.array(t, dtype=float).reshape(8, 8))
    return out[0], out[1]


def _encode_tables() -> dict:
    tabs = {}
    for key, (bits, vals) in {
        (0, 0): (DC_LUMA_BITS, DC_LUMA_VALS),
        (0, 1): (DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 0): (AC_LUMA_BITS, AC_LUMA_VALS),
        (1, 1): (AC_CHROMA_BITS, AC_CHROMA_VALS),
    }.items():
        dec = _build_huffman(bits, vals)
        tabs[key] = {v: (length, code) for (length, code), v in dec.items()}
    return tabs


def _encode_block(
    bw: _BitWriter, block: np.ndarray, q: np.ndarray, dc_tab, ac_tab, pred: int
) -> int:
    coeff = np.round((_DCT @ (block - 128.0) @ _DCT.T) / q).astype(int)
    zz = [int(coeff.flat[ZIGZAG[i]]) for i in range(64)]
    diff = zz[0] - pred

    def magnitude(v: int) -> tuple[int, int]:
        t = int(v).bit_length() if v > 0 else int(-v).bit_length()
        code = v if v >= 0 else v + (1 << t) - 1
        return t, code

    t, code = magnitude(diff)
    ln, c = dc_tab[t]
    bw.write(c, ln)
    if t:
        bw.write(code, t)
    run = 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            ln, c = ac_tab[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        t, code = magnitude(zz[k])
        ln, c = ac_tab[(run << 4) | t]
        bw.write(c, ln)
        bw.write(code, t)
        run = 0
    if run:
        ln, c = ac_tab[0x00]  # EOB
        bw.write(c, ln)
    return zz[0]


def _prepare_components(w, h, ch, pixels, quality, subsampling):
    """Color transform, chroma subsampling, and MCU-aligned edge
    padding for ``encode_jpeg``.
    Returns (padded comps [(cid, h_fac, v_fac, tq, plane)], ql, qc,
    mcux, mcuy)."""
    if len(pixels) != w * h * ch:
        raise ValueError("pixel buffer does not match dimensions")
    if ch not in (1, 3):
        raise ValueError("encode_jpeg supports 1 or 3 channels")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    ql, qc = _quality_tables(quality)
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch).astype(float)
    if ch == 1:
        comps = [(1, 1, 1, 0, img[:, :, 0])]
    else:
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "420":
            # pad to even dims by edge replication, then 2x2 mean
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            cb = (
                cbp[0::2, 0::2] + cbp[1::2, 0::2]
                + cbp[0::2, 1::2] + cbp[1::2, 1::2]
            ) / 4.0
            cr = (
                crp[0::2, 0::2] + crp[1::2, 0::2]
                + crp[0::2, 1::2] + crp[1::2, 1::2]
            ) / 4.0
            comps = [(1, 2, 2, 0, y), (2, 1, 1, 1, cb), (3, 1, 1, 1, cr)]
        else:
            comps = [(1, 1, 1, 0, y), (2, 1, 1, 1, cb), (3, 1, 1, 1, cr)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # pad every plane (edge replication) to its MCU-aligned size
    padded = []
    for cid, chf, cvf, tq, plane in comps:
        ph, pw = mcuy * cvf * 8, mcux * chf * 8
        plane = np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )
        padded.append((cid, chf, cvf, tq, plane))
    return padded, ql, qc, mcux, mcuy


def encode_jpeg(
    w: int,
    h: int,
    ch: int,
    pixels: bytes,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JPEG encoder — round-trip companion of ``decode_jpeg``
    (grayscale or RGB; ``subsampling`` '444' or '420' for color;
    ``restart_interval`` emits DRI + RSTn markers every N MCUs, the
    corruption-resilience feature real corpora use — and exercises the
    decoder's realign path).  Standard Annex-K quant (quality-scaled) +
    typical Huffman tables, so output decodes in any JPEG consumer."""
    padded, ql, qc, mcux, mcuy = _prepare_components(
        w, h, ch, pixels, quality, subsampling
    )

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(
            b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body
        )

    # JFIF APP0
    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # DQT (zigzag order)
    for tq, tab in ([(0, ql)] if ch == 1 else [(0, ql), (1, qc)]):
        body = bytes([tq]) + bytes(
            int(tab.flat[ZIGZAG[i]]) for i in range(64)
        )
        seg(0xDB, body)
    # SOF0
    sof = struct.pack(">BHHB", 8, h, w, len(padded))
    for cid, chf, cvf, tq, _p in padded:
        sof += bytes([cid, (chf << 4) | cvf, tq])
    seg(0xC0, sof)
    # DHT
    for (tc, th), (bits, vals) in {
        (0, 0): (DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0): (AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1): (DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1): (AC_CHROMA_BITS, AC_CHROMA_VALS),
    }.items():
        if ch == 1 and th == 1:
            continue
        seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    # SOS
    sos = bytes([len(padded)])
    for cid, _chf, _cvf, tq, _p in padded:
        sos += bytes([cid, (tq << 4) | tq])  # table id == quant id here
    sos += b"\x00\x3f\x00"
    seg(0xDA, sos)

    tabs = _encode_tables()
    bw = _BitWriter()
    pred = {cid: 0 for cid, *_ in padded}
    for idx in range(mcux * mcuy):
        if restart_interval and idx and idx % restart_interval == 0:
            bw.flush()
            bw.out.extend(
                b"\xff" + bytes([0xD0 + (idx // restart_interval - 1) % 8])
            )
            pred = {cid: 0 for cid, *_ in padded}
        my, mx = divmod(idx, mcux)
        for cid, chf, cvf, tq, plane in padded:
            dc_tab, ac_tab = tabs[(0, tq)], tabs[(1, tq)]
            for by in range(cvf):
                for bx in range(chf):
                    y0 = (my * cvf + by) * 8
                    x0 = (mx * chf + bx) * 8
                    block = plane[y0 : y0 + 8, x0 : x0 + 8]
                    pred[cid] = _encode_block(
                        bw, block, ql if tq == 0 else qc,
                        dc_tab, ac_tab, pred[cid],
                    )
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)
