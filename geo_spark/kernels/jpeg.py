"""Pure-stdlib baseline JPEG decode/encode (numpy DCT, Python Huffman).

The second real codec behind the multimodal seam
(operators/multimodal.py) — a training-data pipeline hits JPEG before PNG,
so the decode plumbing is exercised with the format real corpora lead with.

Scope:
- decode: baseline sequential DCT (SOF0), 8-bit, 1 or 3 components, any
  sampling factors h,v ∈ {1,2} (4:4:4 / 4:2:2 / 4:2:0), restart intervals,
  multiple DQT/DHT segments. Progressive (SOF2) and arithmetic coding
  raise ValueError.
- encode: baseline sequential, 4:4:4, standard Annex-K quantization tables
  scaled by ``quality`` (libjpeg's scaling law) and the Annex-K Huffman
  tables. Grayscale (h,w) and RGB (h,w,3) uint8 inputs.

Determinism contract for oracles: an image whose every 8×8 block is a
CONSTANT value v (per channel) has only a DC coefficient (8·(v-128)); if
each block's DC is an exact multiple of the DC quant step, the
encode→decode round-trip is EXACT, so a DuckDB oracle can recompute
decoded statistics from the closed-form construction without a codec.

Performance note: the Huffman bit loop is Python — acceptable because
media decode runs executor-side over mapInPandas batches and the container
has no C codec; swap in PIL here when available (same seam as PNG).
"""

from __future__ import annotations

import struct

import numpy as np

# --- shared tables ----------------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIGZAG = np.argsort(ZIGZAG)

# ITU-T T.81 Annex K.1 — example luminance/chrominance quantization tables
QTAB_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QTAB_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 — typical Huffman tables: (bits[1..16], values)
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

# orthone DCT-II basis scaled to the JPEG definition: F = M·f·Mᵀ
_C = np.array([1.0 / np.sqrt(2.0)] + [1.0] * 7)
_DCT_M = np.array([
    [0.5 * _C[u] * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
    for u in range(8)
])


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 50 → Annex K, 100 → all-ones."""
    quality = min(100, max(1, int(quality)))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = (q * s + 50) // 100
    return np.clip(out, 1, 255)


# --- Huffman ---------------------------------------------------------------


def _canonical_codes(bits, values):
    """(value → (code, length)) from the 16-entry BITS list (T.81 C.2)."""
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """Canonical Huffman decode table: (length-indexed min/max code walk)."""

    def __init__(self, bits, values):
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            if bits[ln - 1] == 0:
                self.maxcode[ln] = -1
                code <<= 1
                continue
            self.valptr[ln] = k
            self.mincode[ln] = code
            code += bits[ln - 1]
            k += bits[ln - 1]
            self.maxcode[ln] = code - 1
            code <<= 1
        self.values = list(values)

    def decode(self, reader) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | reader.bit()
            if code <= self.maxcode[ln]:
                return self.values[self.valptr[ln] + code - self.mincode[ln]]
        raise ValueError("invalid Huffman code")


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy data")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker reached mid-read — treat as zero fill (T.81 F.2.2.5)
                    self.pos -= 1
                    b = 0
            self.buf = b
            self.nbits = 8
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self):
        self.nbits = 0

    def at_marker(self) -> int | None:
        """Return the marker byte if positioned at an 0xFFxx marker."""
        if self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt != 0x00:
                return nxt
        return None


def _extend(v: int, n: int) -> int:
    """T.81 F.2.2.1 EXTEND: map n-bit magnitude to signed value."""
    return v - (1 << n) + 1 if n and v < (1 << (n - 1)) else v


# --- decoder ---------------------------------------------------------------


def decode_jpeg(buf: bytes) -> np.ndarray:
    """JPEG bytes → (h, w) or (h, w, 3) uint8 array (baseline sequential)."""
    buf = bytes(buf)
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    restart_interval = 0
    frame = None
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        # code — skip them so the byte after the last 0xFF is the code
        while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
            pos += 1
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", buf[pos : pos + 2])
        seg = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                sp += 1
                if pq == 0:
                    tab = np.frombuffer(seg[sp : sp + 64], dtype=np.uint8).astype(np.int64)
                    sp += 64
                else:
                    tab = np.frombuffer(seg[sp : sp + 128], dtype=">u2").astype(np.int64)
                    sp += 128
                qtabs[tq] = tab
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0xF
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                values = list(seg[sp + 17 : sp + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffDecoder(bits, values)
                sp += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline(+ext seq)
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential JPEG supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = {}
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scan[cs] = (tt >> 4, tt & 0xF)
            data_start = pos + seglen
            return _decode_scan(
                buf, data_start, frame, scan, qtabs, huff_dc, huff_ac,
                restart_interval,
            )
        pos += seglen
    raise ValueError("no scan data found")


def _decode_scan(buf, pos, frame, scan, qtabs, huff_dc, huff_ac, restart_interval):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(np.zeros((ph, pw), dtype=np.float64))
    reader = _BitReader(buf, pos)
    preds = [0] * len(comps)
    mt = _DCT_M.T
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.align()
                mk = reader.at_marker()
                if mk is not None and 0xD0 <= mk <= 0xD7:
                    reader.pos += 2
                    preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                dct, act = scan[c["id"]]
                dch = huff_dc[dct]
                ach = huff_ac[act]
                q = qtabs[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        t = dch.decode(reader)
                        diff = _extend(reader.receive(t), t) if t else 0
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = ach.decode(reader)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index out of range")
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        block = (zz * q)[_UNZIGZAG].reshape(8, 8).astype(np.float64)
                        pix = mt @ block @ _DCT_M + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1
    # upsample to full resolution and crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- encoder ---------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) for a signed coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    n = a.bit_length()
    bits = v if v > 0 else v + (1 << n) - 1
    return n, bits


def _encode_blocks(plane: np.ndarray, q: np.ndarray, dc_codes, ac_codes, bw, pred):
    ph, pw = plane.shape
    # q arrives in NATURAL order (the Annex-K layout of QTAB_*); the DQT
    # writer reorders to zigzag at emission, so quantize directly
    qm = q.reshape(8, 8).astype(np.float64)
    for y0 in range(0, ph, 8):
        for x0 in range(0, pw, 8):
            block = plane[y0 : y0 + 8, x0 : x0 + 8] - 128.0
            coef = _DCT_M @ block @ _DCT_M.T
            zz = np.round(coef / qm).astype(np.int64).reshape(64)[ZIGZAG]
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            n, bits = _magnitude(diff)
            code, ln = dc_codes[n]
            bw.write(code, ln)
            if n:
                bw.write(bits, n)
            run = 0
            last = 63
            while last > 0 and zz[last] == 0:
                last -= 1
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                n, bits = _magnitude(v)
                code, ln = ac_codes[(run << 4) | n]
                bw.write(code, ln)
                bw.write(bits, n)
                run = 0
            if last < 63:
                code, ln = ac_codes[0x00]  # EOB
                bw.write(code, ln)
    return pred


def encode_jpeg(img: np.ndarray, quality: int = 75) -> bytes:
    """(h,w) or (h,w,3) uint8 → baseline JPEG bytes (4:4:4, Annex-K tables)."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nch = img.shape
    if nch not in (1, 3):
        raise ValueError("expected grayscale or RGB")
    f = img.astype(np.float64)
    if nch == 3:
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        chans = [y, cb, cr]
    else:
        chans = [f[:, :, 0]]
    qt = [_quality_scale(QTAB_LUMA, quality), _quality_scale(QTAB_CHROMA, quality)]

    # pad to 8×8 multiples by edge replication
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = []
    for c in chans:
        p = np.empty((ph, pw), dtype=np.float64)
        p[:h, :w] = c
        p[h:, :w] = c[-1:, :]
        p[:h, w:] = c[:, -1:]
        p[h:, w:] = c[-1, -1]
        padded.append(p)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in enumerate(qt[: (2 if nch == 3 else 1)]):
        # T.81 B.2.4.1: DQT bytes are in ZIGZAG order (byte z = the step
        # for zigzag position z = natural position ZIGZAG[z])
        out += (
            b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
            + bytes(int(q[ZIGZAG[z]]) for z in range(64))
        )
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nch, 8, h, w, nch)
    for c in range(nch):
        out += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    tables = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if nch == 3:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tid, (bits, values) in tables:
        out += b"\xff\xc4" + struct.pack(">H", 3 + 16 + len(values)) + bytes([tid])
        out += bytes(bits) + bytes(values)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nch, nch)
    for c in range(nch):
        out += bytes([c + 1, 0x00 if c == 0 else 0x11])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 AhAl=0

    dc_l = _canonical_codes(*_DC_LUMA)
    ac_l = _canonical_codes(*_AC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_c = _canonical_codes(*_AC_CHROMA)
    bw = _BitWriter()
    # 4:4:4 — every MCU is one 8×8 block per component, interleaved
    preds = [0] * nch
    for y0 in range(0, ph, 8):
        for x0 in range(0, pw, 8):
            for ci in range(nch):
                dc_codes = dc_l if ci == 0 else dc_c
                ac_codes = ac_l if ci == 0 else ac_c
                preds[ci] = _encode_blocks(
                    padded[ci][y0 : y0 + 8, x0 : x0 + 8],
                    qt[0] if ci == 0 else qt[1],
                    dc_codes, ac_codes, bw, preds[ci],
                )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
